"""ML data-contract queries (SURVEY.md §2.12): splits, encoding, label."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.operators import textops as tx
from equity_volatility_lakehouse_platform_spark.plans.fold import fold_dot, fold_self
from equity_volatility_lakehouse_platform_spark.plans.registry import register
from equity_volatility_lakehouse_platform_spark.sources.readers import load_table
from equity_volatility_lakehouse_platform_spark.functions.rounding import r6, r6s


@register(
    "ml01_temporal_splits",
    oracle="""
    SELECT split,
           CAST(count_if(o_orderdate <  TIMESTAMP '2000-01-01') AS BIGINT) AS n_train,
           CAST(count_if(o_orderdate >= TIMESTAMP '2000-01-01') AS BIGINT) AS n_test,
           CAST(min(EXTRACT(year FROM o_orderdate)) AS BIGINT)  AS first_year,
           CAST(max(EXTRACT(year FROM o_orderdate)) AS BIGINT)  AS last_year
    FROM (SELECT o_orderdate,
                 CASE WHEN EXTRACT(year FROM o_orderdate) <= 1997 THEN 'early'
                      ELSE 'late' END AS split
          FROM orders)
    GROUP BY split
    """,
)
def ml01_temporal_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temporal holdout + year-based split accounting (my_model.py:426-513):
    # pure date filters — never random row shuffles (leakage-safe).
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    split = F.when(F.year("o_orderdate") <= 1997, "early").otherwise("late")
    return (
        orders.select("o_orderdate", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count_if(F.col("o_orderdate") < cutoff).alias("n_train"),
            F.count_if(F.col("o_orderdate") >= cutoff).alias("n_test"),
            F.min(F.year("o_orderdate")).cast("long").alias("first_year"),
            F.max(F.year("o_orderdate")).cast("long").alias("last_year"),
        )
    )


@register(
    "ml02_onehot_label",
    oracle="""
    SELECT event_id,
           CAST(event_type = 'click'    AS INT) AS type_click,
           CAST(event_type = 'error'    AS INT) AS type_error,
           CAST(event_type = 'purchase' AS INT) AS type_purchase,
           CAST(event_type = 'signup'   AS INT) AS type_signup,
           CAST(event_type = 'view'     AS INT) AS type_view,
           CAST(value >= 150 AS INT)            AS label
    FROM events
    """,
)
def ml02_onehot_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-hot encoding with an explicit category list + threshold label
    # (my_model.py:50-57) — single map stage, stable schema.
    ev = load_table(spark, sf_dir, "events")
    cats = ["click", "error", "purchase", "signup", "view"]
    return ev.select(
        "event_id",
        *[(F.col("event_type") == c).cast("int").alias(f"type_{c}") for c in cats],
        (F.col("value") >= 150).cast("int").alias("label"),
    )


@register(
    "ml03_rolling_origin_splits",
    oracle="""
    WITH by_month AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS origin,
             CAST(count(*) AS BIGINT) AS n_test
      FROM orders GROUP BY 1
    )
    SELECT origin, n_test,
           CAST(COALESCE(SUM(n_test) OVER (ORDER BY origin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_train
    FROM by_month
    """,
)
def ml03_rolling_origin_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling-origin evaluation splits (my_model.py:446-482): for every
    # monthly origin, train = all history before it, test = that month.
    # One groupBy + one cumulative window — the split table is tiny (one
    # row per month) regardless of fact scale.
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    by_month = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("origin")
    ).agg(F.count(F.lit(1)).alias("n_test"))
    w = Window.orderBy("origin").rowsBetween(Window.unboundedPreceding, -1)
    return by_month.select(
        "origin",
        "n_test",
        F.coalesce(F.sum("n_test").over(w), F.lit(0)).alias("n_train"),
    )


@register(
    "ml04_median_impute",
    oracle="""
    WITH holey AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value
      FROM events
    ), med AS (
      SELECT median(value) AS m FROM holey
    )
    SELECT h.event_id,
           (ROUND(COALESCE(h.value, med.m), 6) + 0.0) AS value_imputed,
           CAST(h.value IS NULL AS INT) AS was_imputed
    FROM holey h CROSS JOIN med
    """,
)
def ml04_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Median imputation (my_model.py:63-66). The exact median reduces to a
    # single scalar (one aggregate), broadcast back over the facts — no
    # per-row subquery. A deterministic subset is nulled first so the
    # imputation path is actually exercised.
    ev = load_table(spark, sf_dir, "events")
    holey = ev.select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(None)).otherwise(F.col("value")).alias("value"),
    )
    med = holey.agg(F.median("value").alias("m"))
    return holey.crossJoin(F.broadcast(med)).select(
        "event_id",
        r6(F.coalesce("value", "m")).alias("value_imputed"),
        F.col("value").isNull().cast("int").alias("was_imputed"),
    )


# Per-stratum sampling rates for ml05 (lang -> keep probability), applied
# as integer thresholds on a 32-bit salted-md5 uniform so BOTH engines
# evaluate the identical keep/drop decision per row — reproducible,
# seedable (the salt), and cluster-deterministic (no RNG, no partition
# order dependence), which random sample()/TABLESAMPLE cannot promise.
_ML05_RATES = {"en": 0.5, "de": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.1}
_ML05_SALT = "s1"
_ML05_THRESHOLDS = {k: int(v * 2**32) for k, v in _ML05_RATES.items()}


@register(
    "ml05_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
    FROM (
      SELECT lang, doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_ML05_SALT}'), 1, 8))
                  AS BIGINT) AS u32
      FROM documents
    )
    WHERE u32 < CASE lang
        {" ".join(f"WHEN '{k}' THEN {t}" for k, t in _ML05_THRESHOLDS.items())}
        ELSE 0 END
    GROUP BY lang
    """,
)
def ml05_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stratified corpus sampling (training-data curation): keep each doc
    # iff its salted-md5 32-bit uniform falls under the stratum's
    # threshold. Map-only (no shuffle for the decision), exactly
    # reproducible across engines/cluster layouts, rerunnable with a new
    # salt for a fresh draw. Summarized per stratum with a doc_id sum so
    # the oracle pins the exact membership, not just the counts.
    docs = load_table(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_ML05_SALT}"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    threshold = F.create_map(
        *[F.lit(x) for kv in _ML05_THRESHOLDS.items() for x in kv]
    )[F.col("lang")]
    return (
        docs.select("lang", "doc_id", u32.alias("u32"))
        .filter(F.col("u32") < F.coalesce(threshold, F.lit(0)))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
    )


@register(
    "ml06_feature_hashing",
    # Hashing-trick featurization (the unbounded-vocabulary path a 100 TB
    # text pipeline uses instead of a fitted vocabulary): token ->
    # bucket = md5-u32 % 64, per-(doc, bucket) term frequency plus the
    # signed variant (sign from an independent md5 nibble) that debiases
    # collisions (Weinberger et al., ICML'09). Both engines evaluate the
    # identical salted-md5 arithmetic, so membership is exact -- no
    # engine-specific hash (xxhash/murmur) leaks into the contract.
    oracle=r"""
    WITH ex AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
             CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT) % 2 * 2 - 1 AS sgn
      FROM ex
    )
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(sum(sgn) AS BIGINT) AS signed_tf
    FROM h GROUP BY doc_id, bucket
    """,
)
def ml06_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode -> map-side hash -> one groupBy on (doc_id, bucket) with
    # partial aggregation; output is the sparse COO form (doc, bucket, tf)
    # that feeds array assembly or a trainer without ever densifying.
    docs = load_table(spark, sf_dir, "documents")
    tok_md5 = F.md5(F.col("tok"))
    bucket = (
        F.conv(F.substring(tok_md5, 1, 8), 16, 10).cast("bigint") % 64
    ).cast("int")
    sgn = F.conv(F.substring(tok_md5, 9, 1), 16, 10).cast("bigint") % 2 * 2 - 1
    return (
        docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"), F.sum("sgn").alias("signed_tf"))
    )


_ML07_SALT = "split1"
_ML07_TRAIN_T = int(0.8 * 2**32)   # 3435973836
_ML07_VAL_T = int(0.9 * 2**32)     # 3865470566


@register(
    "ml07_leakage_safe_split",
    oracle=None,  # set below — needs dedup's signature CTE
)
def ml07_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Leakage-safe train/val/test split: the assignment hash is computed
    # on the NEAR-DUP CLUSTER REPRESENTATIVE (d07's min-label connected
    # component, singleton docs represent themselves), so every member of
    # a near-duplicate cluster lands in the SAME split — the train/test
    # contamination guard a 100 TB pretraining pipeline needs (a plain
    # per-doc hash split leaks paraphrases across splits). The
    # n_cross_split_edges column audits the guarantee: near-dup edges
    # whose endpoints straddle splits — ZERO by construction, verified by
    # the oracle's recursive-CTE recomputation. Scale shape: one CC over
    # LSH edges (d07), one broadcast-able singleton-row audit join; the
    # hash split itself is a zero-shuffle map stage (ml05's salted-md5
    # device on rep_id).
    from equity_volatility_lakehouse_platform_spark.operators.graph import (
        connected_components,
    )
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d03_minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = d03_minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= 0.5
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    rep = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(rep.cast("string"), F.lit(f":{_ML07_SALT}"))), 1, 8
        ),
        16, 10,
    ).cast("bigint")
    split = (
        F.when(u32 < _ML07_TRAIN_T, "train")
        .when(u32 < _ML07_VAL_T, "val")
        .otherwise("test")
    )
    assigned = docs.join(comps, "doc_id", "left").select(
        "doc_id", split.alias("split")
    )
    a = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    b = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    audit = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).alias("n_cross_split_edges"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .crossJoin(F.broadcast(audit))
    )


def _ml07_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        _BANDS_SQL,
        _SIG_SQL,
    )

    return _SIG_SQL.replace("WITH toks", "WITH RECURSIVE toks") + _BANDS_SQL + f"""
    , scored AS (
      SELECT c.doc_a, c.doc_b, (len(list_filter(range(1, len(sa.mh) + 1), i -> sa.mh[i] = sb.mh[i])) / (len(sa.mh) + 0.0)) AS est
      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                  JOIN sig sb ON c.doc_b = sb.doc_id
    ), dedges AS (
      SELECT doc_a, doc_b FROM scored WHERE est >= 0.5
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM dedges
      UNION ALL SELECT doc_b, doc_a FROM dedges
    ), nodes AS (SELECT DISTINCT s AS id FROM edges
    ), reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    ), clusters AS (
      SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id
    ), assign AS (
      SELECT d.doc_id,
             CASE WHEN u32 < {_ML07_TRAIN_T} THEN 'train'
                  WHEN u32 < {_ML07_VAL_T} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT d.doc_id,
               CAST(('0x' || substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)
                                        || ':{_ML07_SALT}'), 1, 8)) AS BIGINT) AS u32
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
      ) d
    ), audit AS (
      SELECT count(*) AS n_cross_split_edges
      FROM dedges e JOIN assign a ON a.doc_id = e.doc_a
                    JOIN assign b ON b.doc_id = e.doc_b
      WHERE a.split != b.split
    )
    SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.doc_id) AS BIGINT) AS doc_id_sum,
           (SELECT CAST(n_cross_split_edges AS BIGINT) FROM audit) AS n_cross_split_edges
    FROM assign s GROUP BY s.split
    """


from equity_volatility_lakehouse_platform_spark.plans import registry as _reg  # noqa: E402

_reg.set_oracle("ml07_leakage_safe_split", _ml07_oracle())


@register(
    "ml08_oof_target_encoding",
    # Money sums ride the q1 device (trunc(x*100+0.5) == round for the
    # positive exactly-2dp generator values; see plans/relational.py q1),
    # so both engines divide the SAME exact integer by the SAME exact
    # integer — one correctly-rounded double division, no drift, no
    # rounding column needed.
    oracle="""
    WITH per AS (
      SELECT o_orderpriority,
             CAST(o_orderkey % 5 AS BIGINT) AS fold,
             CAST(count(*) AS BIGINT) AS n_rows,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, fold, n_rows,
           CAST(SUM(cents) OVER (PARTITION BY o_orderpriority) - cents AS DOUBLE)
             / (100.0 * (SUM(n_rows) OVER (PARTITION BY o_orderpriority) - n_rows))
             AS oof_mean_price
    FROM per
    """,
)
def ml08_oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Out-of-fold target encoding (the leakage-safe categorical encoder a
    # training pipeline fits per fold; reference my_model.py encodes
    # driver-side with sklearn — §2.12): each (category, fold) cell gets
    # the target mean over the category's OTHER folds, so a row never
    # sees its own fold's labels. Scale shape: ONE groupBy shuffle to the
    # (category, fold) grain — cardinality |cats| x |folds|, tiny at any
    # data scale — then a window over that grain; the per-row encode step
    # at 100 TB is a broadcast map-side join of this table back to the
    # fact rows (zero extra shuffle). Target sums are exact cents longs
    # (q1's device), so the OOF mean is one exact-integer double divide.
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice") * 100 + 0.5).cast("long")
    per = orders.groupBy(
        "o_orderpriority", (F.col("o_orderkey") % 5).alias("fold")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("_cents"),
    )
    w = Window.partitionBy("o_orderpriority")
    oof_mean = (F.sum("_cents").over(w) - F.col("_cents")).cast("double") / (
        (F.sum("n_rows").over(w) - F.col("n_rows")) * 100.0
    )
    return per.select(
        "o_orderpriority", "fold", "n_rows", oof_mean.alias("oof_mean_price")
    )


@register(
    "ml09_standard_scaler",
    # Fit-and-transform in one query: per-feature mean/std from the
    # training split (even keys) applied to EVERY row — the train/serve
    # skew guard is that the fit never sees the odd-key "serving" rows.
    # Both engines compute the identical (x - mu) / sigma from the same
    # aggregate doubles; r6s absorbs the sum-order drift in mu/sigma.
    oracle="""
    WITH fit AS (
      SELECT AVG(l_quantity) AS mu_q, stddev_samp(l_quantity) AS sd_q,
             AVG(l_extendedprice) AS mu_p, stddev_samp(l_extendedprice) AS sd_p
      FROM lineitem WHERE l_orderkey % 2 = 0
    )
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_orderkey % 2 = 0 AS INTEGER) AS in_fit,
           (ROUND(((l.l_quantity - f.mu_q) / NULLIF(f.sd_q, 0))
                  - sign((l.l_quantity - f.mu_q) / NULLIF(f.sd_q, 0))
                    * 0.000000001, 6) + 0.0) AS quantity_z,
           (ROUND(((l.l_extendedprice - f.mu_p) / NULLIF(f.sd_p, 0))
                  - sign((l.l_extendedprice - f.mu_p) / NULLIF(f.sd_p, 0))
                    * 0.000000001, 6) + 0.0) AS price_z
    FROM lineitem l, fit f
    """,
)
def ml09_standard_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fitted stats are ONE broadcast row; the transform is a pure
    # map stage over the fact table — zero shuffle beyond the fit
    # aggregation at any scale.
    li = load_table(spark, sf_dir, "lineitem")
    fit = li.filter(F.col("l_orderkey") % 2 == 0).agg(
        F.avg("l_quantity").alias("mu_q"),
        F.stddev_samp("l_quantity").alias("sd_q"),
        F.avg("l_extendedprice").alias("mu_p"),
        F.stddev_samp("l_extendedprice").alias("sd_p"),
    )
    raw = li.crossJoin(F.broadcast(fit)).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") % 2 == 0).cast("int").alias("in_fit"),
        ((F.col("l_quantity") - F.col("mu_q")) / F.nullif(F.col("sd_q"), F.lit(0.0))).alias("quantity_z"),
        ((F.col("l_extendedprice") - F.col("mu_p")) / F.nullif(F.col("sd_p"), F.lit(0.0))).alias("price_z"),
    )
    return raw.select(
        "l_orderkey",
        "l_linenumber",
        "in_fit",
        r6s("quantity_z").alias("quantity_z"),
        r6s("price_z").alias("price_z"),
    )


@register(
    "ml10_quantile_binning",
    # NTILE-based discretizer "fit": rank-exact quartile assignment
    # (deterministic via the event_id tiebreak — both engines must give
    # tied values the same bin), reduced to per-bin edge stats the way a
    # fitted binner is persisted. NTILE beats percentile-cut here
    # because its tie handling is rank-defined, not interpolation-
    # defined, so the engines cannot disagree on boundary rows.
    oracle="""
    WITH b AS (
      SELECT user_id, value,
             ntile(4) OVER (PARTITION BY user_id
                            ORDER BY value, event_id) AS bin
      FROM events
    )
    SELECT user_id, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(min(value), 6) + 0.0) AS lo,
           (ROUND(max(value), 6) + 0.0) AS hi
    FROM b
    GROUP BY user_id, bin
    """,
)
def ml10_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-user quartile bin edges: ONE shuffle on user_id serves the
    # ntile window sort, then the edge roll-up is map-side (already
    # partitioned by the groupBy's leading key). At 100 TB the window
    # partitions by user (millions of keys, even spread); a global
    # (non-partitioned) ntile would funnel through one task and is
    # exactly what this per-key shape avoids.
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bin_ = F.ntile(4).over(
        Window.partitionBy("user_id").orderBy("value", "event_id")
    )
    b = ev.select("user_id", "value", bin_.cast("bigint").alias("bin"))
    return b.groupBy("user_id", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.min("value")).alias("lo"),
        r6(F.max("value")).alias("hi"),
    )


@register(
    "ml11_psi_drift",
    # Population-stability-index drift check between the temporal train
    # window (first 20 days) and the serving tail: 10 equal-width bins
    # over the GLOBAL value range, Laplace-smoothed shares (+0.5 / +5)
    # so empty bins contribute finite PSI instead of ln(0). Identical
    # double arithmetic on both engines; PSI terms round at 6dp.
    oracle="""
    WITH mm AS (
      SELECT min(value) AS vmin, max(value) AS vmax FROM events
    ), binned AS (
      SELECT LEAST(CAST(FLOOR((value - vmin) / NULLIF(vmax - vmin, 0.0)
                              * 10.0) AS BIGINT), 9) AS bin,
             CAST(ts < TIMESTAMP '2024-01-21 00:00:00' AS INTEGER) AS is_train
      FROM events CROSS JOIN mm
    ), counts AS (
      SELECT bin,
             CAST(SUM(is_train) AS BIGINT) AS n_train,
             CAST(SUM(1 - is_train) AS BIGINT) AS n_test
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(n_train) AS t_train, SUM(n_test) AS t_test FROM counts
    )
    SELECT bin, n_train, n_test,
           (ROUND((n_train + 0.5) / (t_train + 5.0), 6) + 0.0) AS p_train,
           (ROUND((n_test + 0.5) / (t_test + 5.0), 6) + 0.0) AS p_test,
           (ROUND(((n_train + 0.5) / (t_train + 5.0)
                   - (n_test + 0.5) / (t_test + 5.0))
                  * ln(((n_train + 0.5) / (t_train + 5.0))
                       / ((n_test + 0.5) / (t_test + 5.0))), 6) + 0.0)
             AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def ml11_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Train/serving skew detection — the per-feature drift audit an ML
    # pipeline runs before every retrain. The global range is a one-row
    # broadcast; binning + the train/test conditional counts are ONE
    # map-side-combined groupBy on a 10-value key; the totals re-enter
    # as a second one-row broadcast. Nothing scales with data except the
    # two scans' partial aggregates.
    ev = load_table(spark, sf_dir, "events")
    mm = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    cutoff = F.lit("2024-01-21 00:00:00").cast("timestamp")
    binned = ev.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("vmin"))
                / F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0))
                * F.lit(10.0)
            ).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        (F.col("ts") < cutoff).cast("int").alias("is_train"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("is_train").cast("bigint").alias("n_train"),
        F.sum(1 - F.col("is_train")).cast("bigint").alias("n_test"),
    )
    tot = counts.agg(
        F.sum("n_train").alias("t_train"), F.sum("n_test").alias("t_test")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p_train = (F.col("n_train") + 0.5) / (F.col("t_train") + 5.0)
    p_test = (F.col("n_test") + 0.5) / (F.col("t_test") + 5.0)
    staged = j.select(
        "bin", "n_train", "n_test",
        p_train.alias("_p_train"), p_test.alias("_p_test"),
    )
    return staged.select(
        "bin", "n_train", "n_test",
        r6("_p_train").alias("p_train"),
        r6("_p_test").alias("p_test"),
        r6(
            (F.col("_p_train") - F.col("_p_test"))
            * F.log(F.col("_p_train") / F.col("_p_test"))
        ).alias("psi_term"),
    )


_ML16_SALT = "mix1"


@register(
    "ml16_domain_rebalance",
    # Training-mixture rebalancing (the "data mixing" step every corpus
    # assembly runs before tokenization): downsample each source domain
    # to the RAREST domain's expected size, so the mixture is uniform
    # over sources in expectation. Thresholds are DATA-DERIVED (unlike
    # ml05's fixed strata): one tiny per-source count aggregate
    # broadcasts back, and the keep decision is the salted-md5 u32
    # against floor(2^32 * min_n / n_src) — map-only over the corpus,
    # exactly reproducible across engines and cluster layouts, and the
    # doc_id sum pins the exact kept membership. At 100 TB: the count
    # agg shuffles |sources| rows; the corpus itself never shuffles.
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ), m AS (
      SELECT min(n_docs) AS min_n FROM c
    ), k AS (
      SELECT d.source, d.doc_id
      FROM documents d
      JOIN c ON d.source = c.source
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':{_ML16_SALT}'), 1, 8))
                 AS BIGINT)
            < CAST(floor(4294967296.0 * (SELECT min_n FROM m) / c.n_docs) AS BIGINT)
    )
    SELECT k.source,
           c.n_docs,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(k.doc_id) AS BIGINT) AS kept_doc_id_sum
    FROM k JOIN c ON k.source = c.source
    GROUP BY k.source, c.n_docs
    """,
)
def ml16_domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    min_n = counts.agg(F.min("n_docs").alias("min_n"))
    thr = counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        "n_docs",
        F.floor(F.lit(4294967296.0) * F.col("min_n") / F.col("n_docs"))
        .cast("bigint")
        .alias("thr"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_ML16_SALT}"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    return (
        docs.select("source", "doc_id", u32.alias("u32"))
        .join(F.broadcast(thr), "source")
        .filter(F.col("u32") < F.col("thr"))
        .groupBy("source", "n_docs")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_doc_id_sum"),
        )
        .select("source", "n_docs", "n_kept", "kept_doc_id_sum")
    )


@register(
    "ml18_random_projection",
    # Johnson-Lindenstrauss random projection (64 -> 8 dims) — the
    # standard cheap dimensionality reduction run before clustering /
    # ANN indexing when the native embedding is wide. The projection
    # matrix is DETERMINISTIC pseudo-random (r_j[i] = sin(i * (100 + j)),
    # the sim02 hyperplane device with an offset family so it shares no
    # plane with the LSH queries) — reproducible in any engine with no
    # shared RNG. Each output dim is one ordered left-fold dot product
    # (zip_with/aggregate == list_dot_product), so the projections are
    # bit-identical cross-engine; norm_ratio audits the JL property
    # (projected norm * sqrt(d/k) over original norm ~= 1) per vector.
    # Map-only: zero shuffle at any corpus size.
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), p AS (
      SELECT vec_id, v,
             [list_dot_product(v, list_transform(range(1, 65),
                  i -> sin(i * (100.0 + j)))) FOR j IN range(1, 9)] AS y
      FROM e
    )
    SELECT vec_id,
    """
    + ",\n".join(
        f"""       (ROUND(y[{j}] - sign(y[{j}]) * 0.000000001, 6) + 0.0)
             AS y{j}"""
        for j in range(1, 9)
    )
    + """,
           (ROUND(sqrt(list_dot_product(y, y) * 8.0)
                    / NULLIF(sqrt(list_dot_product(v, v)), 0)
                  - sign(sqrt(list_dot_product(y, y) * 8.0)
                         / NULLIF(sqrt(list_dot_product(v, v)), 0))
                    * 0.000000001, 6) + 0.0) AS norm_ratio
    FROM p
    """,
)
def ml18_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.plans.similarity import _emb

    emb = _emb(spark, sf_dir)

    # Arrow-batched kernel (round-9 spot fix, two iterations deep): the
    # first cut's transform+aggregate HOF folds ran INTERPRETED (the
    # SCALE.md gotcha; 41.8x wall at 100x data for a map-only plan), and
    # unrolling 8 x 64-term expression chains blew past HugeMethodLimit
    # so codegen silently fell back to interpretation too (12.8x). The
    # projection is a genuinely NUMERIC kernel — exactly the ivf_assign/
    # pq_encode situation — so it takes the same recipe: the 8 x 64
    # sin-weight matrix is evaluated ONCE on the JVM (F.sin over
    # literals — the identical Math.sin doubles the oracle was verified
    # against), closed over, and each Arrow batch projects and takes
    # norms with fold.fold_dot / fold.fold_self — vectorized across rows
    # with the per-row add sequence of list_dot_product's left fold.
    # np.sqrt and the final division are single correctly-rounded IEEE
    # ops on both engines.
    wrow = (
        spark.range(1)
        .select(
            *[
                F.array(
                    *[
                        F.sin(F.lit(float(i) * (100 + j)))
                        for i in range(1, 65)
                    ]
                ).alias(f"w{j}")
                for j in range(1, 9)
            ]
        )
        .first()
    )
    w_mat = [list(wrow[f"w{j}"]) for j in range(1, 9)]

    def _project(batches):
        import numpy as np
        import pandas as pd

        W = np.array(w_mat)  # (8, 64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())  # (n, 64)
            Y = fold_dot(V, W)  # (n, 8)
            den = np.sqrt(fold_self(V))
            with np.errstate(divide="ignore", invalid="ignore"):
                ratio = np.where(
                    den == 0.0, np.nan, np.sqrt(fold_self(Y) * 8.0) / den
                )
            out = {"vec_id": pdf["vec_id"]}
            for j in range(len(W)):
                out[f"y{j + 1}"] = Y[:, j]
            out["norm_ratio"] = ratio
            yield pd.DataFrame(out)

    schema = (
        "vec_id bigint, "
        + ", ".join(f"y{j} double" for j in range(1, 9))
        + ", norm_ratio double"
    )
    raw = emb.select("vec_id", "v").mapInPandas(_project, schema)
    nr = F.when(F.isnan("norm_ratio"), F.lit(None)).otherwise(
        F.col("norm_ratio")
    )
    return raw.select(
        "vec_id",
        *[r6s(f"y{j}").alias(f"y{j}") for j in range(1, 9)],
        r6s(nr).alias("norm_ratio"),
    )


@register(
    "ml19_purged_kfold",
    # PURGED k-fold with embargo (Lopez de Prado, "Advances in
    # Financial ML" ch.7) — the CV every financial-ML eval needs and
    # random k-fold gets wrong: test folds are CONTIGUOUS day blocks
    # (no look-ahead leakage through shuffled days), and train excludes
    # an EMBARGO of E days around each test block so features whose
    # windows span the boundary (every w-family feature) cannot leak
    # test information into train. Complements ml03's rolling-origin
    # splits (walk-forward) with the rotation structure, and ml07's
    # near-dup-cluster split (identity leakage) with temporal leakage
    # control. ALL integer day-index arithmetic — fold membership,
    # block bounds, embargo bands, and the di-sum membership pins are
    # exact on both engines; the tiny day table broadcasts everywhere.
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ), idx AS (
      SELECT day, row_number() OVER (ORDER BY day) AS di,
             count(*) OVER () AS n
      FROM days
    ), folds AS (
      SELECT unnest(range(5)) AS f
    ), cls AS (
      SELECT f.f, i.di,
             ((i.di - 1) * 5) // i.n = f.f AS is_test,
             (f.f * i.n + 4) // 5 + 1 AS lo,
             ((f.f + 1) * i.n + 4) // 5 AS hi
      FROM idx i CROSS JOIN folds f
    ), lab AS (
      SELECT f, di,
             CASE WHEN is_test THEN 'test'
                  WHEN di >= lo - 3 AND di < lo THEN 'embargo'
                  WHEN di > hi AND di <= hi + 3 THEN 'embargo'
                  ELSE 'train' END AS cls
      FROM cls
    )
    SELECT CAST(f AS BIGINT) AS fold,
           CAST(count_if(cls = 'test') AS BIGINT)    AS n_test,
           CAST(count_if(cls = 'embargo') AS BIGINT) AS n_embargo,
           CAST(count_if(cls = 'train') AS BIGINT)   AS n_train,
           CAST(sum(CASE WHEN cls = 'test' THEN di END) AS BIGINT)
             AS test_di_sum,
           CAST(sum(CASE WHEN cls = 'train' THEN di END) AS BIGINT)
             AS train_di_sum
    FROM lab GROUP BY f
    """,
)
def ml19_purged_kfold(
    spark: SparkSession, sf_dir: str, k: int = 5, embargo: int = 3
) -> DataFrame:
    from pyspark.sql import Window

    days = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    w = Window.orderBy("day")
    idx = days.select(
        "day",
        F.row_number().over(w).alias("di"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n"),
    )
    folds = spark.range(k).select(F.col("id").alias("f"))
    cls = idx.crossJoin(F.broadcast(folds)).select(
        "f", "di",
        (((F.col("di") - 1) * k).cast("long") / F.col("n")).cast("long")
        .alias("_blk"),
        F.expr(f"(f * n + {k - 1}) div {k} + 1").alias("lo"),
        F.expr(f"((f + 1) * n + {k - 1}) div {k}").alias("hi"),
    ).select(
        "f", "di", "lo", "hi", (F.col("_blk") == F.col("f")).alias("is_test")
    )
    lab = cls.select(
        "f", "di",
        F.when(F.col("is_test"), "test")
        .when(
            (F.col("di") >= F.col("lo") - embargo) & (F.col("di") < F.col("lo")),
            "embargo",
        )
        .when(
            (F.col("di") > F.col("hi")) & (F.col("di") <= F.col("hi") + embargo),
            "embargo",
        )
        .otherwise("train")
        .alias("cls"),
    )
    return lab.groupBy(F.col("f").cast("bigint").alias("fold")).agg(
        F.count_if(F.col("cls") == "test").alias("n_test"),
        F.count_if(F.col("cls") == "embargo").alias("n_embargo"),
        F.count_if(F.col("cls") == "train").alias("n_train"),
        F.sum(F.when(F.col("cls") == "test", F.col("di")))
        .cast("bigint")
        .alias("test_di_sum"),
        F.sum(F.when(F.col("cls") == "train", F.col("di")))
        .cast("bigint")
        .alias("train_di_sum"),
    )


@register(
    "ml20_mutual_information",
    # Feature screening by mutual information + chi-square — the
    # filter-method feature selection every ML-prep pipeline runs
    # before training: each of the first 8 embedding dimensions is
    # binarized by sign and scored against the label (>= 5), from a
    # 2x2 CONTINGENCY TABLE whose cells are exact integer counts (one
    # explode + one groupBy; no float accumulation anywhere). MI and
    # chi2 then evaluate over the four integer cells in a FIXED term
    # order (00, 01, 10, 11) with identical expression shapes on both
    # engines — ln and division over identical doubles — so the scores
    # are bit-exact before the nudged round. One shuffle keyed on the
    # 8 feature indices.
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST(label >= 5 AS INTEGER) AS y
      FROM embeddings
    ), cells AS (
      SELECT i.i,
             count_if(e.v[i.i] <  0 AND y = 0) AS c00,
             count_if(e.v[i.i] <  0 AND y = 1) AS c01,
             count_if(e.v[i.i] >= 0 AND y = 0) AS c10,
             count_if(e.v[i.i] >= 0 AND y = 1) AS c11
      FROM e CROSS JOIN (SELECT unnest(range(1, 9)) AS i) i
      GROUP BY i.i
    ), t AS (
      SELECT i, c00, c01, c10, c11,
             c00 + c01 + c10 + c11 AS n,
             c00 + c01 AS b0, c10 + c11 AS b1,
             c00 + c10 AS y0, c01 + c11 AS y1
      FROM cells
    ), s AS (
      SELECT i, n, c00, c01, c10, c11,
             (CASE WHEN c00 > 0 THEN (c00 * 1.0 / n)
                 * ln(c00 * n * 1.0 / (b0 * y0)) ELSE 0 END)
           + (CASE WHEN c01 > 0 THEN (c01 * 1.0 / n)
                 * ln(c01 * n * 1.0 / (b0 * y1)) ELSE 0 END)
           + (CASE WHEN c10 > 0 THEN (c10 * 1.0 / n)
                 * ln(c10 * n * 1.0 / (b1 * y0)) ELSE 0 END)
           + (CASE WHEN c11 > 0 THEN (c11 * 1.0 / n)
                 * ln(c11 * n * 1.0 / (b1 * y1)) ELSE 0 END) AS mi,
             (CASE WHEN b0 * y0 > 0 THEN
                 (c00 - b0 * y0 * 1.0 / n) * (c00 - b0 * y0 * 1.0 / n)
                   / (b0 * y0 * 1.0 / n) ELSE 0 END)
           + (CASE WHEN b0 * y1 > 0 THEN
                 (c01 - b0 * y1 * 1.0 / n) * (c01 - b0 * y1 * 1.0 / n)
                   / (b0 * y1 * 1.0 / n) ELSE 0 END)
           + (CASE WHEN b1 * y0 > 0 THEN
                 (c10 - b1 * y0 * 1.0 / n) * (c10 - b1 * y0 * 1.0 / n)
                   / (b1 * y0 * 1.0 / n) ELSE 0 END)
           + (CASE WHEN b1 * y1 > 0 THEN
                 (c11 - b1 * y1 * 1.0 / n) * (c11 - b1 * y1 * 1.0 / n)
                   / (b1 * y1 * 1.0 / n) ELSE 0 END) AS chi2
      FROM t
    )
    SELECT CAST(i AS BIGINT) AS feature_idx,
           CAST(n AS BIGINT) AS n,
           CAST(c00 AS BIGINT) AS c00, CAST(c01 AS BIGINT) AS c01,
           CAST(c10 AS BIGINT) AS c10, CAST(c11 AS BIGINT) AS c11,
           (ROUND(mi - sign(mi) * 0.000000001, 6) + 0.0) AS mutual_info,
           (ROUND(chi2 - sign(chi2) * 0.000000001, 6) + 0.0) AS chi_square
    FROM s
    """,
)
def ml20_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.plans.similarity import _emb

    e = _emb(spark, sf_dir).select(
        "v", (F.col("label") >= 5).cast("int").alias("y")
    )
    ex = e.select(
        "y", F.posexplode(F.slice("v", 1, 8)).alias("pos", "x")
    ).select((F.col("pos") + 1).alias("i"), "y", "x")
    cells = ex.groupBy("i").agg(
        F.count_if((F.col("x") < 0) & (F.col("y") == 0)).alias("c00"),
        F.count_if((F.col("x") < 0) & (F.col("y") == 1)).alias("c01"),
        F.count_if((F.col("x") >= 0) & (F.col("y") == 0)).alias("c10"),
        F.count_if((F.col("x") >= 0) & (F.col("y") == 1)).alias("c11"),
    )
    t = cells.select(
        "i", "c00", "c01", "c10", "c11",
        (F.col("c00") + F.col("c01") + F.col("c10") + F.col("c11")).alias("n"),
        (F.col("c00") + F.col("c01")).alias("b0"),
        (F.col("c10") + F.col("c11")).alias("b1"),
        (F.col("c00") + F.col("c10")).alias("y0"),
        (F.col("c01") + F.col("c11")).alias("y1"),
    )

    def mi_term(c, b, yy):
        return F.when(
            F.col(c) > 0,
            (F.col(c) * 1.0 / F.col("n"))
            * F.log(F.col(c) * F.col("n") * 1.0 / (F.col(b) * F.col(yy))),
        ).otherwise(F.lit(0.0))

    def chi_term(c, b, yy):
        e_ = F.col(b) * F.col(yy) * 1.0 / F.col("n")
        return F.when(
            F.col(b) * F.col(yy) > 0,
            (F.col(c) - e_) * (F.col(c) - e_) / e_,
        ).otherwise(F.lit(0.0))

    s = t.select(
        "i", "n", "c00", "c01", "c10", "c11",
        (
            mi_term("c00", "b0", "y0") + mi_term("c01", "b0", "y1")
            + mi_term("c10", "b1", "y0") + mi_term("c11", "b1", "y1")
        ).alias("mi"),
        (
            chi_term("c00", "b0", "y0") + chi_term("c01", "b0", "y1")
            + chi_term("c10", "b1", "y0") + chi_term("c11", "b1", "y1")
        ).alias("chi2"),
    )
    return s.select(
        F.col("i").cast("bigint").alias("feature_idx"),
        F.col("n").cast("bigint").alias("n"),
        F.col("c00").cast("bigint").alias("c00"),
        F.col("c01").cast("bigint").alias("c01"),
        F.col("c10").cast("bigint").alias("c10"),
        F.col("c11").cast("bigint").alias("c11"),
        r6s("mi").alias("mutual_info"),
        r6s("chi2").alias("chi_square"),
    )


@register(
    "ml21_target_encoding",
    # Leakage-safe target encoding (round 10) — the categorical feature
    # every tabular pipeline derives and every naive implementation
    # LEAKS: the per-category target mean must exclude the row's own
    # target. Two standard schemes side by side over the events table
    # (category = event_type, target = value): LEAVE-ONE-OUT
    # enc = (sum_cat - own) / (n_cat - 1), and OUT-OF-FOLD (5 folds by
    # user_id % 5) enc = mean over the OTHER folds' rows
    # = (sum_cat - sum_fold_cat) / (n_cat - n_fold_cat). Both are exact
    # algebra over two aggregates — one tiny (category) and one
    # (category x fold) roll-up broadcast back onto the stream — so at
    # 100 TB this is a map stage plus two small-key aggregations; the
    # raw stream shuffles zero times. Ratios are NULL for singleton
    # denominators (the honest encoding for an unseen-at-train row) and
    # take the nudged round.
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, user_id % 5 AS fold, value
      FROM events
    ), cat AS (
      SELECT event_type, sum(value) AS s, count(*) AS n
      FROM e GROUP BY event_type
    ), cf AS (
      SELECT event_type, fold, sum(value) AS sf, count(*) AS nf
      FROM e GROUP BY event_type, fold
    ), enc AS (
      SELECT e.event_id, e.event_type, CAST(e.fold AS BIGINT) AS fold,
             (c.s - e.value) / NULLIF(c.n - 1, 0) AS loo,
             (c.s - f.sf) / NULLIF(c.n - f.nf, 0) AS oof
      FROM e
      JOIN cat c ON c.event_type = e.event_type
      JOIN cf f ON f.event_type = e.event_type AND f.fold = e.fold
    )
    SELECT event_id, event_type, fold,
           (ROUND(loo - sign(loo) * 0.000000001, 6) + 0.0) AS loo_enc,
           (ROUND(oof - sign(oof) * 0.000000001, 6) + 0.0) AS oof_enc
    FROM enc
    """,
)
def ml21_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", (F.col("user_id") % 5).alias("fold"),
        "value",
    )
    cat = e.groupBy("event_type").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cf = e.groupBy("event_type", "fold").agg(
        F.sum("value").alias("sf"), F.count(F.lit(1)).alias("nf")
    )
    enc = (
        e.join(F.broadcast(cat), "event_type")
        .join(F.broadcast(cf), ["event_type", "fold"])
        .select(
            "event_id", "event_type",
            F.col("fold").cast("bigint").alias("fold"),
            ((F.col("s") - F.col("value"))
             / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
             ).alias("loo"),
            ((F.col("s") - F.col("sf"))
             / F.nullif((F.col("n") - F.col("nf")).cast("double"),
                        F.lit(0.0))
             ).alias("oof"),
        )
    )
    return enc.select(
        "event_id", "event_type", "fold",
        r6s("loo").alias("loo_enc"),
        r6s("oof").alias("oof_enc"),
    )


@register(
    "ml22_pr_auc",
    # Average precision / PR-AUC (round 11) — the imbalanced-class
    # complement to ml14's ROC AUC (a retrieval eval cares about
    # precision at the top of the ranking, which ROC hides when
    # negatives dominate): AP = (1/n_pos) * sum over positive ranks k
    # of precision@k = tp_k / k, on the deterministic (score DESC,
    # vec_id) ranking both engines share. tp_k/k are identical doubles
    # per rank; their sum runs as an ORDERED fold over ranks, so the
    # only inexactness is the final nudged round. One global sort (AP
    # is global by definition — at 100 TB, per-slice APs or a sampled
    # global, exactly like ml14), one cumulative window, one single-row
    # reduction.
    oracle="""
    WITH s AS (
      SELECT vec_id, v[1] AS score, CAST(label >= 5 AS INTEGER) AS y
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings)
    ), r AS (
      SELECT y,
             row_number() OVER (ORDER BY score DESC, vec_id) AS rn,
             SUM(y) OVER (ORDER BY score DESC, vec_id
                          ROWS UNBOUNDED PRECEDING) AS tp
      FROM s
    ), agg AS (
      SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(1 - y) AS BIGINT) AS n_neg,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list(tp * 1.0 / rn ORDER BY rn) FILTER (WHERE y = 1)),
               (acc, val) -> acc + val) / SUM(y) AS ap
      FROM r
    )
    SELECT n_pos, n_neg,
           (ROUND(ap - sign(ap) * 0.000000001, 6) + 0.0)
             AS average_precision
    FROM agg
    """,
)
def ml22_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _emb,
        _ordered_fold,
    )

    emb = _emb(spark, sf_dir)
    s = emb.select(
        "vec_id",
        F.get(F.col("v"), 0).alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    w = Window.orderBy(F.desc("score"), "vec_id")
    ranked = s.select(
        "y",
        F.row_number().over(w).alias("rn"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("tp"),
    )
    # collect_list skips NULLs, so the when(...) keeps only the
    # positive ranks' precision terms — mirrored by the oracle's agg
    # FILTER clause.
    agg = ranked.agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("y") == 1,
                    F.struct(
                        "rn", (F.col("tp") * 1.0 / F.col("rn")).alias("p")
                    ),
                )
            )
        ).alias("lst"),
    )
    ap = _ordered_fold(F.col("lst"), "p") / F.col("n_pos")
    return agg.select(
        "n_pos", "n_neg", r6s(ap).alias("average_precision")
    )


@register(
    "ml24_calibration_bins",
    # Reliability diagram + per-bin Brier mass (round 14) — the
    # probability-calibration eval ml13/ml14/ml22 stop short of: bin
    # the predicted probability into deciles and compare mean predicted
    # vs observed positive rate per bin (the reliability curve), plus
    # each bin's Brier contribution. Scores min-max-normalize to [0,1]
    # (identical double arithmetic both engines — no exp/logistic,
    # whose libm implementations are not bit-portable); per-row terms
    # are rounded to 6dp and summed as DECIMALs so every cross-row fold
    # is EXACT and order-independent (the _money recipe at probability
    # scale) — the only doubles that cross the wire are per-row
    # deterministic expressions and final exact-decimal casts. One
    # metadata-scale min/max agg broadcast back + one 10-row bin agg:
    # the corpus shuffles 10 groups, nothing else.
    oracle="""
    WITH s AS (
      SELECT vec_id, v[1] AS score, CAST(label >= 5 AS INTEGER) AS y
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings)
    ), mm AS (
      SELECT min(score) AS lo, max(score) AS hi FROM s
    ), p AS (
      SELECT y,
             (ROUND((score - lo) / NULLIF(hi - lo, 0)
                    - sign((score - lo) / NULLIF(hi - lo, 0))
                      * 0.000000001, 6) + 0.0) AS p6
      FROM s, mm
    ), b AS (
      SELECT least(9, CAST(floor(p6 * 10) AS BIGINT)) AS bin, y, p6 FROM p
    ), agg AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_bin,
             CAST(SUM(CAST(p6 AS DECIMAL(18,8))) AS DOUBLE) / count(*)
               AS mp,
             CAST(SUM(y) AS DOUBLE) / count(*) AS fp,
             CAST(SUM(CAST(ROUND((p6 - y) * (p6 - y), 6)
                           AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS br
      FROM b GROUP BY bin
    )
    SELECT bin, n_bin,
           (ROUND(mp - sign(mp) * 0.000000001, 6) + 0.0) AS mean_pred,
           (ROUND(fp - sign(fp) * 0.000000001, 6) + 0.0) AS frac_pos,
           (ROUND(br - sign(br) * 0.000000001, 6) + 0.0) AS brier
    FROM agg
    """,
)
def ml24_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.plans.similarity import _emb

    emb = _emb(spark, sf_dir)
    s = emb.select(
        "vec_id",
        F.get(F.col("v"), 0).alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    mm = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    p = s.crossJoin(F.broadcast(mm)).select(
        "y",
        r6s(
            (F.col("score") - F.col("lo"))
            / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
        ).alias("p6"),
    )
    b = p.select(
        F.least(F.lit(9), F.floor(F.col("p6") * 10)).cast("long").alias("bin"),
        "y",
        "p6",
    )
    sq6 = r6((F.col("p6") - F.col("y")) * (F.col("p6") - F.col("y")))
    agg = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bin"),
        (
            F.sum(F.col("p6").cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mp"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("fp"),
        (
            F.sum(sq6.cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("br"),
    )
    return agg.select(
        "bin",
        "n_bin",
        r6s("mp").alias("mean_pred"),
        r6s("fp").alias("frac_pos"),
        r6s("br").alias("brier"),
    )
