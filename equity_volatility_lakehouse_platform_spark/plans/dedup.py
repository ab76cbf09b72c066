"""Deduplication queries over the documents table (north-star operators,
BASELINE.json:6 — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

All hashing uses the cross-engine md5-prefix hash (operators.textops) so
every stage — including the LSH banding join — is oracle-checkable in
DuckDB. At 100 TB these plans stay linear: signatures are a zero-shuffle
per-row projection, band-key equi-joins find candidates; never an
all-pairs cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.operators import textops as tx
from equity_volatility_lakehouse_platform_spark.plans.fold import cosine_scores
from equity_volatility_lakehouse_platform_spark.plans.registry import register
from equity_volatility_lakehouse_platform_spark.sources.readers import load_table, table_rows
from equity_volatility_lakehouse_platform_spark.functions.rounding import r6, r6s

# DuckDB mirror of tokens/shingles (see operators/textops.py). Used by the
# shingle-STRING consumers (d05 exact Jaccard).
_SH_CTE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks WHERE len(t) >= 3
)
"""

# DuckDB mirror of token_hash_array/shingle_hash_array/minhash_signature:
# md5 once per TOKEN, Horner-combined per 3-gram, list_min per permutation.
_SIG_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), th AS (
  SELECT doc_id,
         list_transform(t, s ->
           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS h
  FROM toks WHERE len(t) >= 3
), shh AS (
  SELECT doc_id,
         list_transform(range(1, len(h) - 1),
           i -> ((h[i] * 1000003 + h[i+1]) % 2147483647 * 1000003 + h[i+2])
                % 2147483647) AS sh
  FROM th
), sig AS (
  SELECT doc_id,
         list_transform(range(0, CASE
             WHEN (SELECT count(*) FROM documents) < 65536     THEN 8
             WHEN (SELECT count(*) FROM documents) < 268435456 THEN 36
             ELSE 48 END), k ->
           list_min(list_transform(sh, x ->
             ((CASE k WHEN 0 THEN 1000000007 WHEN 1 THEN 998244353
                      WHEN 2 THEN 754974721  WHEN 3 THEN 167772161
                      WHEN 4 THEN 469762049  WHEN 5 THEN 1004535809
                      WHEN 6 THEN 1224736769 WHEN 7 THEN 2013265921
                      ELSE 1000003 * (k + 1) END) * x
              + (15485863 * k + 1)) % 2147483647))) AS mh
  FROM shh
)
"""

# Signature agreement fraction over however many permutations the
# corpus-size ladder provisioned — len(mh) IS n_perm, so every consumer
# estimate self-adapts when the signature widens.
_EST_SQL = (
    "(len(list_filter(range(1, len(sa.mh) + 1), i -> sa.mh[i] = sb.mh[i]))"
    " / (len(sa.mh) + 0.0))"
)

# Shared candidate-scoring CTE (d07/d21/ml07 compose it identically).
_SCORED_SQL = f"""
    , scored AS (
      SELECT c.doc_a, c.doc_b, {_EST_SQL} AS est
      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                  JOIN sig sb ON c.doc_b = sb.doc_id
    )"""


# ---------------------------------------------------------------------------
# LSH banding, auto-provisioned from the corpus count (round 11 — the
# d17/sim13 recipe applied to the last fixture-pinned knob).
#
# The banding split of the 8-permutation signature (d02's contract)
# governs CANDIDATE volume: a random pair with background Jaccard s0
# collides on one band of r rows with probability s0^r, so expected
# false-positive candidates ~ C(N,2) * b * s0^r. With the fixture-pinned
# 4x2 split, that term grows QUADRATICALLY in corpus size — at
# s0 ~ 2^-8 (one-in-256 background row agreement, typical same-domain
# text) the FP mass crosses ~4N at N = 2^16 docs and explodes past it.
# Doubling rows-per-band squares the background collision rate, buying
# ~15 more octaves of corpus before FP mass turns super-linear again.
# Round 12 closes the RECALL side of that trade: rows-per-band r is no
# longer constrained to divide a fixed 8-perm signature — the signature
# WIDTH auto-provisions alongside (b, r), so band count b stays high
# enough that moderate-similarity near-dups still collide. The ladder
# (P(collide) = 1 - (1 - s^r)^b; FP mass ~ N^2 * b * s0^r at background
# row agreement s0 ~ 2^-8):
#
#     n_perm =  8  (b=4, r=2)  N < 2^16   threshold 0.50, recall@0.7 = 0.93
#     n_perm = 36  (b=9, r=4)  N < 2^28   threshold 0.58, recall@0.7 = 0.92
#                                         (FP <= N through N ~ 2^28.8)
#     n_perm = 48  (b=8, r=6)  N >= 2^28  threshold 0.71, recall@0.8 = 0.91
#                                         (FP <= N through N ~ 2^45)
#
# The fixed-8 r=4 regime (rounds 11 and earlier, b=2) collided
# 0.7-Jaccard pairs at only ~48%; b=9 recovers them to 91.6%. Perms
# 0..7 keep the legacy primes so d02's 8-perm signature is an exact
# PREFIX of every widened signature; perms >= 8 are formula-generated
# (textops.minhash_params) so the DuckDB oracle derives identical
# parameters from the permutation index. Every consumer
# (d03/d05/d07/d12/d13/d15/d20/ml07) derives (n_perm, b, r) from ONE
# cheap count; the oracle computes the SAME CASE ladder from count(*)
# so both engines re-provision in lockstep at every scale. Fixture SFs
# and the corpus spot's 8x replication (40k docs) all sit below 2^16,
# so their results and walls are unchanged; the widened regime is
# exercised for real by the 70k-doc planted cross-engine test
# (tests/test_domain.py) and the 500k-doc recall/cost study
# (scripts/lsh_recall_500k.py, SCALE.md round-12 addendum 1).
# ---------------------------------------------------------------------------


def lsh_n_perm(n_docs: int) -> int:
    """Signature width for an ``n_docs``-document corpus."""
    if n_docs < 2**16:
        return 8
    if n_docs < 2**28:
        return 36
    return 48


def lsh_banding(n_docs: int) -> tuple[int, int]:
    """(bands, rows_per_band) for an ``n_docs``-document corpus."""
    if n_docs < 2**16:
        return 4, 2
    if n_docs < 2**28:
        return 9, 4
    return 8, 6


# SQL mirror: bands(doc_id, band, key) + cand(doc_a, doc_b), with
# (b, r) derived from count(*) by the same ladder. ``key`` is the
# r-element slice of the signature — list equality in DuckDB matches
# Spark's array equality element-for-element.
_BANDS_SQL = """
    , prm AS (
      SELECT CASE WHEN (SELECT count(*) FROM documents) < 65536     THEN 2
                  WHEN (SELECT count(*) FROM documents) < 268435456 THEN 4
                  ELSE 6 END AS r,
             CASE WHEN (SELECT count(*) FROM documents) < 65536     THEN 4
                  WHEN (SELECT count(*) FROM documents) < 268435456 THEN 9
                  ELSE 8 END AS b
    ), bandix AS (
      SELECT r, unnest(range(0, b)) AS band FROM prm
    ), bands AS (
      SELECT s.doc_id, b.band,
             list_slice(s.mh, b.band * b.r + 1, (b.band + 1) * b.r) AS key
      FROM sig s CROSS JOIN bandix b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
"""


def lsh_band_frame(sig: DataFrame, n_docs: int, carry: tuple = ()) -> DataFrame:
    """Explode a signature frame into (doc_id, band, key [, carry...]).

    ``key`` is the r-element array slice of (mh0..mh{b*r-1}) for the band —
    the LSH bucket key the candidate equi-join collides on. ``carry``
    columns ride through the explode (d03 carries the full signature so
    the pair join yields both sides' agreement count without a second
    sig join).
    """
    b, r = lsh_banding(n_docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.array(
                    *[F.col(f"mh{band * r + j}") for j in range(r)]
                ).alias("key"),
            )
            for band in range(b)
        ]
    )
    cols = ["doc_id", *carry]
    return sig.select(*cols, F.explode(band_structs).alias("_b")).select(
        *cols, "_b.band", "_b.key"
    )


@register(
    "d01_exact_dedup",
    oracle="""
    SELECT md5(text)                  AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT)    AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact dedup: hash-groupBy keeping the lowest id per identical text.
    # At scale: group on the 128-bit digest, never the raw text (shuffle
    # keys stay 16 bytes).
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "d02_minhash_signatures",
    oracle=_SIG_SQL + """
    SELECT doc_id, mh[1] AS mh0, mh[2] AS mh1, mh[3] AS mh2, mh[4] AS mh3,
           mh[5] AS mh4, mh[6] AS mh5, mh[7] AS mh6, mh[8] AS mh7
    FROM sig
    """,
)
def d02_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash: shingle -> 8 permuted min-hashes per doc (Broder). The
    # 8-perm frame is the PREFIX of any corpus-size-widened signature
    # (lsh_n_perm), so this query's schema is scale-stable.
    docs = load_table(spark, sf_dir, "documents")
    return tx.minhash_signature(docs)


def signature_table(
    spark: SparkSession,
    sf_dir: str,
    sig_path: str | None = None,
    n_perm: int = 8,
) -> DataFrame:
    """Signature frame for the LSH consumers (d03/d07).

    Default: recompute from documents and cache — fine at test SF. The
    100 TB shape is ``sig_path``: signatures MATERIALIZED once per corpus
    snapshot (e.g. via ``sources.sinks.write_partitioned``) and scanned
    from parquet by every downstream job — no recompute, no cache memory,
    and the band explode reads a column-pruned table scan. A materialized
    table must carry the corpus's provisioned width (``lsh_n_perm``).
    tests/test_plans.py asserts path-scan-replaces-recompute.
    """
    if sig_path is not None:
        return spark.read.parquet(sig_path)
    docs = load_table(spark, sf_dir, "documents")
    return tx.minhash_signature(docs, n_perm=n_perm).cache()


@register(
    "d03_minhash_lsh_pairs",
    oracle=_SIG_SQL + _BANDS_SQL + f"""
    SELECT c.doc_a, c.doc_b,
           (ROUND({_EST_SQL}, 6) + 0.0) AS est_jaccard
    FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                JOIN sig sb ON c.doc_b = sb.doc_id
    """,
)
def d03_minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    sig_path: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    # LSH banding, auto-provisioned (see lsh_banding): docs colliding on
    # any band become candidate pairs, scored by signature agreement. The
    # candidate join is an equi-join on (band, key) — linear in
    # collisions, not O(n^2) — and the band width grows with the corpus
    # so collision volume stays sub-linear at every scale.
    # Physical shape: signatures are computed ONCE (cached by default, or
    # scanned from a materialized table via ``sig_path`` — the 100 TB
    # shape) and carried through the band explode, so the pair join
    # immediately yields both sides' signatures; duplicate pairs from
    # multiple colliding bands dedupe in the final groupBy.
    if n_docs is None:
        # One cheap metadata-scale count provisions (n_perm, b, r);
        # callers that already counted (snk21's index builder) pass it
        # through so the corpus is never counted twice per plan.
        n_docs = table_rows(sf_dir, "documents")
    n_perm = lsh_n_perm(n_docs)
    sig = signature_table(spark, sf_dir, sig_path, n_perm=n_perm)
    bands = lsh_band_frame(
        sig, n_docs, carry=tuple(f"mh{i}" for i in range(n_perm))
    )
    a = bands.select([F.col(c).alias(f"a_{c}") for c in bands.columns])
    b = bands.select([F.col(c).alias(f"b_{c}") for c in bands.columns])
    agree = sum(
        (F.col(f"a_mh{i}") == F.col(f"b_mh{i}")).cast("int")
        for i in range(n_perm)
    )
    return (
        a.join(
            b,
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_key") == F.col("b_key"))
            & (F.col("a_doc_id") < F.col("b_doc_id")),
        )
        .groupBy(
            F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b")
        )
        .agg(r6(F.max(agree) / float(n_perm)).alias("est_jaccard"))
    )


@register(
    "d04_simhash",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s.tk), 1, 15)) AS BIGINT) % 2147483647 AS h32
      FROM toks, LATERAL unnest(toks.t) AS s(tk)
    )
    , bits AS (
      SELECT doc_id, j.j AS j,
             SUM(CASE WHEN (h32 >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, (SELECT unnest(range(0, 32)) AS j) AS j
      GROUP BY doc_id, j.j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash32
    FROM bits GROUP BY doc_id
    """,
)
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash (Charikar): 32-bit sign-aggregated token-hash fingerprint.
    # Near-dups differ in few bits (hamming distance on the result).
    # One explode over TOKENS (not tokens x 32 bits), then all 32 bit-vote
    # sums as literal-shift conditional aggregates in a single groupBy —
    # whole-stage-codegen arithmetic, one shuffle. (A per-row nested
    # higher-order fold avoids the shuffle but runs interpreted, ~10x
    # slower; the explode x 32 variant shuffles 32x the rows.)
    # votes_j = 2*popcount_j - n_tokens; bit set when votes_j > 0.
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(tx.token_hash_array(tx.tokens(F.col("text")))).alias("h32"),
    )
    sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.expr(f"(h32 >> {j}) & 1")).alias(f"b{j}")
            for j in range(32)
        ],
    )
    simhash = sum(
        F.when(2 * F.col(f"b{j}") - F.col("n") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(32)
    )
    return sums.select("doc_id", simhash.cast("long").alias("simhash32"))


@register(
    "d05_ngram_jaccard_lsh",
    oracle=_SIG_SQL + """
    , sh AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
      FROM toks WHERE len(t) >= 3
    ), sets AS (
      SELECT doc_id, list_distinct(shingles) AS s FROM sh
    )""" + _BANDS_SQL + """
    SELECT c.doc_a, c.doc_b,
           (ROUND(len(list_intersect(sa.s, sb.s)) * 1.0
                 / NULLIF(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 0), 6) + 0.0)
             AS jaccard,
           len(list_intersect(sa.s, sb.s)) * 1.0
             / NULLIF(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 0) >= 0.8
             AS is_near_dup
    FROM cand c JOIN sets sa ON c.doc_a = sa.doc_id
                JOIN sets sb ON c.doc_b = sb.doc_id
    """,
)
def d05_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The MinHash-LSH candidate->verify composition END-TO-END for exact
    # n-gram Jaccard (the textual mirror of d07's cluster composition and
    # d06's cosine one): band collisions from the SAME signatures d03
    # scores (signature_table) propose a bounded candidate set — linear
    # in collisions, never all-pairs — and the exact 3-gram Jaccard
    # verifies each pair. At 100 TB the signatures come from a
    # materialized table (sig_path), the band join shuffles 16-byte keys,
    # and the verify join ships shingle sets only for colliding docs.
    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_rows(sf_dir, "documents")
    sig = signature_table(spark, sf_dir, n_perm=lsh_n_perm(n_docs))
    bands = lsh_band_frame(sig, n_docs)
    pairs = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    tok = tx.tokens(F.col("text"))
    sets = (
        docs.select("doc_id", tok.alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", F.array_distinct(tx.shingles(F.col("t"))).alias("s"))
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    jac = inter * 1.0 / F.nullif(union, F.lit(0))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            r6(jac).alias("jaccard"),
            (jac >= 0.8).alias("is_near_dup"),
        )
    )


@register(
    "d06_embedding_neardup",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), bb AS (
      SELECT GREATEST(2, CASE WHEN (count(*) - 1) // 256 = 0 THEN 0
          ELSE length(printf('%b', (count(*) - 1) // 256)) END) AS bits
      FROM e
    ), b AS (
      SELECT vec_id, v,
             CAST(list_reduce(
               list_transform(range(1, bits + 1),
                 j -> CASE WHEN list_dot_product(v,
                        list_transform(range(1, 65),
                          i -> sin(i * CAST(j AS DOUBLE)))) >= 0
                      THEN 1 ELSE 0 END),
               (acc, x) -> acc * 2 + x) AS BIGINT) AS bucket
      FROM e CROSS JOIN bb
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v)
               / NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)
               AS cosine
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, (ROUND(cosine, 6) + 0.0) AS cosine,
           cosine >= 0.9 AS is_near_dup
    FROM pairs
    """,
)
def d06_embedding_neardup(
    spark: SparkSession, sf_dir: str, bits: int | None = None
) -> DataFrame:
    # Embedding-cosine near-dup, composed END-TO-END over the LSH bucket
    # candidates (the same random-hyperplane buckets as sim02) — the
    # cosine mirror of how d07 composes d03's MinHash candidates: bucket
    # equi-join proposes, exact cosine verifies. Each vector lands in
    # exactly ONE bucket, so every candidate pair appears once (no
    # DISTINCT). Round 11: bits AUTO-PROVISIONS (~256-vector buckets,
    # sim13's formula mirrored by the oracle's bb CTE) — the fixed
    # 2-bit bucketing put a 200k-vector corpus in 4 buckets (~5e9
    # in-bucket pairs, the exact cliff sim13's first spot hit); norms
    # are projected per VECTOR before the pair join (computed once, and
    # the pair stage's expression stays a third of the size — the
    # codegen 64KB ceiling is real at 64 unrolled dims); the bucket
    # join is hint-pinned shuffle_hash so the plan is identical at
    # every corpus size.
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        dot,
        lsh_bucket_frame,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if bits is None:
        bits = max(2, ((table_rows(sf_dir, "embeddings") - 1) // 256).bit_length())
    bucketed = lsh_bucket_frame(emb, bits).select(
        "vec_id", "v", "bucket",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nv"),
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("bucket").alias("bkt_a"), F.col("nv").alias("nva"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("bucket").alias("bkt_b"), F.col("nv").alias("nvb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / F.nullif(
        F.col("nva") * F.col("nvb"), F.lit(0.0)
    )
    return (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("bkt_a") == F.col("bkt_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "vec_a", "vec_b",
            r6(cos).alias("cosine"),
            (cos >= 0.9).alias("is_near_dup"),
        )
    )


@register(
    "d07_duplicate_clusters",
    oracle=_SIG_SQL.replace("WITH toks", "WITH RECURSIVE toks")
    + _BANDS_SQL + """
    , scored AS (
      SELECT c.doc_a, c.doc_b, (len(list_filter(range(1, len(sa.mh) + 1), i -> sa.mh[i] = sb.mh[i])) / (len(sa.mh) + 0.0)) AS est
      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                  JOIN sig sb ON c.doc_b = sb.doc_id
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM scored WHERE est >= 0.5
      UNION ALL
      SELECT doc_b, doc_a FROM scored WHERE est >= 0.5
    ), nodes AS (
      SELECT DISTINCT s AS id FROM edges
    ), reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    )
    SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def d07_duplicate_clusters(
    spark: SparkSession, sf_dir: str, sig_path: str | None = None
) -> DataFrame:
    # The practical dedup output: duplicate CLUSTERS, not just pairs.
    # LSH candidate pairs scoring est_jaccard >= 0.5 become edges; an
    # iterative min-label propagation (operators.graph) finds connected
    # components — each cluster keeps min(doc_id) as its id (the keeper).
    # Oracle: DuckDB recursive CTE computing the same closure. This is the
    # engine's iterative-algorithm pattern: distributed rounds, driver only
    # sees the convergence counter.
    from equity_volatility_lakehouse_platform_spark.operators.graph import (
        connected_components,
    )

    pairs = d03_minhash_lsh_pairs(spark, sf_dir, sig_path).filter(
        F.col("est_jaccard") >= 0.5
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.select(F.col("id").alias("doc_id"), "cluster_id")


_D07_CLUSTER_SQL = _BANDS_SQL + """
    , scored AS (
      SELECT c.doc_a, c.doc_b, (len(list_filter(range(1, len(sa.mh) + 1), i -> sa.mh[i] = sb.mh[i])) / (len(sa.mh) + 0.0)) AS est
      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                  JOIN sig sb ON c.doc_b = sb.doc_id
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM scored WHERE est >= 0.5
      UNION ALL
      SELECT doc_b, doc_a FROM scored WHERE est >= 0.5
    ), nodes AS (
      SELECT DISTINCT s AS id FROM edges
    ), reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    ), clusters AS (
      SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id
    )
"""


@register(
    "d08_canonical_selection",
    oracle=_SIG_SQL.replace("WITH toks", "WITH RECURSIVE toks")
    + _D07_CLUSTER_SQL
    + """
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           first_value(d.doc_id) OVER (
             PARTITION BY COALESCE(c.cluster_id, d.doc_id)
             ORDER BY d.n_chars DESC, d.doc_id ASC
           ) AS kept_doc_id,
           CAST(d.doc_id = first_value(d.doc_id) OVER (
             PARTITION BY COALESCE(c.cluster_id, d.doc_id)
             ORDER BY d.n_chars DESC, d.doc_id ASC
           ) AS INTEGER) AS is_kept
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """,
)
def d08_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The retention step that completes the dedup pipeline: every doc is
    # assigned to its near-dup cluster (d07's connected component;
    # singletons represent themselves) and each cluster keeps ONE
    # canonical document — the longest, ties to the smallest doc_id (the
    # standard keep-best heuristic; swap the ordering for a model-based
    # quality score without changing the shape). Scale: the cluster map
    # covers only docs with near-dup edges (a small fraction of a real
    # corpus), the doc join is key-partitioned, and the keeper choice is
    # one window over cluster_id — no driver participation anywhere.
    from equity_volatility_lakehouse_platform_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = d03_minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= 0.5
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    assigned = docs.join(comps, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    kept = F.first("doc_id").over(w)
    return assigned.select(
        "doc_id",
        "cluster_id",
        kept.alias("kept_doc_id"),
        (F.col("doc_id") == kept).cast("int").alias("is_kept"),
    )


@register(
    "d09_curation_pipeline",
    oracle=None,  # set below — composes text.py's stopword lexicon
)
def d09_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The END-TO-END corpus curation pass a pretraining pipeline runs as
    # ONE declarative plan: language gate (metadata lang), quality gate
    # (length + en-stopword ratio), near-dup retention (d08's canonical
    # keeper over the full corpus), funnel accounting at every stage
    # plus an exact membership pin (doc_id sum) for the surviving set.
    # Scale: the three gates are map-stage predicates over d08's output
    # (whose cluster map covers only docs with near-dup edges); the
    # funnel is one single-row aggregate — nothing materializes on the
    # driver.
    from equity_volatility_lakehouse_platform_spark.plans.text import _LEX

    docs = load_table(spark, sf_dir, "documents")
    kept = d08_canonical_selection(spark, sf_dir).select("doc_id", "is_kept")
    toks = tx.tokens(F.col("text"))
    n_tok = F.size(toks)
    stop_cnt = F.size(F.filter(toks, lambda t: t.isin(*_LEX["en"])))
    gated = docs.join(kept, "doc_id").select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        ((n_tok >= 30) & (stop_cnt * 1.0 / n_tok >= 0.05)).alias("is_quality"),
        (F.col("is_kept") == 1).alias("is_canonical"),
    )
    final = F.col("is_en") & F.col("is_quality") & F.col("is_canonical")
    return gated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("is_en")).alias("n_en"),
        F.count_if(F.col("is_en") & F.col("is_quality")).alias("n_en_quality"),
        F.count_if(final).alias("n_final"),
        F.sum(F.when(final, F.col("doc_id"))).alias("final_doc_id_sum"),
    )


def _d09_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans.text import _lex_sql

    return (
        _SIG_SQL.replace("WITH toks", "WITH RECURSIVE toks")
        + _D07_CLUSTER_SQL
        + rf"""
    , keep AS (
      SELECT d.doc_id,
             CAST(d.doc_id = first_value(d.doc_id) OVER (
               PARTITION BY COALESCE(c.cluster_id, d.doc_id)
               ORDER BY d.n_chars DESC, d.doc_id ASC
             ) AS INTEGER) AS is_kept
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ), gated AS (
      SELECT d.doc_id,
             d.lang = 'en' AS is_en,
             len(regexp_split_to_array(trim(lower(d.text)), '\s+')) >= 30
             AND len(list_filter(regexp_split_to_array(trim(lower(d.text)), '\s+'),
                                 x -> x IN ({_lex_sql('en')}))) * 1.0
                 / len(regexp_split_to_array(trim(lower(d.text)), '\s+')) >= 0.05
               AS is_quality,
             k.is_kept = 1 AS is_canonical
      FROM documents d JOIN keep k ON k.doc_id = d.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count_if(is_en) AS BIGINT) AS n_en,
           CAST(count_if(is_en AND is_quality) AS BIGINT) AS n_en_quality,
           CAST(count_if(is_en AND is_quality AND is_canonical) AS BIGINT) AS n_final,
           CAST(SUM(CASE WHEN is_en AND is_quality AND is_canonical
                         THEN doc_id END) AS BIGINT) AS final_doc_id_sum
    FROM gated
    """
    )


from equity_volatility_lakehouse_platform_spark.plans import registry as _reg  # noqa: E402

_reg.set_oracle("d09_curation_pipeline", _d09_oracle())


@register(
    "d10_cosine_dup_clusters",
    # The cosine mirror of d07: d06's LSH-bucket near-dup pairs
    # (cosine >= 0.9) become edges; iterative min-label propagation
    # finds the duplicate clusters. Oracle: the same recursive-CTE
    # closure over the identical DuckDB pair definition.
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), bb AS (
      SELECT GREATEST(2, CASE WHEN (count(*) - 1) // 256 = 0 THEN 0
          ELSE length(printf('%b', (count(*) - 1) // 256)) END) AS bits
      FROM e
    ), b AS (
      SELECT vec_id, v,
             CAST(list_reduce(
               list_transform(range(1, bits + 1),
                 j -> CASE WHEN list_dot_product(v,
                        list_transform(range(1, 65),
                          i -> sin(i * CAST(j AS DOUBLE)))) >= 0
                      THEN 1 ELSE 0 END),
               (acc, x) -> acc * 2 + x) AS BIGINT) AS bucket
      FROM e CROSS JOIN bb
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v)
               / NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)
               AS cosine
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), edges AS (
      SELECT vec_a AS s, vec_b AS d FROM pairs WHERE cosine >= 0.9
      UNION ALL
      SELECT vec_b, vec_a FROM pairs WHERE cosine >= 0.9
    ), nodes AS (
      SELECT DISTINCT s AS id FROM edges
    ), reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e2.d, r.lbl FROM reach r JOIN edges e2 ON e2.s = r.id
    )
    SELECT id AS vec_id, CAST(min(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def d10_cosine_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semantic-dedup clusters: the full candidate->verify->cluster
    # composition for the EMBEDDING modality (d07 proved it for MinHash).
    # Edges are d06's bucket-join candidates gated at cosine >= 0.9 on
    # the raw (unrounded) similarity; components come from the same
    # distributed min-label rounds (operators.graph — localCheckpoint
    # lineage truncation, driver sees only the convergence counter). At
    # 100 TB: edge count is linear in bucket collisions, rounds bounded
    # by component diameter (near-dup clusters are shallow), and each
    # round is one self-join shuffle on the label key.
    from equity_volatility_lakehouse_platform_spark.operators.graph import (
        connected_components,
    )

    pairs = d06_embedding_neardup(spark, sf_dir).filter(F.col("is_near_dup"))
    comps = connected_components(pairs, src="vec_a", dst="vec_b")
    return comps.select(F.col("id").alias("vec_id"), "cluster_id")


@register(
    "d11_prefix_dedup",
    # Prefix-fingerprint dedup: documents sharing their first 20 tokens
    # are near-certain template duplicates (boilerplate headers, mirrored
    # pages) even when tails differ — the cheap screen web pipelines run
    # BEFORE MinHash. One md5 per doc over the joined prefix, exact
    # groupBy on the 16-byte digest; raw text never shuffles.
    oracle=r"""
    WITH p AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(regexp_split_to_array(trim(lower(text)), '\s+'),
                          1, 20), ' ')) AS prefix_md5
      FROM documents
    )
    SELECT prefix_md5,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
           CAST(count(*) > 1 AS BOOLEAN) AS is_dup_group
    FROM p GROUP BY prefix_md5
    """,
)
def d11_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same zero-join shape as d01 (exact dedup) but keyed on the
    # 20-token prefix fingerprint; short docs fingerprint their full
    # token list (slice past the end truncates identically in both
    # engines). Scales as a single map + one digest groupBy.
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.md5(
        F.concat_ws(" ", F.slice(tx.tokens(F.col("text")), 1, 20))
    )
    p = docs.select("doc_id", prefix.alias("prefix_md5"))
    return p.groupBy("prefix_md5").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_doc_id"),
        (F.count(F.lit(1)) > 1).alias("is_dup_group"),
    )


_D12_EST = _EST_SQL
_D12_EXACT = (
    "len(list_intersect(xa.s, xb.s)) * 1.0"
    " / NULLIF(len(xa.s) + len(xb.s) - len(list_intersect(xa.s, xb.s)), 0)"
)


@register(
    "d12_minhash_accuracy",
    # The sketch-quality audit for the dedup stack: on every LSH
    # candidate pair, the 8-permutation MinHash ESTIMATE of Jaccard next
    # to the EXACT shingle-set Jaccard and their absolute error. est is
    # dyadic (k/8) and exact is one double division, so both engines
    # derive bit-identical errors.
    oracle=_SIG_SQL + f"""
    , sh AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
      FROM toks WHERE len(t) >= 3
    ), sets AS (
      SELECT doc_id, list_distinct(shingles) AS s FROM sh
    ){_BANDS_SQL}
    SELECT c.doc_a, c.doc_b,
           (ROUND({_D12_EST}, 6) + 0.0) AS est_jaccard,
           (ROUND({_D12_EXACT}, 6) + 0.0) AS exact_jaccard,
           (ROUND(ABS({_D12_EST} - ({_D12_EXACT})), 6) + 0.0) AS abs_err
    FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                JOIN sig sb ON c.doc_b = sb.doc_id
                JOIN sets xa ON c.doc_a = xa.doc_id
                JOIN sets xb ON c.doc_b = xb.doc_id
    """,
)
def d12_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One plan computes estimate AND truth over the same band-collision
    # candidates (d03's scoring + d05's verification fused): signatures
    # ship 8 longs per doc, shingle sets ship only for colliding docs.
    # The per-pair error feeds the permutations-vs-precision sizing
    # decision the same way sim05 feeds ANN probe sizing.
    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_rows(sf_dir, "documents")
    sig = signature_table(spark, sf_dir, n_perm=lsh_n_perm(n_docs))
    bands = lsh_band_frame(sig, n_docs)
    pairs = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    n_perm = lsh_n_perm(n_docs)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_perm)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_perm)],
    )
    tok = tx.tokens(F.col("text"))
    sets = (
        docs.select("doc_id", tok.alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", F.array_distinct(tx.shingles(F.col("t"))).alias("s"))
    )
    xa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    xb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    est = (
        sum(
            (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
            for i in range(n_perm)
        )
        / F.lit(float(n_perm))
    )
    inter = F.size(F.array_intersect("s_a", "s_b"))
    exact = inter * 1.0 / F.nullif(
        F.size("s_a") + F.size("s_b") - inter, F.lit(0)
    )
    staged = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .join(xa, "doc_a").join(xb, "doc_b")
        .select("doc_a", "doc_b", est.alias("_est"), exact.alias("_exact"))
    )
    return staged.select(
        "doc_a", "doc_b",
        r6("_est").alias("est_jaccard"),
        r6("_exact").alias("exact_jaccard"),
        r6(F.abs(F.col("_est") - F.col("_exact"))).alias("abs_err"),
    )


@register(
    "d13_containment_dedup",
    # Asymmetric containment on the LSH candidates: C(A,B) = |A∩B|/|A|
    # catches a document EMBEDDED in a larger one (quote farms, page
    # wrappers) that symmetric Jaccard dilutes below threshold. Both
    # directions reported per pair; flag fires when either side is
    # mostly contained in the other.
    oracle=_SIG_SQL + """
    , sh AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
      FROM toks WHERE len(t) >= 3
    ), sets AS (
      SELECT doc_id, list_distinct(shingles) AS s FROM sh
    )""" + _BANDS_SQL + """
    SELECT c.doc_a, c.doc_b,
           (ROUND(len(list_intersect(xa.s, xb.s)) * 1.0
                  / NULLIF(len(xa.s), 0), 6) + 0.0) AS containment_a_in_b,
           (ROUND(len(list_intersect(xa.s, xb.s)) * 1.0
                  / NULLIF(len(xb.s), 0), 6) + 0.0) AS containment_b_in_a,
           GREATEST(len(list_intersect(xa.s, xb.s)) * 1.0
                      / NULLIF(len(xa.s), 0),
                    len(list_intersect(xa.s, xb.s)) * 1.0
                      / NULLIF(len(xb.s), 0)) >= 0.9 AS is_contained
    FROM cand c JOIN sets xa ON c.doc_a = xa.doc_id
                JOIN sets xb ON c.doc_b = xb.doc_id
    """,
)
def d13_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same candidate->verify physical shape as d05 (band equi-join
    # proposes, shingle sets verify); only the verification metric
    # changes — the denominators are each side's own set size.
    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_rows(sf_dir, "documents")
    sig = signature_table(spark, sf_dir, n_perm=lsh_n_perm(n_docs))
    bands = lsh_band_frame(sig, n_docs)
    pairs = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    tok = tx.tokens(F.col("text"))
    sets = (
        docs.select("doc_id", tok.alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", F.array_distinct(tx.shingles(F.col("t"))).alias("s"))
    )
    xa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    xb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    c_ab = inter * 1.0 / F.nullif(F.size("s_a"), F.lit(0))
    c_ba = inter * 1.0 / F.nullif(F.size("s_b"), F.lit(0))
    staged = (
        pairs.join(xa, "doc_a").join(xb, "doc_b")
        .select("doc_a", "doc_b", c_ab.alias("_cab"), c_ba.alias("_cba"))
    )
    return staged.select(
        "doc_a", "doc_b",
        r6("_cab").alias("containment_a_in_b"),
        r6("_cba").alias("containment_b_in_a"),
        (F.greatest("_cab", "_cba") >= 0.9).alias("is_contained"),
    )


_D14_W = 16  # non-overlapping chunk width (tokens)


@register(
    "d14_chunk_dedup",
    # C4/RefinedWeb-style SUB-DOCUMENT dedup (round 7): documents are
    # chunked into fixed non-overlapping 16-token "paragraphs", each
    # chunk is deduplicated GLOBALLY across the corpus (first occurrence
    # by (doc_id, chunk_idx) wins), and every document is reassembled
    # from its surviving chunks — the op that removes boilerplate
    # repeated ACROSS documents, which whole-doc dedup (d01) and
    # near-dup clustering (d07) both miss. At 100 TB: tokenize+chunk is
    # a map-only fan-out (t13's machinery); the global first-occurrence
    # pick is ONE shuffle keyed on the 128-bit chunk digest (window
    # rank, partial-friendly); reassembly is one groupBy(doc_id) whose
    # payload is only the SURVIVING chunk text (bounded by output size).
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS tok
      FROM documents
    ), c AS (
      SELECT doc_id, tok,
             unnest(generate_series(0, (greatest(len(tok), 1) - 1) // {_D14_W}))
               AS ci
      FROM t
    ), ch AS (
      SELECT doc_id, ci,
             array_to_string(list_slice(tok, ci * {_D14_W} + 1,
                                        ci * {_D14_W} + {_D14_W}), ' ')
               AS chunk_text
      FROM c
    ), r AS (
      SELECT doc_id, ci, chunk_text,
             row_number() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, ci) AS rn
      FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)        AS n_chunks,
           CAST(count_if(rn = 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                               ' ' ORDER BY ci), '') AS dedup_text
    FROM r GROUP BY doc_id
    """,
)
def d14_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("tok"))
    c = t.select(
        "doc_id",
        "tok",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(f"(greatest(size(tok), 1) - 1) div {_D14_W}").cast("int"),
            )
        ).alias("ci"),
    )
    chunks = c.select(
        "doc_id",
        F.col("ci").cast("long").alias("ci"),
        F.array_join(
            F.slice(F.col("tok"), F.col("ci") * _D14_W + 1, _D14_W), " "
        ).alias("chunk_text"),
    )
    # Global first-occurrence rank, keyed on the digest (16-byte shuffle
    # key; the raw chunk text rides along once, never joins back).
    w = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "ci")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("ci", "chunk_text"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_if(F.col("rn") == 1).alias("n_kept"),
            # collect_list skips nulls (losers); sort restores chunk order.
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["chunk_text"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


@register(
    "d15_recursive_khop",
    # Spark 4 RECURSIVE CTE (WITH RECURSIVE ... UNION ALL) — the SQL
    # front-end surface for bounded graph traversal, run over the LSH
    # candidate-pair graph (d03): for every doc in the graph, how many
    # DISTINCT other docs are reachable within <= 3 hops — the
    # "contamination neighborhood" a curator inspects before nuking a
    # near-dup cluster. Level-bounded UNION ALL recursion (Spark does
    # not yet support UNION-distinct recursion), so path multiplicity
    # is collapsed by the final DISTINCT aggregate; termination is by
    # the lvl < 3 guard, not fixpoint — correct on cyclic graphs. The
    # same SQL text runs on DuckDB over the same pair CTEs: the oracle
    # IS the query.
    oracle=(_SIG_SQL + _BANDS_SQL + """
    , edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION ALL
      SELECT doc_b, doc_a FROM cand
    ), hop AS (
      SELECT a AS src, b AS dst, 1 AS lvl FROM edges
      UNION ALL
      SELECT h.src, e.b, h.lvl + 1
      FROM hop h JOIN edges e ON h.dst = e.a
      WHERE h.lvl < 3
    )
    SELECT src AS doc_id,
           CAST(count(DISTINCT dst) AS BIGINT) AS n_within_3_hops
    FROM hop WHERE dst <> src
    GROUP BY src
    """).replace("WITH toks", "WITH RECURSIVE toks", 1),
)
def d15_recursive_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        d03_minhash_lsh_pairs(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    edges.createOrReplaceTempView("d15_edges")
    try:
        return spark.sql("""
            WITH RECURSIVE hop(src, dst, lvl) AS (
              SELECT a, b, 1 FROM d15_edges
              UNION ALL
              SELECT h.src, e.b, h.lvl + 1
              FROM hop h JOIN d15_edges e ON h.dst = e.a
              WHERE h.lvl < 3
            )
            SELECT src AS doc_id,
                   CAST(count(DISTINCT dst) AS BIGINT) AS n_within_3_hops
            FROM hop WHERE dst <> src
            GROUP BY src
        """).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView("d15_edges")


_D16_SALT = "dag1"
_D16_QUALITY_MIN = 0.45


def _d16_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stage flags for the composed curation DAG — the
    expensive half of d16, built so raw text is scanned ONCE:

    * one corpus scan computes every text-derived quantity (digest,
      token/stopword/punctuation counts, md5'd shingles) in a single
      layered projection; downstream stages see only ids, counts, and
      16-byte digests — raw text never shuffles and is never re-read;
    * the benchmark shingle set (t05's doc_id % 97 == 0 eval suite) is
      the only other documents access — a pushdown-filtered ~1% scan
      that broadcasts;
    * contamination overlap rides the SAME exploded-shingle rows as the
      per-doc roll-up (one groupBy), and the d01 dedup rank is a
      running survivor count over the digest window, so the quality ->
      contamination -> dedup funnel is sequential (each stage gates the
      next) with no extra corpus pass.
    """
    from equity_volatility_lakehouse_platform_spark.plans.text import _LEX

    docs = load_table(spark, sf_dir, "documents")
    tok = tx.tokens(F.col("text"))
    t0 = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", "text", tok.alias("tok")
    )
    # Round-14 optimization: dedup the shingles PER ROW with
    # array_distinct, so the per-doc roll-up is a single plain count
    # aggregate. The old shape md5'd every shingle inside a transform
    # lambda (interpreted HOF) and aggregated the exploded rows with TWO
    # count_distinct's — which plans an Expand (x2 row multiplication
    # plus a double aggregation) — measuring ~2.5 s of d16's 3.16 s
    # flagged stage at sf0.1. Equivalences (parity re-verified at every
    # SF against the unchanged md5-based oracle): distinct-md5 counts
    # equal distinct-raw-shingle counts (md5 injective here, and the
    # bench join matches raw strings iff it matched their md5s);
    # count_distinct(s) == count over exploded array_distinct;
    # count_distinct(bs) == count of non-NULL bench matches of those
    # already-distinct rows. Shingle-less docs (< 3 tokens): NULL array
    # -> explode_outer keeps one NULL row -> count(s)/count(bs) skip
    # NULL -> 0, exactly the old result.
    base = t0.select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        F.size("tok").alias("n_tok"),
        tx.stopword_hits(F.col("tok"), _LEX["en"]).alias("n_stop"),
        F.length("text").alias("len"),
        F.length(F.regexp_replace("text", r"[.,;:!?]", "")).alias("len_np"),
        F.when(
            F.size("tok") >= 3,
            F.array_distinct(tx.shingles(F.col("tok"))),
        ).alias("shd"),
    )
    bench = F.broadcast(
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(tok.alias("tok"))
        .filter(F.size("tok") >= 3)
        .select(F.explode(tx.shingles(F.col("tok"))).alias("bs"))
        .distinct()
    )
    ex = base.select(
        "doc_id", "source", "digest", "n_tok", "n_stop", "len", "len_np",
        F.explode_outer("shd").alias("s"),
    )
    perdoc = (
        ex.join(bench, ex["s"] == bench["bs"], "left")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.first("digest").alias("digest"),
            F.first("n_tok").alias("n_tok"),
            F.first("n_stop").alias("n_stop"),
            F.first("len").alias("len"),
            F.first("len_np").alias("len_np"),
            F.count("s").alias("n_sh"),
            F.count("bs").alias("n_overlap"),
        )
    )
    # t02's quality score, with every float op in the same order as the
    # oracle (the >= gate is unrounded, so sub-ulp divergence would
    # flip it — identical op order keeps both engines bit-equal).
    score = (
        F.least(F.col("n_tok") / 100.0, F.lit(1.0)) * 0.5
        + F.least(
            (F.col("n_stop") * 1.0 / F.nullif(F.col("n_tok"), F.lit(0))) * 5.0,
            F.lit(1.0),
        )
        * 0.3
        + (
            1.0
            - (F.col("len") - F.col("len_np"))
            * 1.0
            / F.nullif(F.col("len"), F.lit(0))
        )
        * 0.2
    )
    flags0 = perdoc.select(
        "doc_id", "source", "digest", "n_tok",
        F.coalesce(score >= _D16_QUALITY_MIN, F.lit(False)).alias("is_quality"),
        ((F.col("n_sh") == 0) | (F.col("n_overlap") * 2 < F.col("n_sh"))).alias(
            "is_clean"
        ),
    )
    surv = F.col("is_quality") & F.col("is_clean")
    wd = Window.partitionBy("digest").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = F.sum(F.when(surv, 1).otherwise(0)).over(wd)
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(f":{_D16_SALT}"))
            ),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    return flags0.select(
        "doc_id", "source", "n_tok", "is_quality", "is_clean",
        (surv & (run == 1)).alias("is_unique"),
        u32.alias("u32"),
    )


def _d16_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DAG's per-document decision frame (quality gate ->
    contamination screen -> canonical dedup -> domain rebalance), every
    stage's flag carried so consumers can aggregate (d16) or select the
    survivors (d30's packing tail). Narrow (~40 B/row), lazily
    checkpointed at the raw-text boundary inside ``_d16_flagged``."""
    flagged = _d16_flagged(spark, sf_dir).localCheckpoint(eager=False)
    cnts = (
        flagged.filter(F.col("is_unique"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_src"))
    )
    thr = cnts.crossJoin(
        F.broadcast(cnts.agg(F.min("n_src").alias("mn")))
    ).select(
        "source",
        F.floor(F.lit(4294967296.0) * F.col("mn") / F.col("n_src"))
        .cast("bigint")
        .alias("thr"),
    )
    return flagged.join(F.broadcast(thr), "source", "left").select(
        "*",
        (
            F.col("is_unique")
            & (F.col("u32") < F.coalesce(F.col("thr"), F.lit(-1)))
        ).alias("is_balanced"),
    )


@register("d16_curation_dag", oracle=None)  # set below — composes the lexicon
def d16_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The FULL curation DAG as one registered query (round-8 VERDICT
    # item 6 — d09 covers only the dedup slice): t02 quality gate ->
    # t05 contamination screen -> d01 doc-level dedup -> ml16 domain
    # rebalance -> t14 effective-size accounting, composed SEQUENTIALLY
    # (each stage filters the next's input, unlike the standalone
    # queries that each read the full corpus) with per-stage funnel
    # counts and an exact doc_id-sum membership pin.
    #
    # Scale shape: `_d16_flagged` touches raw text exactly once (its
    # docstring has the scan/shuffle audit); its NARROW output
    # (ids + counts + booleans, ~40 B/row) is lazily checkpointed —
    # the survivor manifest a production pipeline would write between
    # stages — because two consumers need it (the per-source count
    # aggregate that derives the ml16 downsample thresholds, and the
    # final funnel roll-up). Everything downstream is metadata-sized:
    # a |sources|-row count agg broadcast back, then ONE single-row
    # aggregate.
    final = _d16_final(spark, sf_dir)
    ret = F.col("tokens_final") * 1.0 / F.col("tokens_total")
    return (
        final.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("is_quality")).alias("n_quality"),
            F.count_if(F.col("is_quality") & F.col("is_clean")).alias("n_clean"),
            F.count_if(F.col("is_unique")).alias("n_unique"),
            F.count_if(F.col("is_balanced")).alias("n_balanced"),
            F.sum("n_tok").alias("tokens_total"),
            F.sum(F.when(F.col("is_balanced"), F.col("n_tok"))).alias(
                "tokens_final"
            ),
            F.sum(F.when(F.col("is_balanced"), F.col("doc_id"))).alias(
                "kept_doc_id_sum"
            ),
        )
        .select(
            "n_docs", "n_quality", "n_clean", "n_unique", "n_balanced",
            F.col("tokens_total").cast("bigint").alias("tokens_total"),
            F.col("tokens_final").cast("bigint").alias("tokens_final"),
            r6(ret - F.signum(ret) * F.lit(1e-9)).alias("token_retention"),
            F.col("kept_doc_id_sum").cast("bigint").alias("kept_doc_id_sum"),
        )
    )


def _d16_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans.text import _lex_sql

    return rf"""
    WITH t0 AS (
      SELECT doc_id, source, text,
             regexp_split_to_array(trim(lower(text)), '\s+') AS tok
      FROM documents WHERE doc_id % 97 <> 0
    ), base AS (
      SELECT doc_id, source, md5(text) AS digest,
             len(tok) AS n_tok,
             len(list_filter(tok, x -> x IN ({_lex_sql('en')}))) AS n_stop,
             length(text) AS len,
             length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS len_np,
             CASE WHEN len(tok) >= 3 THEN
               list_transform(range(1, len(tok) - 1),
                 i -> md5(tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))
             ELSE [NULL] END AS sh
      FROM t0
    ), bex AS (
      SELECT unnest(list_transform(range(1, len(tok) - 1),
               i -> md5(tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))) AS bs
      FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tok
            FROM documents WHERE doc_id % 97 = 0)
      WHERE len(tok) >= 3
    ), bench AS (
      SELECT DISTINCT bs FROM bex
    ), ex AS (
      SELECT doc_id, source, digest, n_tok, n_stop, len, len_np,
             unnest(sh) AS s
      FROM base
    ), perdoc AS (
      SELECT e.doc_id,
             min(e.source) AS source, min(e.digest) AS digest,
             min(e.n_tok) AS n_tok, min(e.n_stop) AS n_stop,
             min(e.len) AS len, min(e.len_np) AS len_np,
             count(DISTINCT e.s) AS n_sh,
             count(DISTINCT b.bs) AS n_overlap
      FROM ex e LEFT JOIN bench b ON e.s = b.bs
      GROUP BY e.doc_id
    ), flags0 AS (
      SELECT doc_id, source, digest, n_tok,
             COALESCE(
               least(n_tok / 100.0, 1.0) * 0.5
               + least((n_stop * 1.0 / NULLIF(n_tok, 0)) * 5.0, 1.0) * 0.3
               + (1.0 - (len - len_np) * 1.0 / NULLIF(len, 0)) * 0.2
               >= {_D16_QUALITY_MIN}, FALSE) AS is_quality,
             (n_sh = 0 OR n_overlap * 2 < n_sh) AS is_clean
      FROM perdoc
    ), flagged AS (
      SELECT doc_id, source, n_tok, is_quality, is_clean,
             (is_quality AND is_clean)
             AND SUM(CASE WHEN is_quality AND is_clean THEN 1 ELSE 0 END)
                 OVER (PARTITION BY digest ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
               AS is_unique,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_D16_SALT}'),
                                  1, 8)) AS BIGINT) AS u32
      FROM flags0
    ), cnts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src
      FROM flagged WHERE is_unique GROUP BY source
    ), m AS (
      SELECT min(n_src) AS mn FROM cnts
    ), final AS (
      SELECT f.*,
             COALESCE(f.is_unique AND f.u32 <
               CAST(floor(4294967296.0 * (SELECT mn FROM m) / c.n_src)
                    AS BIGINT), FALSE) AS is_balanced
      FROM flagged f LEFT JOIN cnts c ON c.source = f.source
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count_if(is_quality) AS BIGINT) AS n_quality,
           CAST(count_if(is_quality AND is_clean) AS BIGINT) AS n_clean,
           CAST(count_if(is_unique) AS BIGINT) AS n_unique,
           CAST(count_if(is_balanced) AS BIGINT) AS n_balanced,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN is_balanced THEN n_tok END) AS BIGINT)
             AS tokens_final,
           (ROUND(sum(CASE WHEN is_balanced THEN n_tok END) * 1.0 / sum(n_tok)
                  - sign(sum(CASE WHEN is_balanced THEN n_tok END) * 1.0
                         / sum(n_tok)) * 0.000000001, 6) + 0.0)
             AS token_retention,
           CAST(sum(CASE WHEN is_balanced THEN doc_id END) AS BIGINT)
             AS kept_doc_id_sum
    FROM final
    """


_reg.set_oracle("d16_curation_dag", _d16_oracle())


@register(
    "d17_semantic_dedup",
    # SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC dedup,
    # the third rung after exact (d01) and near-duplicate (d03/d06):
    # k-means-cluster the embedding space, then prune epsilon-balls
    # WITHIN each cluster so the all-pairs cosine never runs globally —
    # the clustering is exactly what makes semantic dedup tractable at
    # 100 TB (pairwise work is sum n_c^2, bounded by provisioning
    # K = ceil(N/256) so clusters stay ~256 vectors at ANY corpus and
    # the PRUNE stage is LINEAR in N; here K=4 on the test corpus).
    # Honest total cost (round 14, r13 ADVICE): the coarse ASSIGNMENT
    # leg is O(N*K*D) against the broadcast codebook — with K = N/256
    # that leg is asymptotically O(N^2*D/256), so the single-level
    # quantizer's practical ceiling is K ~ 2^16 (N ~ 2^24 vectors);
    # past it, production swaps in a two-level hierarchical assignment
    # (see ivf_assign's scaling contract). The prune/candidate volume
    # stays linear either way. Stage 1 reuses the engine's trained coarse quantizer
    # (similarity.ivf_train_centroids — spherical k-means, ordered-fold
    # means, bit-exact DuckDB mirror) and the Arrow assignment scorer
    # (ivf_assign, zero corpus shuffle). Stage 2 is a grouped Arrow
    # kernel per cluster: the pairwise cosine folds dimension-
    # sequentially (the identical left-fold sequence DuckDB's
    # list_dot_product computes), and a vector is a DUPLICATE iff some
    # LOWER-id cluster-mate sits within the epsilon-ball (keep-first
    # rule, the d11/d14 convention). tau = 0.45 — epsilon is corpus-
    # tuned in SemDeDup; this synthetic corpus is near-orthogonal
    # (max intra-cluster cos ~0.5), so the published 0.95-on-CLIP scale
    # would flag nothing. max_intra_cos pins the full pairwise
    # computation in the value hash even where no row crosses tau.
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
    + "{train}"
    + """
    , sall AS (
      SELECT e.vec_id, e.v, cb.cid,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.v, cb.cv)
                 / NULLIF(sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(cb.cv, cb.cv)), 0)
                 DESC, cb.cid) AS rn
      FROM e CROSS JOIN icb2 cb
    ), asg AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv, cid
      FROM sall WHERE rn = 1
    ), agg AS (
      SELECT a.vec_id, a.cid,
             max(list_dot_product(a.v, b.v)
                 / NULLIF(a.nv * b.nv, 0)) AS mx
      FROM asg a LEFT JOIN asg b
        ON b.cid = a.cid AND b.vec_id < a.vec_id
      GROUP BY a.vec_id, a.cid
    )
    SELECT vec_id, cid,
           (ROUND(mx, 6) + 0.0) AS max_intra_cos,
           CAST(COALESCE(mx >= 0.45, FALSE) AS BOOLEAN) AS is_dup
    FROM agg
    """,
)
def d17_semantic_dedup(
    spark: SparkSession, sf_dir: str, tau: float = 0.45,
    max_cluster: int = 16384, n_centroids: int | None = None,
) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_emb,
        ivf_assign,
        ivf_train_centroids,
    )

    emb = _ivf_emb(spark, sf_dir)
    if n_centroids is None:
        # Auto-provision K = max(4, ceil(N/256)) (round 13 — the
        # d06/sim13/ml23 integer contract). Round 10's K ~ sqrt(N) let
        # the EXPECTED cluster size grow as sqrt(N): total pairwise
        # prune work was N^1.5 (the worst corpus-spot row on the board,
        # 16.1x wall at 100x), and past N ~ 2.7e8 the sqrt-sized
        # clusters would trip the 16384 fail-loud guard below — the
        # provisioning violated its own memory-bound claim exactly
        # where 100 TB corpora live. Constant ~256-vector clusters make
        # the prune LINEAR in the corpus and keep 64x headroom under
        # the guard at every N; this also matches SemDeDup's published
        # deployment shape (cluster count proportional to the corpus,
        # not its square root). One cheap parquet count provisions it;
        # the guard stays as the backstop for pathological skew.
        n_centroids = max(4, (table_rows(sf_dir, "embeddings") + 255) // 256)
    cent = ivf_train_centroids(
        emb, n_centroids=n_centroids, iters=2
    ).localCheckpoint(eager=False)
    assigned = ivf_assign(emb, cent)  # vec_id, v, nv, cid — no shuffle

    def _prune(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.stack(pdf["v"].to_numpy())           # (n, D)
        nv = pdf["nv"].to_numpy()
        n = len(V)
        # RUNTIME GUARD (the skew_guard philosophy — fail loud with the
        # mitigation, never hang): the epsilon-ball prune is O(n^2) per
        # cluster BY DESIGN (SemDeDup's tractability comes from K
        # scaling with the corpus, ~sqrt(N), keeping clusters bounded).
        # A cluster past the bound means K is under-provisioned for the
        # corpus — raising K is the fix, not a bigger kernel.
        if n > max_cluster:
            raise ValueError(
                f"d17_semantic_dedup: cluster of {n} vectors exceeds the "
                f"{max_cluster} pairwise-prune bound; raise n_centroids "
                "(the engine provisions K = ceil(N/256)) so clusters stay "
                "memory-sized"
            )
        # Pair cosines are fold.cosine_scores — the left-fold sequence
        # of list_dot_product / the JVM aggregate — BLOCKWISE over
        # i-rows so peak memory is O(block * n), not O(n^2).
        mx = np.full(n, np.nan)
        block = 1024
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            cos = cosine_scores(V[lo:hi], V, nv[lo:hi], nv, np.nan)
            # j < i only: mask columns >= the row's global index.
            cols = np.arange(n)[None, :]
            rows = np.arange(lo, hi)[:, None]
            cos = np.where(cols < rows, cos, np.nan)
            with np.errstate(invalid="ignore"):
                m = np.nanmax(
                    np.where(np.isnan(cos), -np.inf, cos), axis=1
                )
            mx[lo:hi] = np.where(np.isinf(m), np.nan, m)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cid": pdf["cid"], "mx": mx}
        )

    pruned = assigned.groupBy("cid").applyInPandas(
        _prune, "vec_id bigint, cid bigint, mx double"
    )
    mx = F.when(F.isnan("mx"), F.lit(None)).otherwise(F.col("mx"))
    return pruned.select(
        "vec_id",
        "cid",
        r6(mx).alias("max_intra_cos"),
        F.coalesce(mx >= F.lit(tau), F.lit(False)).alias("is_dup"),
    )


def _d17_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans import registry as _r2
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_train_sql,
    )

    # Auto-K mirror: the SQL derives the same K = max(4, ceil(N/256))
    # with DuckDB's integer division, so the oracle tracks d17's
    # provisioning at every scale factor.
    return _r2.all_oracles()["d17_semantic_dedup"].replace(
        "{train}",
        _ivf_train_sql("(SELECT GREATEST(4, (count(*) + 255) // 256) FROM e)"),
    )


_reg.set_oracle("d17_semantic_dedup", _d17_oracle())


@register(
    "d18_cdc_chunk_dedup",
    # CONTENT-DEFINED chunking dedup (round 9) — the shift-robust
    # complement to d14's fixed 16-token chunks: d14's boundaries move
    # when a single token is inserted upstream (every later chunk
    # changes, dedup misses), CDC boundaries are a function of CONTENT
    # (cut before any token whose hash % 8 == 0, the Gear/Rabin
    # breakpoint rule at expected chunk ~8 tokens), so an insertion
    # perturbs only the chunk it lands in. Same cross-engine md5-prefix
    # hash as the MinHash family, so every stage is oracle-checkable.
    # Cost shape vs d14: CDC pays one extra regroup round (the running
    # breakpoint count needs token order — window by doc, then
    # (doc, chunk) roll-up) before the SAME global machinery: one
    # shuffle keyed on the 128-bit chunk digest for first-occurrence,
    # reassembly bounded by output size. All stages per-doc or
    # per-chunk — nothing global beyond the digest key.
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS tok
      FROM documents
    ), c AS (
      SELECT doc_id, tok, unnest(range(1, len(tok) + 1)) AS i
      FROM t
    ), flg AS (
      SELECT doc_id, i, tok[i] AS tk,
             CASE WHEN CAST(('0x' || substr(md5(tok[i]), 1, 15)) AS BIGINT)
                       % 8 = 0
                  THEN 1 ELSE 0 END AS brk
      FROM c
    ), chn AS (
      SELECT doc_id, i, tk,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS ci
      FROM flg
    ), ch AS (
      SELECT doc_id, ci, string_agg(tk, ' ' ORDER BY i) AS chunk_text
      FROM chn GROUP BY doc_id, ci
    ), r AS (
      SELECT doc_id, ci, chunk_text,
             row_number() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, ci) AS rn
      FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)         AS n_chunks,
           CAST(count_if(rn = 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                               ' ' ORDER BY ci), '') AS dedup_text
    FROM r GROUP BY doc_id
    """,
)
def d18_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("tok"))
    flg = t.select(
        "doc_id",
        F.posexplode("tok").alias("pos", "tk"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("i"),
        "tk",
        F.when(tx.token_hash(F.col("tk")) % 8 == 0, 1).otherwise(0).alias(
            "brk"
        ),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    chn = flg.select(
        "doc_id", "i", "tk", F.sum("brk").over(wdoc).alias("ci")
    )
    ch = (
        chn.groupBy("doc_id", "ci")
        .agg(F.array_sort(F.collect_list(F.struct("i", "tk"))).alias("lst"))
        .select(
            "doc_id", "ci",
            F.array_join(
                F.expr("transform(lst, e -> e.tk)"), " "
            ).alias("chunk_text"),
        )
    )
    wdig = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "ci")
    ranked = ch.withColumn("rn", F.row_number().over(wdig))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_if(F.col("rn") == 1).alias("n_kept"),
            F.array_join(
                F.expr(
                    "transform(array_sort(filter("
                    "  collect_list(CASE WHEN rn = 1"
                    "               THEN struct(ci, chunk_text) END),"
                    "  x -> x IS NOT NULL)), e -> e.chunk_text)"
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


@register(
    "d19_bloom_novelty",
    # Bloom-filter novelty check (round 10) — the INCREMENTAL-batch
    # face of exact dedup: at 100 TB you don't equi-join today's
    # landing batch against the full corpus digest set; you probe a
    # bits-sized Bloom filter built from it (the standard streaming-
    # ingest novelty gate; Bloom 1970). Fixture split: even doc_ids are
    # the existing corpus (filter side), odd ones the landing batch.
    # The filter is DECLARATIVE here — the set of set bit positions
    # (m = 16384, k = 3, double hashing p_j = (h1 + j*h2) mod m with
    # h1/h2 carved from the doc digest's md5 hex, the engine's
    # established cross-engine hash device) — so the oracle reproduces
    # it bit-for-bit; a deployment would fold the same positions into a
    # bitmap via bit_or. The probe is a BROADCAST join of the <= m-row
    # position set against the landing batch's exploded positions: the
    # corpus-sized side never shuffles. actual_dup (the exact-join
    # truth) is carried per row, so the query also MEASURES its own
    # false-positive behavior — the honesty column every approximate
    # structure here ships with (sim05/07/09 recall, d12 accuracy).
    oracle="""
    WITH dig AS (
      SELECT doc_id, md5(text) AS dg FROM documents
    ), h AS (
      SELECT doc_id, dg,
             CAST(('0x' || substr(dg, 1, 15)) AS BIGINT) % 16384 AS h1,
             CAST(('0x' || substr(dg, 16, 15)) AS BIGINT) % 16383 + 1 AS h2
      FROM dig
    ), pos AS (
      SELECT DISTINCT (h1 + j * h2) % 16384 AS pos
      FROM h CROSS JOIN (SELECT unnest(range(3)) AS j) js
      WHERE doc_id % 2 = 0
    ), exd AS (
      SELECT DISTINCT dg FROM dig WHERE doc_id % 2 = 0
    ), inc AS (
      SELECT * FROM h WHERE doc_id % 2 = 1
    ), probe AS (
      SELECT i.doc_id, count(p.pos) AS nhit
      FROM inc i
      CROSS JOIN (SELECT unnest(range(3)) AS j) js
      LEFT JOIN pos p ON p.pos = (i.h1 + js.j * i.h2) % 16384
      GROUP BY i.doc_id
    )
    SELECT i.doc_id,
           pr.nhit = 3                      AS bloom_hit,
           e.dg IS NOT NULL                 AS actual_dup,
           pr.nhit = 3 AND e.dg IS NULL     AS false_positive
    FROM inc i
    JOIN probe pr ON pr.doc_id = i.doc_id
    LEFT JOIN exd e ON e.dg = i.dg
    """,
)
def d19_bloom_novelty(
    spark: SparkSession, sf_dir: str, m: int = 16384, k: int = 3
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dg = F.md5("text")
    h1 = F.conv(F.substring(dg, 1, 15), 16, 10).cast("long") % m
    h2 = F.conv(F.substring(dg, 16, 15), 16, 10).cast("long") % (m - 1) + 1
    hashed = docs.select(
        "doc_id", dg.alias("dg"), h1.alias("h1"), h2.alias("h2")
    )
    existing = hashed.filter(F.col("doc_id") % 2 == 0)
    positions = (
        existing.select(
            F.explode(
                F.array(
                    *[
                        (F.col("h1") + j * F.col("h2")) % m
                        for j in range(k)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )
    exd = existing.select("dg").distinct()
    incoming = hashed.filter(F.col("doc_id") % 2 == 1)
    probe = incoming.select(
        "doc_id",
        F.explode(
            F.array(
                *[(F.col("h1") + j * F.col("h2")) % m for j in range(k)]
            )
        ).alias("pos"),
    )
    nhit = (
        probe.join(
            F.broadcast(positions.withColumn("_set", F.lit(1))),
            "pos", "left",
        )
        .groupBy("doc_id")
        .agg(F.count("_set").alias("nhit"))
    )
    return (
        incoming.join(nhit, "doc_id")
        # NO broadcast hint on the exact-truth digest set: unlike the
        # <= m-row position set, exd is corpus-sized — at 100 TB this
        # audit join must be free to shuffle on the digest key (the
        # planner broadcasts it at fixture scale anyway).
        .join(exd.withColumn("_dup", F.lit(1)), "dg", "left")
        .select(
            "doc_id",
            (F.col("nhit") == k).alias("bloom_hit"),
            F.col("_dup").isNotNull().alias("actual_dup"),
            ((F.col("nhit") == k) & F.col("_dup").isNull()).alias(
                "false_positive"
            ),
        )
    )


@register(
    "d20_edit_distance_verify",
    # Candidate -> VERIFY with edit distance (round 10) — the
    # entity-resolution half of the dedup ladder the sketch family
    # approximates: MinHash/LSH candidates (d03's banded equi-join,
    # linear in collisions) verified by exact Levenshtein on the
    # candidate pairs ONLY — the classic blocking+verify shape that
    # keeps O(L^2) dynamic programming off the corpus and on the ~0.02%
    # of pairs the bands surface. Outputs the sketch estimate next to
    # the exact edit similarity so the two scales audit each other;
    # is_dup is the integer cross-multiplied threshold
    # (5 * lev <= max_len, i.e. normalized distance <= 0.2). Both
    # engines implement classic single-string Levenshtein, so lev_dist
    # is integer-identical; edit_sim is one nudge-rounded division.
    oracle=None,  # set below — composes d03's oracle as a CTE
)
def d20_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.plans import registry as _r3

    pairs = _r3.all_queries()["d03_minhash_lsh_pairs"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    lev = F.levenshtein(F.col("ta"), F.col("tb"))
    mx = F.greatest(F.length("ta"), F.length("tb"))
    scored = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b", "est_jaccard",
            lev.cast("bigint").alias("lev_dist"),
            (
                F.lit(1.0)
                - lev.cast("double")
                / F.nullif(mx.cast("double"), F.lit(0.0))
            ).alias("_sim"),
            (lev * 5 <= mx).alias("is_dup"),
        )
    )
    return scored.select(
        "doc_a", "doc_b", "est_jaccard", "lev_dist",
        r6s("_sim").alias("edit_sim"), "is_dup",
    )


def _d20_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans import registry as _r3

    d03 = _r3.all_oracles()["d03_minhash_lsh_pairs"]
    return (
        "WITH pairs AS (" + d03 + """
    )
    SELECT p.doc_a, p.doc_b, p.est_jaccard,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev_dist,
           (ROUND((1.0 - levenshtein(a.text, b.text) * 1.0
                   / NULLIF(greatest(length(a.text), length(b.text)), 0))
                  - sign(1.0 - levenshtein(a.text, b.text) * 1.0
                         / NULLIF(greatest(length(a.text),
                                           length(b.text)), 0))
                    * 0.000000001, 6) + 0.0) AS edit_sim,
           levenshtein(a.text, b.text) * 5
             <= greatest(length(a.text), length(b.text)) AS is_dup
    FROM pairs p
    JOIN documents a ON a.doc_id = p.doc_a
    JOIN documents b ON b.doc_id = p.doc_b
    """
    )


_reg.set_oracle("d20_edit_distance_verify", _d20_oracle())


@register(
    "d21_pagerank",
    # Fixed-iteration PageRank over the LSH candidate graph (round 11)
    # — the curation-centrality signal next to d07's components and
    # d15's k-hop reach: which documents sit at the CENTER of a
    # near-dup neighborhood (template hubs, boilerplate attractors).
    # Three power-iteration rounds with damping 0.85 over the same
    # est >= 0.5 edges d07 clusters; every per-node in-neighbor sum is
    # an ORDERED fold (contributions sorted by source id — the BNKS
    # device), so the three chained float reductions are bit-identical
    # across engines and the output takes one nudged round. Distributed
    # shape: the classic Pregel-style iteration — contributions shuffle
    # on dst once per round (3 fixed rounds = 3 shuffles), degree rides
    # the edge list via one co-partitioned join; nothing global, no
    # driver loop over data. Every node in the (undirected) candidate
    # graph has degree >= 1, so there are no dangling-mass corrections.
    oracle=_SIG_SQL + _BANDS_SQL + """
    , scored AS (
      SELECT c.doc_a, c.doc_b, (len(list_filter(range(1, len(sa.mh) + 1), i -> sa.mh[i] = sb.mh[i])) / (len(sa.mh) + 0.0)) AS est
      FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                  JOIN sig sb ON c.doc_b = sb.doc_id
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM scored WHERE est >= 0.5
      UNION ALL
      SELECT doc_b, doc_a FROM scored WHERE est >= 0.5
    ), deg AS (
      SELECT s, count(*) AS deg FROM edges GROUP BY s
    ), e2 AS (
      SELECT e.s, e.d, g.deg FROM edges e JOIN deg g ON g.s = e.s
    ), pr0 AS (
      SELECT DISTINCT s AS id, CAST(1.0 AS DOUBLE) AS pr FROM edges
    ), pr1 AS (
      SELECT e.d AS id,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
               * list_reduce(list(p.pr / e.deg ORDER BY e.s),
                             (acc, val) -> acc + val) AS pr
      FROM e2 e JOIN pr0 p ON p.id = e.s GROUP BY e.d
    ), pr2 AS (
      SELECT e.d AS id,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
               * list_reduce(list(p.pr / e.deg ORDER BY e.s),
                             (acc, val) -> acc + val) AS pr
      FROM e2 e JOIN pr1 p ON p.id = e.s GROUP BY e.d
    ), pr3 AS (
      SELECT e.d AS id,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
               * list_reduce(list(p.pr / e.deg ORDER BY e.s),
                             (acc, val) -> acc + val) AS pr
      FROM e2 e JOIN pr2 p ON p.id = e.s GROUP BY e.d
    )
    SELECT p.id AS doc_id,
           CAST(g.deg AS BIGINT) AS degree,
           (ROUND(p.pr - sign(p.pr) * 0.000000001, 6) + 0.0) AS pagerank
    FROM pr3 p JOIN deg g ON g.s = p.id
    """,
)
def d21_pagerank(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = 3,
    damping: float = 0.85,
    teleport: float = 0.15,
) -> DataFrame:
    # teleport is passed EXPLICITLY rather than derived as 1 - damping:
    # 1.0 - 0.85 is NOT the double literal 0.15 (it is 0.1500...02, the
    # sim10 lam/mu lesson), and the oracle's CAST(0.15 AS DOUBLE) must
    # be mirrored bit-exactly through three chained iterations.
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ordered_fold,
    )

    pairs = d03_minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= 0.5
    )
    e1 = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    edges = e1.unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    e2 = edges.join(deg, "s")
    r = edges.select(F.col("s").alias("id")).distinct().select(
        "id", F.lit(1.0).alias("pr")
    )
    for _ in range(n_iter):
        j = e2.join(r, e2["s"] == r["id"]).select(
            "d", "s", (F.col("pr") / F.col("deg")).alias("c")
        )
        r = (
            j.groupBy("d")
            .agg(F.array_sort(F.collect_list(F.struct("s", "c"))).alias("lst"))
            .select(
                F.col("d").alias("id"),
                (
                    F.lit(teleport)
                    + F.lit(damping) * _ordered_fold(F.col("lst"), "c")
                ).alias("pr"),
            )
        )
    return (
        r.join(deg, r["id"] == deg["s"])
        .select(
            F.col("id").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            r6s("pr").alias("pagerank"),
        )
    )


@register(
    "d24_semantic_decontamination",
    # Benchmark decontamination (round 12) — the LLM-pipeline op the
    # dedup family stops short of: given a TRAIN split and a held-out
    # BENCHMARK split (here vec_id % 10 == 0, the pipeline's eval set),
    # flag every train document whose embedding is tau-similar to ANY
    # benchmark document, so eval contamination is dropped before
    # training. Distinct from d06/d17 (symmetric near-dup): the
    # relation is asymmetric (train screened AGAINST benchmark), the
    # output is a per-train-doc mask (vec_id, n_hits, max_cosine,
    # contaminated) covering CLEAN docs too — the filter column a
    # curation DAG consumes directly. Scale path: one shared sign-LSH
    # bucketing (auto-provisioned bits, ~256 vectors/bucket at any
    # corpus) blocks both splits; the probe is a bucket equi-join
    # (hint-pinned shuffle_hash, linear in bucket occupancy — never
    # Q x N) and the mask re-join is vec_id-keyed. Neither side is
    # broadcast: BOTH splits are corpus-sized at 100 TB (unlike sim14's
    # capped query set). max/count are order-independent aggregates, so
    # the double threshold compares identically in both engines (the
    # d06 contract).
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), bb AS (
      SELECT GREATEST(2, CASE WHEN (count(*) - 1) // 256 = 0 THEN 0
          ELSE length(printf('%b', (count(*) - 1) // 256)) END) AS bits
      FROM e
    ), b AS (
      SELECT vec_id, v,
             CAST(list_reduce(
               list_transform(range(1, bits + 1),
                 j -> CASE WHEN list_dot_product(v,
                        list_transform(range(1, 65),
                          i -> sin(i * CAST(j AS DOUBLE)))) >= 0
                      THEN 1 ELSE 0 END),
               (acc, x) -> acc * 2 + x) AS BIGINT) AS bucket
      FROM e CROSS JOIN bb
    ), hits AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits, max(cos) AS mc
      FROM (
        SELECT tr.vec_id,
               list_dot_product(tr.v, bm.v)
                 / NULLIF(sqrt(list_dot_product(tr.v, tr.v))
                          * sqrt(list_dot_product(bm.v, bm.v)), 0) AS cos
        FROM (SELECT * FROM b WHERE vec_id % 10 <> 0) tr
        JOIN (SELECT * FROM b WHERE vec_id % 10 = 0) bm
          ON tr.bucket = bm.bucket
      )
      WHERE cos >= 0.25
      GROUP BY vec_id
    )
    SELECT t.vec_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           (ROUND(h.mc, 6) + 0.0) AS max_cosine,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM (SELECT vec_id FROM e WHERE vec_id % 10 <> 0) t
    LEFT JOIN hits h ON t.vec_id = h.vec_id
    """,
)
def d24_semantic_decontamination(
    spark: SparkSession,
    sf_dir: str,
    tau: float = 0.25,
    bits: int | None = None,
) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        dot,
        lsh_bucket_frame,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if bits is None:
        bits = max(2, ((table_rows(sf_dir, "embeddings") - 1) // 256).bit_length())
    bucketed = lsh_bucket_frame(emb, bits).select(
        "vec_id", "v", "bucket",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nv"),
    )
    train = bucketed.filter(F.col("vec_id") % 10 != 0)
    bench = bucketed.filter(F.col("vec_id") % 10 == 0).select(
        F.col("v").alias("bv"), F.col("bucket").alias("bb"),
        F.col("nv").alias("nb"),
    )
    cos = dot(F.col("v"), F.col("bv")) / F.nullif(
        F.col("nv") * F.col("nb"), F.lit(0.0)
    )
    hits = (
        train.hint("shuffle_hash")
        .join(bench, F.col("bucket") == F.col("bb"))
        .select("vec_id", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(tau))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("h_n"),
            F.max("cos").alias("mc"),
        )
    )
    return (
        emb.filter(F.col("vec_id") % 10 != 0)
        .select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("h_n"), F.lit(0)).cast("bigint").alias("n_hits"),
            r6(F.col("mc")).alias("max_cosine"),
            (F.coalesce(F.col("h_n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Hot-bucket hardening (round 14 — the r13 verdict's top item).
#
# The auto-provisioned (n_perm, b, r) ladder bounds FALSE-positive band
# collisions at background similarity, but TRUE duplicate mass is
# quadratic inside one (band, key) bucket BY CONSTRUCTION: a boilerplate
# template with M exact copies puts all M in every band's bucket and the
# candidate equi-join emits M(M-1)/2 pairs per band — at common-crawl
# scale M reaches the millions and one bucket goes quadratic silently.
# The production composition (d26) removes that input class:
#
#   1. EXACT-DEDUP FIRST: one map pass computes (md5 digest, MinHash
#      signature) per document; a digest groupBy collapses identical
#      texts to a keeper (raw text never shuffles). Exact-duplicate
#      mass is ACCOUNTED (C(n,2) per group), never enumerated.
#   2. LSH over KEEPERS ONLY: the band join sees each distinct text
#      once, so template mass contributes ONE row per bucket.
#   3. PER-BUCKET CAP, LOUDLY: residual hot buckets (> bucket_cap
#      DISTINCT texts colliding on one (band, key) — a dense near-dup
#      cluster or degenerate content) are EXCLUDED from the pair join
#      and surfaced as first-class accounting rows (kind='hot_bucket',
#      avoided candidate mass per band) instead of hanging the job.
#      The cap is mirrored bit-exactly in the DuckDB oracle, so parity
#      holds whether or not it binds.
#
# d03/d05/d07 keep their uncapped contracts (they ARE the enumerate-
# all-candidates surface, and their oracles have no cap); d26 is the
# front door a 100 TB ingest pipeline should call. Envelope recorded in
# SCALE.md (round-14 addendum).
# ---------------------------------------------------------------------------

D26_BUCKET_CAP = 1024  # distinct texts per (band, key) before fail-loud


def _d26_oracle(bucket_cap: int) -> str:
    return _SIG_SQL + f"""
    , grp AS (
      SELECT md5(text) AS h,
             CAST(min(doc_id) AS BIGINT) AS keeper,
             CAST(count(*) AS BIGINT)    AS n_copies
      FROM documents GROUP BY md5(text)
    ), ksig AS (
      SELECT g.keeper AS doc_id, g.n_copies, s.mh
      FROM grp g JOIN sig s ON s.doc_id = g.keeper
    ), prm AS (
      SELECT CASE WHEN (SELECT count(*) FROM documents) < 65536     THEN 2
                  WHEN (SELECT count(*) FROM documents) < 268435456 THEN 4
                  ELSE 6 END AS r,
             CASE WHEN (SELECT count(*) FROM documents) < 65536     THEN 4
                  WHEN (SELECT count(*) FROM documents) < 268435456 THEN 9
                  ELSE 8 END AS b
    ), bandix AS (
      SELECT r, unnest(range(0, b)) AS band FROM prm
    ), kb AS (
      SELECT s.doc_id, b.band,
             list_slice(s.mh, b.band * b.r + 1, (b.band + 1) * b.r) AS key
      FROM ksig s CROSS JOIN bandix b
    ), bsz AS (
      SELECT band, key, count(*) AS sz FROM kb GROUP BY band, key
    ), okb AS (
      SELECT kb.doc_id, kb.band, kb.key
      FROM kb JOIN bsz ON kb.band = bsz.band AND kb.key = bsz.key
      WHERE bsz.sz <= {bucket_cap}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM okb a JOIN okb b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT 'near_pair' AS kind, c.doc_a, c.doc_b,
           (ROUND({_EST_SQL}, 6) + 0.0) AS est_jaccard,
           CAST(sa.n_copies * sb.n_copies AS BIGINT) AS mass,
           CAST(NULL AS BIGINT) AS band,
           CAST(NULL AS BIGINT) AS n_hot_buckets
    FROM cand c JOIN ksig sa ON c.doc_a = sa.doc_id
                JOIN ksig sb ON c.doc_b = sb.doc_id
    UNION ALL
    SELECT 'exact_group', keeper, keeper, 1.0,
           CAST(n_copies * (n_copies - 1) // 2 AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM grp WHERE n_copies > 1
    UNION ALL
    SELECT 'hot_bucket', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE),
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT),
           CAST(band AS BIGINT), CAST(count(*) AS BIGINT)
    FROM bsz WHERE sz > {bucket_cap} GROUP BY band
    """


@register("d26_dedup_first_lsh", oracle=_d26_oracle(D26_BUCKET_CAP))
def d26_dedup_first_lsh(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int = D26_BUCKET_CAP,
    sig_path: str | None = None,
) -> DataFrame:
    # Production near-dup front door: exact-dedup-first composition +
    # loudly-capped LSH (see the block comment above). Output is ONE
    # frame accounting ALL duplicate mass: kind='exact_group' rows
    # (keeper, C(n_copies,2) collapsed pairs), kind='near_pair' rows
    # (keeper-level LSH pairs with est_jaccard and the implied raw pair
    # mass n_a*n_b), kind='hot_bucket' rows (per band: buckets over the
    # cap, candidate pairs avoided). Physical shape: one map pass for
    # (digest, signature), digest groupBy (16-byte keys), signature
    # semi-join to keepers (signature rows are ~n_perm ints — raw text
    # never shuffles), window bucket-count over (band, key) in the band
    # join's own partitioning, pair equi-join on capped buckets only.
    # (The registered oracle pins the DEFAULT cap; ad-hoc runs with a
    # custom cap can rebuild the mirror via _d26_oracle(bucket_cap).)
    docs = load_table(spark, sf_dir, "documents")
    # grp feeds the keeper semi-join AND the exact_group accounting
    # rows; the lazy checkpoint stops the digest groupBy (a full
    # raw-text scan + md5) from re-running for each consumer. Narrow:
    # one (16-byte digest, id, count) row per DISTINCT text.
    grp = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .localCheckpoint(eager=False)
    )
    # The n_perm/banding ladder input is the corpus row count, read
    # from parquet footer metadata (round 15): building this plan fires
    # NO job — the round-14 shape still ran the digest groupBy eagerly
    # at build time, a full scan per build at 100 TB. The grp checkpoint
    # now materializes at first execution instead.
    n_docs = table_rows(sf_dir, "documents")
    n_perm = lsh_n_perm(n_docs)
    mh_cols = [f"mh{i}" for i in range(n_perm)]
    # ``sig_path``: serve signatures from a materialized index (the
    # snk21 surface — one index feeds d03 AND d26); the default stays
    # the UNCACHED map pass (consumed once, alongside the digest hash).
    if sig_path is not None:
        sig = spark.read.parquet(sig_path)
    else:
        sig = tx.minhash_signature(docs, n_perm=n_perm)
    keepers = grp.select("keeper", "n_copies")
    # Lazily checkpoint the per-keeper signature manifest (round-14
    # optimization — the d16 survivor-manifest pattern): the band join
    # consumes this frame on BOTH sides and the bucket-size/anti-join
    # path again, and without the lineage cut each consumer re-ran the
    # raw-text scan + md5 + MinHash pass (22 parquet scans of documents
    # in the explained plan, 0 reused). The checkpointed frame is
    # NARROW — keepers x (id, count, n_perm ints), the same ~40 B/row
    # scale a production pipeline would persist between stages.
    ksig = sig.join(keepers, sig["doc_id"] == keepers["keeper"]).select(
        "doc_id", "n_copies", *mh_cols
    )
    if sig_path is None:
        # Index-served signatures are a cheap columnar re-read (and the
        # serve contract is that the index scan stays VISIBLE in the
        # plan — test_d26_serves_from_persisted_signatures); only the
        # in-query MinHash pass is worth cutting off here.
        ksig = ksig.localCheckpoint(eager=False)

    bands = lsh_band_frame(ksig, n_docs, carry=("n_copies", *mh_cols))
    # Bucket sizes via ONE count window over (band, key) — round-14
    # optimization, the d27 one-pass pattern: the old
    # groupBy-then-anti-join shape built a second banding lineage for
    # sizing and re-shuffled the wide frame for the pair join anyway.
    # The window's (band, key) hash partitioning is exactly the pair
    # join's requirement, so both self-join sides reuse the SAME
    # exchange, and the hot_bucket accounting reads the same sized rows
    # (one first(sz) per over-cap bucket). Hot buckets stay LINEAR here
    # (count + filter); only capped buckets reach the quadratic join.
    sized = bands.withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    )
    ok = sized.filter(F.col("sz") <= bucket_cap).drop("sz")
    hot_sz = (
        sized.filter(F.col("sz") > bucket_cap)
        .groupBy("band", "key")
        .agg(F.first("sz").alias("sz"))
    )

    a = ok.select([F.col(c).alias(f"a_{c}") for c in ok.columns])
    b = ok.select([F.col(c).alias(f"b_{c}") for c in ok.columns])
    agree = sum(
        (F.col(f"a_mh{i}") == F.col(f"b_mh{i}")).cast("int")
        for i in range(n_perm)
    )
    near = (
        a.join(
            b,
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_key") == F.col("b_key"))
            & (F.col("a_doc_id") < F.col("b_doc_id")),
        )
        .groupBy(
            F.col("a_doc_id").alias("doc_a"),
            F.col("b_doc_id").alias("doc_b"),
        )
        .agg(
            r6(F.max(agree) / float(n_perm)).alias("est_jaccard"),
            (F.max("a_n_copies") * F.max("b_n_copies"))
            .cast("long")
            .alias("mass"),
        )
        .select(
            F.lit("near_pair").alias("kind"),
            "doc_a", "doc_b", "est_jaccard", "mass",
            F.lit(None).cast("long").alias("band"),
            F.lit(None).cast("long").alias("n_hot_buckets"),
        )
    )
    exact = grp.filter(F.col("n_copies") > 1).select(
        F.lit("exact_group").alias("kind"),
        F.col("keeper").alias("doc_a"),
        F.col("keeper").alias("doc_b"),
        F.lit(1.0).alias("est_jaccard"),
        (F.col("n_copies") * (F.col("n_copies") - 1) / 2)
        .cast("long")
        .alias("mass"),
        F.lit(None).cast("long").alias("band"),
        F.lit(None).cast("long").alias("n_hot_buckets"),
    )
    hot = (
        hot_sz
        .groupBy("band")
        .agg(
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("long")
            .alias("mass"),
            F.count(F.lit(1)).cast("long").alias("n_hot_buckets"),
        )
        .select(
            F.lit("hot_bucket").alias("kind"),
            F.lit(None).cast("long").alias("doc_a"),
            F.lit(None).cast("long").alias("doc_b"),
            F.lit(None).cast("double").alias("est_jaccard"),
            "mass",
            F.col("band").cast("long").alias("band"),
            "n_hot_buckets",
        )
    )
    return near.unionByName(exact).unionByName(hot)


# ---------------------------------------------------------------------------
# Exact-substring dedup at the published training-data grain (round 14 —
# the r13 verdict's capability item 5). d14 (fixed 16-token chunks) and
# d18 (content-defined chunks) approximate substring-level dedup but are
# chunk-BOUNDARY-dependent: a repeat straddling a boundary is invisible.
# The LLM-corpus standard (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better", arXiv:2107.06499) is minimal-length
# EXACT substring dedup — any >= k-token sequence that occurs more than
# once in the corpus, at every position. The suffix-array formulation is
# inherently single-machine; the distributed formulation here is the
# rolling-anchor equivalent, LINEAR in the corpus:
#
#   * every k-token window (all starts, no chunk grid) hashes to a
#     60-bit cross-engine anchor (md5-prefix of the joined window — the
#     textops contract, collision-safe past 2^30 windows; swap in the
#     full 128-bit digest pair at extreme corpus scale);
#   * ONE groupBy over anchors (8-byte shuffle keys, map-side partial
#     counts) finds every anchor occurring >= 2 times anywhere in the
#     corpus — within- AND cross-document repeats, the suffix-array
#     semantics;
#   * per document, the duplicated WINDOW STARTS merge into covered-
#     token mass via an ordered lag window (union of [pos, pos+k-1] =
#     sum of min(k, gap)) — no k-fold explode, no interval list.
#
# Output is the per-document duplicated-token mass — n_tokens,
# dup_tokens, dup_fraction — the quantity a curation pipeline thresholds
# on to drop or trim documents (the published recipe removes the
# duplicated spans themselves; the mass is the decision statistic).
# ---------------------------------------------------------------------------

D27_K = 8  # minimal repeat length in tokens (Lee et al. use 50 BPE
#            tokens; the fixture corpus' docs are ~30-90 whitespace
#            tokens, so k=8 exercises the same machinery at test SF)


def _substring_anchor_stages(
    docs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared d27/d28 anchor pipeline: (base, dup_starts).

    base = (doc_id, n_tokens, t); dup_starts = (doc_id, pos) of every
    k-token window whose 60-bit anchor occurs >= 2 times anywhere in
    the corpus (within- and cross-document — the suffix-array
    semantics). The window explode is map-only; the anchor groupBy is
    the ONE corpus shuffle (8-byte keys, combiner-friendly); the dup
    semi-join re-shuffles (doc_id, pos) pairs only for anchors that
    actually repeat. Raw text never shuffles."""
    base = docs.select(
        "doc_id", tx.tokens(F.col("text")).alias("t")
    ).select("doc_id", F.size("t").alias("n_tokens"), "t")
    # The anchor md5 runs in a post-explode codegen projection (round-14
    # optimization): hashing inside the position transform's lambda fell
    # to the interpreted HOF path (~2x wall on this stage); exploding
    # the bare position sequence first and md5-ing in the next Project
    # keeps the whole window walk in WholeStageCodegen. Anchors are
    # BYTE-IDENTICAL to the former shape (same concat_ws/slice/md5 —
    # verified by exceptAll both ways), the token array is only carried
    # between two nodes of the same codegen stage, and raw text still
    # never shuffles.
    sh = (
        base.filter(F.col("n_tokens") >= k)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (k - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            tx.token_hash(
                F.concat_ws(" ", F.slice(F.col("t"), F.col("pos"), k))
            ).alias("h"),
        )
    )
    # Repeated anchors via ONE window count over h (round-14
    # optimization) instead of groupBy + join-back: the join shape paid
    # the sh lineage twice and, at corpus scale, either broadcasts an
    # unbounded repeated-anchor set or re-shuffles the full window set a
    # second time. One shuffle by h, one pass, row-identical (verified
    # by exceptAll both ways). A hot anchor concentrates its M rows in
    # one task but the work stays LINEAR in M (count, no pair
    # enumeration) — the quadratic hot-bucket concern of the LSH band
    # joins does not arise here.
    dup_starts = (
        sh.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    return base, dup_starts


@register(
    "d27_exact_substring_mass",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n_tokens, t FROM toks
    ), sh AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(array_to_string(
               list_slice(t, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
      FROM base, LATERAL unnest(range(1, n_tokens - 6)) AS u(i)
      WHERE n_tokens >= 8
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
    ), ds AS (
      SELECT s.doc_id, s.pos FROM sh s JOIN dup d ON s.h = d.h
    ), cov AS (
      SELECT doc_id,
             SUM(CASE WHEN prev IS NULL THEN 8
                      ELSE LEAST(8, pos - prev) END) AS dup_tokens
      FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM ds)
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           (ROUND(COALESCE(c.dup_tokens, 0)
                  / NULLIF(b.n_tokens + 0.0, 0.0), 6) + 0.0) AS dup_fraction
    FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
    """,
)
def d27_exact_substring_mass(
    spark: SparkSession, sf_dir: str, k: int = D27_K
) -> DataFrame:
    # See the block comment above. Physical shape: the window explode is
    # map-only in the scan's partitions; the anchor groupBy is the ONE
    # corpus shuffle (8-byte keys, combiner-friendly); the dup semi-join
    # re-shuffles (doc_id, pos) pairs only for anchors that actually
    # repeat; the lag window partitions by doc_id. Raw text never
    # shuffles. (The registered oracle pins k=8; ad-hoc k needs its own
    # mirror.)
    docs = load_table(spark, sf_dir, "documents")
    base, dup_starts = _substring_anchor_stages(docs, k)
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        dup_starts
        .withColumn("prev", F.lag("pos").over(w))
        .select(
            "doc_id",
            F.when(F.col("prev").isNull(), F.lit(k))
            .otherwise(F.least(F.lit(k), F.col("pos") - F.col("prev")))
            .alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("dup_tokens"))
    )
    frac = F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.nullif(
        F.col("n_tokens").cast("double"), F.lit(0.0)
    )
    return (
        base.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            frac.alias("_f"),
        )
        .select(
            "doc_id", "n_tokens", "dup_tokens", r6(F.col("_f")).alias("dup_fraction")
        )
    )


@register(
    "d28_substring_trim",
    # The REMOVAL half of the exact-substring recipe (d27 computes the
    # decision statistic; Lee et al. 2022's deployed pipeline removes
    # the duplicated spans themselves). Reuses d27's anchor stages —
    # every k-token window hashes to a 60-bit anchor, ONE corpus
    # groupBy finds anchors occurring >= 2 times anywhere — then per
    # document: collect the duplicated window STARTS (few per doc by
    # construction once d01/d26 ran upstream), and emit the token
    # stream with every covered token dropped (token j is covered iff
    # a duplicated window starts in [j-k+1, j]). Output is the
    # TOKENIZED clean text (lower/trim/single-space — the corpus-dedup
    # grain), plus counts. The kept-token filter is a nested HOF
    # (O(n_tokens x n_starts) per doc, both small), evaluated once in
    # a single projection; the corpus-scale stages are d27's (8-byte
    # anchor shuffle, (doc_id, pos) semi-join).
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n_tokens, t FROM toks
    ), sh AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(array_to_string(
               list_slice(t, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
      FROM base, LATERAL unnest(range(1, n_tokens - 6)) AS u(i)
      WHERE n_tokens >= 8
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
    ), ds AS (
      SELECT s.doc_id, list(s.pos) AS ps
      FROM sh s JOIN dup d ON s.h = d.h
      GROUP BY s.doc_id
    ), kept AS (
      SELECT b.doc_id, b.n_tokens,
             list_filter(b.t, (x, j) ->
               len(list_filter(COALESCE(ds.ps, []),
                               p -> p <= j AND p >= j - 7)) = 0) AS kt
      FROM base b LEFT JOIN ds ON ds.doc_id = b.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(kt) AS BIGINT) AS kept_tokens,
           -- a fully-trimmed doc is the EMPTY string on both engines
           -- (DuckDB's array_to_string of [] is NULL; Spark's
           -- concat_ws is '')
           COALESCE(array_to_string(kt, ' '), '') AS clean_text
    FROM kept
    """,
)
def d28_substring_trim(
    spark: SparkSession, sf_dir: str, k: int = D27_K
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base, dup_starts = _substring_anchor_stages(docs, k)
    ds = dup_starts.groupBy("doc_id").agg(
        F.collect_list("pos").alias("ps")
    )
    # Token j (1-based) is covered iff some duplicated window starts in
    # [j-k+1, j]. Spark's filter/exists index lambda is 0-BASED, so the
    # 1-based token position is j+1; DuckDB's list_filter index is
    # 1-based — the mirror uses j directly.
    ps = F.coalesce(F.col("ps"), F.array().cast("array<int>"))
    kt = F.filter(
        F.col("t"),
        lambda x, j: ~F.exists(
            ps,
            lambda p: (p <= j + 1) & (p >= j + 1 - (k - 1)),
        ),
    )
    return (
        base.join(ds, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            kt.alias("_kt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("_kt").cast("long").alias("kept_tokens"),
            F.concat_ws(" ", F.col("_kt")).alias("clean_text"),
        )
    )


@register("d30_packed_curation_dag", oracle=None)  # set below — composes d16 + t19
def d30_packed_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The LLM-PIPELINE DAG END-TO-END (round 14): d16's curation funnel
    # (quality gate -> contamination screen -> canonical dedup -> domain
    # rebalance) composed with t19's greedy sequence packing — the full
    # path from raw corpus to training-batch layout in ONE registered
    # plan, the composition a production pipeline actually ships.
    # Survivors (is_balanced) flow into pack_assign (Knuth-hash shards
    # provisioned from the SURVIVOR count, the same arithmetic as the
    # oracle's params CTE); output is one row per (shard, bin) with doc
    # and token counts plus an exact doc_id-sum membership pin, so the
    # oracle verifies BIN MEMBERSHIP, not just totals.
    #
    # Scale shape: raw text is touched once inside _d16_flagged (lazily
    # checkpointed at the narrow boundary — the survivor manifest);
    # the packing tail adds ONE exchange (shard groupBy) + one
    # (shard, bin) roll-up on ids+counts rows.
    from equity_volatility_lakehouse_platform_spark.plans.text import (
        pack_assign,
        pack_nshard,
    )

    final = _d16_final(spark, sf_dir).localCheckpoint(eager=False)
    kept = final.filter(F.col("is_balanced")).select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok")
    )
    nshard = pack_nshard(kept.count())
    assigned = pack_assign(kept, nshard)
    return assigned.groupBy("shard", "bin_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
    )


def _d30_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans.text import (
        _KNUTH_U_SQL,
        _PACK_BUDGET,
        _PACK_SHARD_DOCS,
    )

    head = _d16_oracle()
    cut = head.index("SELECT CAST(count(*) AS BIGINT) AS n_docs,")
    return (
        head[:cut].replace("WITH t0 AS", "WITH RECURSIVE t0 AS")
        + rf""", kept AS (
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok
      FROM final WHERE is_balanced
    ), params AS (
      SELECT greatest(8, CAST(ceil(count(*) / {_PACK_SHARD_DOCS}.0) AS BIGINT))
               AS nshard
      FROM kept
    ), kd AS (
      SELECT doc_id, n_tok,
             {_KNUTH_U_SQL} % (SELECT nshard FROM params) AS shard
      FROM kept
    ), r2 AS (
      SELECT shard, doc_id, n_tok,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM kd
    ), pk AS (
      SELECT shard, rn, doc_id, n_tok, n_tok AS fill,
             CAST(0 AS BIGINT) AS bin
      FROM r2 WHERE rn = 1
      UNION ALL
      SELECT r.shard, r.rn, r.doc_id, r.n_tok,
             CASE WHEN p.fill + r.n_tok > {_PACK_BUDGET}
                  THEN r.n_tok ELSE p.fill + r.n_tok END,
             CASE WHEN p.fill + r.n_tok > {_PACK_BUDGET}
                  THEN p.bin + 1 ELSE p.bin END
      FROM pk p JOIN r2 r ON r.shard = p.shard AND r.rn = p.rn + 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, bin AS bin_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM pk GROUP BY shard, bin
    """
    )


_reg.set_oracle("d30_packed_curation_dag", _d30_oracle())
