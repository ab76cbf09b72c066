"""Similarity-search queries over the embeddings table (north-star:
brute-force cosine top-k baseline + LSH-bucketed ANN scale path).

Cosine math folds JVM-side over double-cast arrays (zip_with/aggregate).
The brute-force variant is the correctness baseline (O(Q*N), Q small);
the random-hyperplane bucket variant is the 100 TB path: vectors shuffle
once on the bucket key, and each query probes only its own bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.plans.registry import register
from equity_volatility_lakehouse_platform_spark.sources.readers import load_table, table_rows
from equity_volatility_lakehouse_platform_spark.functions.rounding import r6
from equity_volatility_lakehouse_platform_spark.plans.fold import (
    cosine_scores,
    fold_dot,
    fold_self,
    l2_distances,
    lloyd,
)

import re as _re

_SIMPLE_IDENT = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _assert_simple_ident(name: str) -> None:
    """The parsed-expr fast paths interpolate column names into SQL
    text; names are additionally backtick-quoted, but reject anything
    that is not a simple identifier outright so a keyword/injection-
    shaped name can never reach the parser."""
    if not _SIMPLE_IDENT.match(name):
        raise ValueError(
            f"expected a simple column identifier, got {name!r}"
        )


def dot(
    x: Column | str, y: Column | str, dims: int | None = None
) -> Column:
    """Dot product, bit-identical to a left-to-right SQL
    list_dot_product over the same doubles.

    The fold is CodegenFallback (interpreted), but it is the FASTEST
    JVM-side option measured (round 11): 6us/pair on 64-dim arrays vs
    20us/pair for an unrolled element_at/get +/* chain — per-element
    scalar array access generates branch-heavy checked code that loses
    to the interpreted fold by 3x, and the unrolled chains additionally
    overflow the 64KB codegen method ceiling when fused into join
    stages (the whole stage then silently interprets). Corpus-scale
    vector arithmetic belongs in Arrow kernels (ivf_assign,
    lsh_bucket_frame); this fold is for per-pair/per-candidate scoring
    whose volume the bucketing already bounded. ``dims`` keeps the
    unrolled variant available for narrow hot projections (unused by
    default).

    STRING args take the parsed-SQL fast path (round 14 — the r6
    driver-time recipe): building the two lambdas through the Column
    API costs ~30 py4j round trips (~12 ms per dot() at bench scale,
    48 sites in this module), while one F.expr parse is a single round
    trip. The parsed ArrayAggregate is the identical expression —
    property-tested bit-equal in tests/test_properties.py."""
    if dims is None:
        if isinstance(x, str) and isinstance(y, str):
            _assert_simple_ident(x)
            _assert_simple_ident(y)
            return F.expr(
                f"aggregate(zip_with(`{x}`, `{y}`, (p, q) -> p * q), "
                f"0.0D, (acc, z) -> acc + z)"
            )
        x, y = F.col(x) if isinstance(x, str) else x, (
            F.col(y) if isinstance(y, str) else y
        )
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    out = F.element_at(x, 1) * F.element_at(y, 1)
    for i in range(2, dims + 1):
        out = out + F.element_at(x, i) * F.element_at(y, i)
    return out


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / F.nullif(F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)), F.lit(0.0))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


# Deterministic pseudo-random hyperplanes: r_j[i] = sin(i * j), i 1-based —
# reproducible in any engine without a shared RNG.
def _projection(v: Column, j: int) -> Column:
    # Hyperplane weights are LITERALS (round 11): the original
    # F.transform(sequence, sin) recomputed 64 JVM sins PER ROW per
    # hyperplane inside an unfoldable higher-order function — 128M sin
    # calls on a 200k-vector corpus at auto-bits 10 (sim14's first 100x
    # spot measured 78x wall, almost all of it here). Python's libm sin
    # is bit-identical to DuckDB's on every i*j input (verified: 0/1088
    # mismatches, where the JVM's intrinsic differs on 3 — a latent
    # sign-flip risk this change also retires); the fold over literal
    # weights is the same left-to-right sequence, so bucket ids are
    # unchanged wherever the JVM sins agreed and oracle-exact where
    # they did not.
    import math

    weights = F.array(*[F.lit(math.sin(float(i * j))) for i in range(1, 65)])
    return dot(v, weights)


def lsh_bucket(v: Column, bits: int = 2) -> Column:
    """Random-hyperplane LSH bucket id over ``bits`` hyperplanes
    (2^bits buckets). ``bits`` is THE recall/cost knob at scale: each
    extra bit halves the expected bucket (probe cost) and lowers recall;
    the measured curve lives in SCALE.md (round-6 ANN knob study).
    bits=2 is the oracle-checked default.

    Column form — fine for tests and tiny frames; the QUERY consumers
    use ``lsh_bucket_frame`` (below), because at auto-provisioned bits
    the bits x 64-term expression exceeds whole-stage codegen's 64KB
    method ceiling when fused into a join stage (WSCG cannot split
    expressions over pipeline-local variables) and the whole stage
    silently falls back to interpretation."""
    b: Column = F.lit(0).cast("long")
    for j in range(1, bits + 1):
        b = b + (_projection(v, j) >= 0).cast("long") * (1 << (bits - j))
    return b


def lsh_bucket_frame(
    df: DataFrame, bits: int, vec_col: str = "v", out: str = "bucket"
) -> DataFrame:
    """Append the LSH bucket id via one Arrow map pass (round 11 — the
    ivf_assign recipe applied to bucketing).

    Why a kernel and not the Column expression: at auto-provisioned
    bits the unrolled projection chains overflow the 64KB codegen
    method limit inside fused join stages (Janino falls back and the
    WHOLE stage — including the pair cosines — runs interpreted; d06
    measured 103s at 100x that way), while the earlier HOF fold ran
    interpreted by construction. Bit-exactness is structural: the
    projections are ``fold.fold_dot`` (the left-fold add sequence of
    the SQL ``list_dot_product``), the hyperplane weights are
    Python-libm sins (bit-identical to DuckDB's, verified 0/1088), and
    the output is an INTEGER bucket id.
    """
    import math

    import numpy as np

    from pyspark.sql import types as T

    w = np.array(
        [
            [math.sin(float(i * j)) for i in range(1, 65)]
            for j in range(1, bits + 1)
        ]
    )  # (bits, 64)
    # Fresh StructType — StructType.add MUTATES, and df.schema is the
    # DataFrame's cached object.
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.LongType())]
    )
    cols = [f.name for f in schema.fields]

    def _kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                pdf[out] = pd.Series([], dtype="int64")
                yield pdf[cols]
                continue
            vals = pdf[vec_col].to_numpy()
            # np.stack silently mangles (or cryptically raises on) NULL
            # or ragged embeddings the replaced Column expression would
            # have NULLed — fail loudly at the contract boundary instead.
            if any(x is None or len(x) != 64 for x in vals):
                raise ValueError(
                    f"lsh_bucket_frame: column {vec_col!r} contains NULL "
                    "or non-64-dim embeddings; filter or fix upstream"
                )
            acc = fold_dot(np.stack(vals), w)  # (n, bits)
            b = np.zeros(len(pdf), dtype=np.int64)
            for j in range(bits):
                b = b * 2 + (acc[:, j] >= 0).astype(np.int64)
            pdf[out] = b
            yield pdf[cols]

    return df.mapInPandas(_kernel, schema)


@register(
    "sim01_bruteforce_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             list_dot_product(q.qv, e.v)
               / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.v, e.v)), 0) AS cos
      FROM q JOIN e ON e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, (ROUND(cos, 6) + 0.0) AS cosine
    FROM (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def sim01_bruteforce_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 3
) -> DataFrame:
    # Exact kNN baseline: tiny query set broadcast against the corpus, then
    # per-query top-k (window on the query key — k small, no global sort).
    # Norms are projected BEFORE the join, so each corpus vector's norm is
    # computed once, not once per query (Q-fold savings; float-identical:
    # dot/(sqrt*sqrt) evaluates in the same order).
    emb = _emb(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(dot("v", "v")).alias("nv")
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", r6("cos").alias("cosine"))
    )


@register(
    "sim02_lsh_buckets",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), proj AS (
      SELECT vec_id,
             list_dot_product(v, list_transform(range(1, 65), i -> sin(i * 1.0))) AS p1,
             list_dot_product(v, list_transform(range(1, 65), i -> sin(i * 2.0))) AS p2
      FROM e
    )
    SELECT vec_id,
           CAST(CASE WHEN p1 >= 0 THEN 1 ELSE 0 END * 2
                + CASE WHEN p2 >= 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
    FROM proj
    """,
)
def sim02_lsh_buckets(spark: SparkSession, sf_dir: str, bits: int = 2) -> DataFrame:
    # Random-hyperplane LSH bucketing (sign of ``bits`` fixed projections
    # -> 2^bits buckets). At scale this is the partition key for ANN: one
    # shuffle, queries probe one bucket instead of the corpus. ``bits``
    # parameterizes the recall/cost trade (default 2 = the oracle).
    emb = _emb(spark, sf_dir)
    return lsh_bucket_frame(emb.select("vec_id", "v"), bits).select(
        "vec_id", "bucket"
    )


def _ivf_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(dot("v", "v")).alias("nv")
    )


def _ivf_scorer(
    emb: DataFrame, cent: DataFrame, n_keep: int, emit, schema: str
) -> DataFrame:
    """The broadcast-codebook cosine scorer behind ``ivf_assign`` (top-1)
    and ``ivf_probe_topn`` (top-n): one Arrow map pass over ``emb``
    (vec_id, v, nv) in the scan's own partitions. Each 2048-row block
    scores every centroid with ``fold.cosine_scores`` (the SQL
    ``dot / NULLIF(nv * nc, 0)``, zero denominators -inf == NULLS LAST)
    and keeps the ``n_keep`` best centroids per row in ``ORDER BY cosc
    DESC, cid`` order: argmax for one (first index over the cid-sorted
    axis), a stable argsort for more — ties go to the lowest cid.
    ``emit(pdf, cids)`` shapes each output batch from the (rows,
    n_keep) cid matrix."""
    import numpy as np

    cent_rows = sorted(cent.collect(), key=lambda r: r["cid"])
    bc = emb.sparkSession.sparkContext.broadcast(
        (
            np.array([r["cid"] for r in cent_rows], dtype=np.int64),
            np.array([list(r["cv"]) for r in cent_rows]),  # (K, D)
            np.array([r["nc"] for r in cent_rows], dtype=np.float64),
        )
    )

    def _score(batches):
        import numpy as np

        IDS, C, NC = bc.value
        keep = min(n_keep, len(IDS))
        block = 2048
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())          # (n, D)
            nv = pdf["nv"].to_numpy()                  # (n,)
            top = np.empty((len(V), keep), dtype=np.int64)
            for lo in range(0, len(V), block):
                cosc = cosine_scores(
                    V[lo:lo + block], C, nv[lo:lo + block], NC
                )
                if keep == 1:
                    top[lo:lo + block, 0] = np.argmax(cosc, axis=1)
                else:
                    top[lo:lo + block] = np.argsort(
                        -cosc, axis=1, kind="stable"
                    )[:, :keep]
            yield emit(pdf, IDS[top])

    return emb.mapInPandas(_score, schema)


def ivf_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Inverted-list coarse assignment WITHOUT a corpus shuffle
    (round-8): each (vec_id, v, nv) row gets the cid of its max-cosine
    centroid, ties to the lowest cid (``ORDER BY cosc DESC, cid``),
    through the Arrow scorer ``_ivf_scorer`` — a genuinely numeric
    kernel, exactly FAISS's BLAS-backed coarse scan, whose left-fold
    cosines are bit-exact against the JVM/DuckDB fold. Shared by sim04,
    sim08, d17, ml23 and the cosine Lloyd step.

    SCALING CONTRACT (round 14, r13 ADVICE): the codebook is collected
    once on the driver (K rows) and shipped via spark BROADCAST — one
    torrent transfer per executor, NOT a per-task closure pickle. Cost
    is stated, not hidden: the assignment leg is O(N*K*D) multiply-adds
    and the codebook is O(K*D) doubles driver- and executor-side. With
    the engine's auto-provisioned K = ceil(N/256) (d17/ml23) that
    assignment is ASYMPTOTICALLY O(N^2*D/256) and the codebook grows
    linearly with the corpus — the practical ceiling for this
    single-level trained quantizer is K ~ 2^16 (N ~ 2^24 vectors:
    32 MB codebook at D=64, ~10^14 flops/pass). Past that, production
    needs a TWO-LEVEL (hierarchical) coarse assignment — sqrt(K)
    super-centroids prune to a candidate centroid subset before the
    exact argmax. That shape IS implemented as its own registered
    surface (sim15_two_level_ivf_topk, round 14) with a CTE-for-CTE
    DuckDB mirror; flat ivf_assign remains the exact-argmax primitive
    the trainer and the at-or-below-ceiling queries use. The prune/
    candidate volume downstream of assignment remains linear in N
    either way."""
    return _ivf_scorer(
        emb, cent, 1, lambda pdf, cids: pdf.assign(cid=cids[:, 0]),
        "vec_id bigint, v array<double>, nv double, cid bigint",
    )


def ivf_probe(
    emb: DataFrame, cent: DataFrame, nprobe: int, n_queries: int = 3
) -> DataFrame:
    """Per-query top-``nprobe`` centroid probe set — a tiny branch (the
    vec_id filter pushes down to an ``n_queries``-row scan)."""
    cosc = dot("v", "cv") / F.nullif(
        F.col("nv") * F.col("nc"), F.lit(0.0)
    )
    scored_q = (
        emb.filter(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "nv", "cid", cosc.alias("cosc"))
    )
    wq = Window.partitionBy("vec_id").orderBy(F.desc("cosc"), "cid")
    return (
        scored_q
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
            F.col("nv").alias("nq"), F.col("cid").alias("qcid"),
        )
    )


def ivf_probe_topn(emb_q: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Top-``nprobe`` coarse-centroid probe WITHOUT a query-side
    crossJoin (round 13 — ivf_assign's Arrow scorer extended from
    argmax to arg-top-n, for eval sets that SCALE with the corpus).
    ml23's eval set is ``N / eval_mod`` queries; scoring it against an
    auto-provisioned K ~ N/256 codebook via crossJoin + window is
    O(N^2/(eval_mod*256)) rows through the interpreted HOF fold,
    whereas ``_ivf_scorer`` is one numpy pass per Arrow batch in the
    scan's own partitions, with exactly ``row_number() OVER (ORDER BY
    cosc DESC, cid) <= nprobe`` semantics (pinned against ``ivf_probe``
    in tests/test_properties.py). Emits (q_id, qv, qcid), one row per
    (query, probed list); the same O(N*K*D) / single-level-quantizer
    ceiling note as ``ivf_assign`` applies."""

    def _emit(pdf, cids):
        import numpy as np
        import pandas as pd

        n = cids.shape[1]
        return pd.DataFrame(
            {
                "q_id": np.repeat(pdf["vec_id"].to_numpy(), n),
                "qv": np.repeat(pdf["v"].to_numpy(), n),
                "qcid": cids.ravel(),
            }
        )

    return _ivf_scorer(
        emb_q, cent, nprobe, _emit, "q_id bigint, qv array<double>, qcid bigint"
    )


# Bounded-sample training runs FUSED in one Arrow task up to this many
# sample rows (round 14, optimization round — guide §2.4/§4.2): with
# train_limit = max(2048, 8K) the fused ceiling corresponds to K = 8192
# (N ~ 2M vectors under the engine's auto-K = ceil(N/256)), far above
# the documented single-level-quantizer ceiling where sim15's two-level
# path takes over anyway. Below it, the per-iteration DataFrame plumbing
# (broadcast joins + collect_list shuffles + interpreted HOF mean folds
# + re-executed lineage per Lloyd step) cost ~3.2 s per PQ training and
# ~1.5 s per coarse training at sf0.1 on a quiet local[32] — pure
# orchestration over a <= 1 MB sample. The fused kernel
# (``_lloyd_fused`` over ``fold.lloyd``) computes the identical fold
# sequences as the DataFrame step ``_lloyd_step`` (assignment = the
# fold scorers; means = the ordered left fold over members by vec_id;
# norms = the dot() left fold) in a single mapInPandas task fed by ONE
# exchange of the bounded sample, so the trained codebooks are
# BIT-IDENTICAL (pinned by
# tests/test_properties.py::test_fused_trainers_match_distributed_path
# and the K=288 cross-engine mirror test). ``_train_codebook`` picks
# the path from ``train_limit`` alone; above the ceiling the step runs
# once per iteration.
_FUSED_TRAIN_MAX = 65536


def _as_ivf(cb: DataFrame) -> DataFrame:
    """A one-subspace (m, j, c) codebook as the coarse quantizer's
    (cid, cv, nc), with nc = sqrt(dot(cv, cv)) as the oracle folds it."""
    return cb.select(
        F.col("j").alias("cid"), F.col("c").alias("cv"),
        F.sqrt(dot("c", "c")).alias("nc"),
    )


def _lloyd_fused(
    train: DataFrame, n_centroids: int, iters: int, cosine: bool
) -> DataFrame:
    """``iters`` Lloyd steps over the bounded sample in one Arrow task —
    see _FUSED_TRAIN_MAX. Same frames in and out as ``_lloyd_step``;
    the cosine (IVF) sample is one subspace m = 0. Each subspace trains
    ``fold.lloyd`` from its seeds vec_id < n_centroids. The sample
    arrives via one tiny exchange (repartition(1) keeps the upstream
    scan parallel); the kernel re-sorts by (m, vec_id), so arrival order
    is irrelevant."""
    if cosine:
        train = train.select(
            "vec_id", F.lit(0).alias("m"), F.col("v").alias("x")
        )

    def _train_kernel(batches):
        import numpy as np
        import pandas as pd

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(["m", "vec_id"])
        out = []
        for m, g in pdf.groupby("m", sort=True):
            X = np.stack(g["x"].to_numpy())  # ascending vec_id
            ids = g["vec_id"].to_numpy()
            seed = ids < n_centroids  # ascending j
            if seed.any():
                C = lloyd(X, X[seed], iters, cosine)
                out.append(pd.DataFrame({"m": m, "j": ids[seed], "c": list(C)}))
        if out:
            yield pd.concat(out, ignore_index=True)

    cb = train.repartition(1).mapInPandas(
        _train_kernel, "m int, j bigint, c array<double>"
    )
    return _as_ivf(cb) if cosine else cb


def _lloyd_step(
    train: DataFrame, cb: DataFrame, cosine: bool = False
) -> DataFrame:
    """One Lloyd iteration as DataFrame ops: the path above
    _FUSED_TRAIN_MAX, and the reference the fused kernel is tested
    against. PQ (default): sample (vec_id, m, x) and codebook (m, j, c),
    squared-L2 assignment by ``_pq_assign``. ``cosine``: the IVF coarse
    quantizer as one subspace, sample (vec_id, v, nv) and codebook
    (cid, cv, nc), spherical assignment by the ``ivf_assign`` Arrow
    kernel (zero denominators last). Both break ties to the lowest
    centroid id — the oracle's ORDER BY. Each centroid becomes the
    per-dimension ORDERED fold mean over its members (by vec_id), so
    Spark and DuckDB sum the identical sequence; the width is the
    member vectors'. Empty clusters keep their previous centroid. One
    tiny shuffle per iteration (|subspaces| x |centroids| groups); the
    sample is bounded, so training cost is CONSTANT in corpus size."""
    if cosine:
        asg = ivf_assign(train, cb).select(
            "vec_id", F.lit(0).alias("m"), F.col("v").alias("x"),
            F.col("cid").alias("j"),
        )
        cb = cb.select(
            F.lit(0).alias("m"), F.col("cid").alias("j"), F.col("cv").alias("c")
        )
    else:
        asg = _pq_assign(train, cb)
    grouped = asg.groupBy("m", "j").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "x"))).alias("lst"),
        F.count(F.lit(1)).alias("n"),
    )
    newc = grouped.select(
        "m", "j",
        F.transform(
            F.col("lst")[0]["x"],
            lambda _, i: F.aggregate(
                F.transform("lst", lambda e: e["x"][i]),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
            / F.col("n"),
        ).alias("cnew"),
    )
    upd = cb.join(F.broadcast(newc), ["m", "j"], "left").select(
        "m", "j", F.coalesce("cnew", "c").alias("c")
    )
    return _as_ivf(upd) if cosine else upd


def _train_codebook(
    train: DataFrame,
    seed: DataFrame,
    n_centroids: int,
    iters: int,
    train_limit: int,
    cosine: bool,
) -> DataFrame:
    """Lloyd's k-means from ``seed`` over the bounded ``train`` sample
    (frames as in ``_lloyd_step``): fused up to _FUSED_TRAIN_MAX sample
    rows, one DataFrame step per iteration above it."""
    if train_limit <= _FUSED_TRAIN_MAX:
        return _lloyd_fused(train, n_centroids, iters, cosine)
    for _ in range(iters):
        seed = _lloyd_step(train, seed, cosine)
    return seed


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 4,
    iters: int = 2,
    train_limit: int | None = None,
) -> DataFrame:
    """Spherical k-means for the IVF COARSE quantizer (round 9): the
    one-subspace, cosine-objective case of the PQ trainer
    ``pq_train_codebook`` (both run ``_train_codebook``). Seed = the
    ``n_centroids`` lowest vec_ids' vectors; training reads only the
    ``train_limit`` lowest-id vectors (the bounded-sample recipe —
    codebooks need a multiple of n_centroids vectors, not the corpus).
    ``train_limit`` defaults to max(2048, 8 * n_centroids) (round 13):
    the old fixed 2048 silently starved auto-provisioned codebooks —
    past K=2048 most seeds had NO training members and the "trained"
    quantizer degenerated back to round-8's seed quantizer (whose
    composed recall@3 was 0.56, the very thing training fixed); 8x
    keeps every centroid coverable while staying corpus-independent.
    The SQL mirror (``_ivf_train_sql``) derives the identical bound
    from the same K expression, so engines stay in lockstep at every
    scale. Returns (cid, cv, nc) — the same shape the seed quantizer
    produced, so ``ivf_assign``/``ivf_probe`` compose unchanged."""
    if train_limit is None:
        train_limit = max(2048, 8 * n_centroids)
    train = emb.filter(F.col("vec_id") < train_limit).select(
        "vec_id", "v", "nv"
    )
    seed = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
    )
    return _train_codebook(
        train, seed, n_centroids, iters, train_limit, cosine=True
    )


# DuckDB mirror of ivf_train_centroids: the identical seed, assignment
# ordering, and per-dimension ordered-fold means (list_reduce over
# members by vec_id == Spark's aggregate over the array_sort'ed
# collect_list), so the trained centroids are bit-exact cross-engine.
# Composes after any chain that defines an `e`(vec_id, v) CTE.
_IVF_TRAIN_ITER = """
    , ia{t} AS (
      SELECT vec_id, v, cid FROM (
        SELECT s.vec_id, s.v, cb.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY
                 list_dot_product(s.v, cb.cv)
                   / NULLIF(s.nv * sqrt(list_dot_product(cb.cv, cb.cv)), 0)
                   DESC, cb.cid) AS rn
        FROM itr s CROSS JOIN icb{p} cb
      ) WHERE rn = 1
    ), isum{t} AS (
      SELECT cid, i,
             list_reduce(list(v[i] ORDER BY vec_id),
                         (acc, val) -> acc + val) / count(*) AS ci
      FROM ia{t} CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
      GROUP BY cid, i
    ), ic{t} AS (
      SELECT cid, list(ci ORDER BY i) AS cv FROM isum{t} GROUP BY cid
    ), icb{t} AS (
      SELECT prev.cid, COALESCE(ic{t}.cv, prev.cv) AS cv
      FROM icb{p} prev LEFT JOIN ic{t} ON ic{t}.cid = prev.cid
    )
"""
def _ivf_train_sql(k: str = "4") -> str:
    """Train-SQL factory: ``k`` is any SQL integer expression for the
    centroid count (a literal for the fixed-K ANN queries; a scalar
    subquery over the corpus for d17's auto-K ~ sqrt(N) provisioning).
    The seed is the ``k`` lowest vec_ids, identical to
    ``ivf_train_centroids(n_centroids=k)``."""
    return (
        """
    , itr AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv
      FROM e WHERE vec_id < GREATEST(2048, 8 * ("""
        + k
        + """))
    ), icb0 AS (
      SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < """
        + k
        + """
    )"""
        + _IVF_TRAIN_ITER.format(t=1, p=0)
        + _IVF_TRAIN_ITER.format(t=2, p=1)
    )


_IVF_TRAIN_SQL = _ivf_train_sql("4")


@register(
    "sim04_ivf_ann_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
      SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN (5, 17, 29, 41)
    ), sc AS (
      SELECT e.vec_id, e.v, c.cid,
             list_dot_product(e.v, c.cv)
               / NULLIF(sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(c.cv, c.cv)), 0) AS cosc
      FROM e CROSS JOIN c
    ), assigned AS (
      SELECT vec_id, v, cid
      FROM (SELECT vec_id, v, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosc DESC, cid) AS rn
            FROM sc)
      WHERE rn = 1
    ), probe AS (
      SELECT vec_id AS q_id, v AS qv, cid AS qcid
      FROM (SELECT vec_id, v, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosc DESC, cid) AS rn
            FROM sc WHERE vec_id < 3)
      WHERE rn <= 2
    ), cand0 AS (
      SELECT p.q_id, p.qcid, a.vec_id,
             list_dot_product(list_slice(p.qv, 1, 16),
                              list_slice(a.v, 1, 16)) AS part
      FROM probe p JOIN assigned a ON a.cid = p.qcid AND a.vec_id <> p.q_id
    ), capped AS (
      SELECT q_id, vec_id
      FROM (SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id, qcid
                                      ORDER BY part DESC, vec_id) AS prn
            FROM cand0)
      WHERE prn <= 64
    ), cand AS (
      SELECT c.q_id, c.vec_id,
             list_dot_product(q.v, x.v)
               / NULLIF(sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(x.v, x.v)), 0) AS cos
      FROM capped c
      JOIN e q ON q.vec_id = c.q_id
      JOIN e x ON x.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, (ROUND(cos, 6) + 0.0) AS cosine
    FROM (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM cand)
    WHERE rn <= 3
    """,
)
def sim04_ivf_ann_topk(
    spark: SparkSession,
    sf_dir: str,
    centroid_ids: tuple = (5, 17, 29, 41),
    nprobe: int = 2,
    k: int = 3,
    per_probe_cap: int = 64,
    n_queries: int = 3,
) -> DataFrame:
    # IVF (inverted-file) ANN — the other classic scale path next to LSH
    # (sim03). A small coarse quantizer (fixed seed centroids, standing in
    # for an offline-trained codebook) is broadcast; every vector is
    # assigned to its nearest centroid (argmax cosine) by the Arrow
    # scorer `ivf_assign` (zero corpus shuffle), forming inverted lists
    # keyed by centroid id. Queries probe their ``nprobe`` nearest
    # lists; a cheap partial distance caps each probed list before the
    # exact cosine re-rank. The codebook size |centroid_ids|, ``nprobe``
    # and ``per_probe_cap`` are THE recall/cost knobs (probe fraction
    # ~= nprobe / K); defaults = the oracle.
    emb = _ivf_emb(spark, sf_dir)
    cent = emb.filter(F.col("vec_id").isin(*centroid_ids)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nv").alias("nc")
    )
    assigned = ivf_assign(emb, cent)
    qprobe = ivf_probe(emb, cent, nprobe, n_queries=n_queries)
    # Bounded re-rank (round-8): the probed lists grow linearly with the
    # corpus, and computing the full 64-dim cosine fold for EVERY
    # candidate made sim04 the one superlinear-wall query at 100x data.
    # Per-candidate work is now ONE 16-dim partial dot, UNROLLED into a
    # plain +/* expression chain (higher-order-function folds run
    # interpreted — the SCALE.md gotcha — so the scan-phase expression
    # must stay inside codegen); the chain sums left-to-right, the
    # identical sequence DuckDB's list_dot_product folds. The cap
    # window carries only (q_id, qcid, vec_id, part) — raw vectors do
    # NOT ride through the shuffle; the top `per_probe_cap` ids per
    # (query, probe) re-fetch their vectors via a broadcast join back
    # onto the (column-pruned) embeddings scan, and only those rows pay
    # the full cosine folds. Re-rank cost is O(Q * nprobe * cap)
    # regardless of corpus size.
    part = F.element_at(F.col("qv"), 1) * F.element_at(F.col("v"), 1)
    for i in range(2, 17):
        part = part + F.element_at(F.col("qv"), i) * F.element_at(F.col("v"), i)
    cand0 = (
        F.broadcast(qprobe)
        .join(assigned, (F.col("qcid") == F.col("cid")) & (F.col("vec_id") != F.col("q_id")))
        .select("q_id", "qcid", "vec_id", part.alias("part"))
    )
    wc = Window.partitionBy("q_id", "qcid").orderBy(F.desc("part"), "vec_id")
    capped = (
        cand0.withColumn("prn", F.row_number().over(wc))
        .filter(F.col("prn") <= per_probe_cap)
        .select("q_id", "vec_id")
    )
    # Late materialization: fetch vectors for only the capped ids.
    base = _emb(spark, sf_dir).select("vec_id", "v")
    qvec = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv")
    )
    cos = dot("qv", "v") / F.nullif(
        F.sqrt(dot("qv", "qv")) * F.sqrt(dot("v", "v")),
        F.lit(0.0),
    )
    cand = (
        F.broadcast(capped)
        .join(base, "vec_id")
        .join(F.broadcast(qvec), F.col("q_id") == F.col("qq_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", r6("cos").alias("cosine"))
    )


@register(
    "sim03_lsh_ann_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v,
             CAST(CASE WHEN list_dot_product(v, list_transform(range(1, 65), i -> sin(i * 1.0))) >= 0
                       THEN 1 ELSE 0 END * 2
                + CASE WHEN list_dot_product(v, list_transform(range(1, 65), i -> sin(i * 2.0))) >= 0
                       THEN 1 ELSE 0 END AS BIGINT) AS bucket
      FROM e
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < 3
    ), scored AS (
      SELECT q.q_id, b.vec_id,
             list_dot_product(q.qv, b.v)
               / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(b.v, b.v)), 0) AS cos
      FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, (ROUND(cos, 6) + 0.0) AS cosine
    FROM (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def sim03_lsh_ann_topk(
    spark: SparkSession, sf_dir: str, bits: int = 2, k: int = 3
) -> DataFrame:
    # ANN via bucket pruning: candidates share the query's LSH bucket
    # (equi-join on bucket), then exact cosine re-rank — the IVF/LSH scale
    # pattern from sim01's baseline. ``bits`` sets the bucket count
    # (recall/cost knob, default = oracle).
    emb = _emb(spark, sf_dir)
    bucketed = lsh_bucket_frame(emb.select("vec_id", "v"), bits).select(
        "vec_id", "v", "bucket",
        F.sqrt(dot("v", "v")).alias("nv"),
    )
    q = bucketed.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"), F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(bucketed, (F.col("qb") == F.col("bucket")) & (F.col("vec_id") != F.col("q_id")))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", r6("cos").alias("cosine"))
    )


@register(
    "sim05_ann_recall",
    # Recall@k of the LSH-ANN path against the exact baseline — the
    # evaluation every ANN deployment runs before trusting the index.
    # Both top-k sets are fully deterministic (ties broken by vec_id),
    # so recall is a ratio of small exact integers.
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v,
             CAST(CASE WHEN list_dot_product(v, list_transform(range(1, 65), i -> sin(i * 1.0))) >= 0
                       THEN 1 ELSE 0 END * 2
                + CASE WHEN list_dot_product(v, list_transform(range(1, 65), i -> sin(i * 2.0))) >= 0
                       THEN 1 ELSE 0 END AS BIGINT) AS bucket
      FROM e
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < 3
    ), exact_topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 list_dot_product(q.qv, e.v)
                   / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(e.v, e.v)), 0) DESC, e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.q_id
      ) WHERE rn <= 3
    ), ann_topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, b.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 list_dot_product(q.qv, b.v)
                   / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(b.v, b.v)), 0) DESC, b.vec_id) AS rn
        FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id
      ) WHERE rn <= 3
    )
    SELECT x.q_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (ROUND(count(a.vec_id) * 1.0 / count(*), 6) + 0.0) AS recall_at_3
    FROM exact_topk x
    LEFT JOIN ann_topk a ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    GROUP BY x.q_id
    """,
)
def sim05_ann_recall(
    spark: SparkSession, sf_dir: str, bits: int = 2, k: int = 3
) -> DataFrame:
    # Composition query: exact top-k (sim01's shape) vs LSH-bucket top-k
    # (sim03's shape), joined per query to measure recall@k. Scale: the
    # exact side is the expensive one by construction — in production
    # it runs on a SAMPLE of queries (this Q=3 set), which is precisely
    # what makes the evaluation affordable at 100 TB while the ANN path
    # serves the full load. ``bits`` sweeps the knob (scripts/ann_sweep.py
    # records the recall/cost curve in SCALE.md); defaults = the oracle.
    emb = _emb(spark, sf_dir)
    bucketed = lsh_bucket_frame(emb.select("vec_id", "v"), bits).select(
        "vec_id", "v", "bucket",
        F.sqrt(dot("v", "v")).alias("nv"),
    )
    q = bucketed.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"), F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")

    def topk(cand: DataFrame) -> DataFrame:
        return (
            cand.select("q_id", "vec_id", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("q_id", "vec_id")
        )

    exact = topk(
        F.broadcast(q).join(bucketed, F.col("vec_id") != F.col("q_id"))
    )
    ann = topk(
        F.broadcast(q).join(
            bucketed,
            (F.col("qb") == F.col("bucket")) & (F.col("vec_id") != F.col("q_id")),
        )
    )
    hit = ann.select("q_id", F.col("vec_id").alias("hit_id"))
    return (
        exact.join(
            hit,
            (exact.q_id == hit.q_id) & (exact.vec_id == hit.hit_id),
            "left",
        )
        .select(exact.q_id.alias("q_id"), "vec_id", "hit_id")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit_id").alias("n_hit"),
            r6(F.count("hit_id") * 1.0 / F.count(F.lit(1))).alias(f"recall_at_{k}"),
        )
    )


# ml12's oracle, shared with ml13's confusion-matrix roll-up.
_ML12_SQL = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, label AS true_label
      FROM e WHERE vec_id % 20 = 0
    ), scored AS (
      SELECT q.q_id, q.true_label, e.vec_id, e.label,
             list_dot_product(q.qv, e.v)
               / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.v, e.v)), 0) AS cos
      FROM q JOIN e ON e.vec_id <> q.q_id
    ), nn AS (
      SELECT q_id, true_label, label FROM (
        SELECT q_id, true_label, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 3
    ), votes AS (
      SELECT q_id, true_label, label, CAST(count(*) AS BIGINT) AS n
      FROM nn GROUP BY q_id, true_label, label
    )
    SELECT q_id, true_label, label AS pred_label,
           (label = true_label) AS correct
    FROM (
      SELECT q_id, true_label, label, n,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY n DESC, label) AS vrk
      FROM votes
    ) WHERE vrk = 1
    """


@register(
    "ml12_knn_classify",
    # kNN label classification over the embedding column: every 20th
    # vector is an eval query, its label predicted by majority vote of
    # its 3 exact nearest neighbors (cosine; ties in the vote resolve to
    # the SMALLEST label). The per-query accuracy bit is the output —
    # the eval loop a similarity-search deployment runs before swapping
    # brute force for ANN.
    oracle=_ML12_SQL,
)
def ml12_knn_classify(
    spark: SparkSession, sf_dir: str, eval_mod: int = 20
) -> DataFrame:
    # sim01's exact-kNN physical shape (norms projected pre-join, eval
    # queries broadcast into a BNLJ against the corpus) extended with a
    # two-window vote: top-3 by cosine, then majority label. The eval
    # set is a fixed 5% sample — at 100 TB an eval set stays
    # broadcast-sized by construction; the corpus side only streams.
    emb = _emb(spark, sf_dir).select(
        "vec_id", "v", "label", F.sqrt(dot("v", "v")).alias("nv")
    )
    q = emb.filter(F.col("vec_id") % eval_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("label").alias("true_label"), F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "true_label", "vec_id", "label", cos.alias("cos"))
    )
    wnn = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    nn = (
        scored.withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") <= 3)
        .select("q_id", "true_label", "label")
    )
    votes = nn.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select(
            "q_id", "true_label",
            F.col("label").alias("pred_label"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


@register(
    "ml13_confusion_matrix",
    # Per-label precision/recall over ml12's kNN predictions — the eval
    # report that decides whether the similarity stack ships. tp/fp/fn
    # are exact counts from the same deterministic prediction set; a
    # label missing on one side contributes zeros (full outer join).
    oracle=f"""
    WITH preds AS ({_ML12_SQL}),
    tl AS (
      SELECT true_label AS label,
             CAST(count(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM preds GROUP BY true_label
    ), pl AS (
      SELECT pred_label AS label,
             CAST(count(*) AS BIGINT) AS n_pred
      FROM preds GROUP BY pred_label
    )
    SELECT COALESCE(tl.label, pl.label) AS label,
           COALESCE(tl.tp, 0) AS tp,
           COALESCE(pl.n_pred, 0) - COALESCE(tl.tp, 0) AS fp,
           COALESCE(tl.n_true, 0) - COALESCE(tl.tp, 0) AS fn,
           (ROUND(COALESCE(tl.tp, 0) * 1.0
                  / NULLIF(COALESCE(pl.n_pred, 0), 0), 6) + 0.0)
             AS precision_,
           (ROUND(COALESCE(tl.tp, 0) * 1.0
                  / NULLIF(COALESCE(tl.n_true, 0), 0), 6) + 0.0) AS recall_
    FROM tl FULL OUTER JOIN pl ON tl.label = pl.label
    """,
)
def ml13_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Composes ml12 with ONE label aggregate: each prediction row
    # explodes into a (role, label) pair — its true-label row and its
    # pred-label row — so true-side and pred-side counts come out of a
    # single groupBy and the expensive kNN stage executes ONCE. (Two
    # independent aggregations over the ml12 DataFrame would each re-run
    # the broadcast-NLJ scoring pipeline: subplans above a reused
    # broadcast are not shared across join branches.) The label union is
    # implicit, so the previous full-outer-join semantics — a label
    # missing on one side contributes zeros — are preserved exactly.
    preds = ml12_knn_classify(spark, sf_dir)
    pairs = preds.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("t").alias("role"),
                    F.col("true_label").alias("label"),
                    F.col("correct").alias("correct"),
                ),
                F.struct(
                    F.lit("p").alias("role"),
                    F.col("pred_label").alias("label"),
                    F.lit(None).cast("boolean").alias("correct"),
                ),
            )
        ).alias("x")
    ).select("x.role", "x.label", "x.correct")
    is_t = F.col("role") == "t"
    g = pairs.groupBy("label").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(is_t & F.col("correct"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("n_pred"),
    )
    return g.select(
        "label",
        F.col("tp"),
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_true") - F.col("tp")).alias("fn"),
        r6(F.col("tp") * F.lit(1.0) / F.nullif(F.col("n_pred"), F.lit(0))).alias(
            "precision_"
        ),
        r6(F.col("tp") * F.lit(1.0) / F.nullif(F.col("n_true"), F.lit(0))).alias(
            "recall_"
        ),
    )


_ML23_SQL = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ){train}
    , sc AS (
      SELECT e.vec_id, e.v, e.label, cb.cid,
             list_dot_product(e.v, cb.cv)
               / NULLIF(sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(cb.cv, cb.cv)), 0) AS cosc
      FROM e CROSS JOIN icb2 cb
    ), assigned AS (
      SELECT vec_id, v, cid
      FROM (SELECT vec_id, v, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosc DESC, cid) AS rn
            FROM sc)
      WHERE rn = 1
    ), probe AS (
      SELECT q_id, qv, true_label, qcid
      FROM (SELECT vec_id AS q_id, v AS qv, label AS true_label,
                   cid AS qcid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosc DESC, cid) AS rn
            FROM sc WHERE vec_id % 20 = 0)
      WHERE rn <= 2
    ), cand0 AS (
      SELECT p.q_id, p.qcid, a.vec_id,
             list_dot_product(list_slice(p.qv, 1, 16),
                              list_slice(a.v, 1, 16)) AS part
      FROM probe p JOIN assigned a ON a.cid = p.qcid AND a.vec_id <> p.q_id
    ), capped AS (
      SELECT q_id, vec_id
      FROM (SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id, qcid
                                      ORDER BY part DESC, vec_id) AS prn
            FROM cand0)
      WHERE prn <= 64
    ), cand AS (
      SELECT cp.q_id, q.label AS true_label, cp.vec_id, x.label,
             list_dot_product(q.v, x.v)
               / NULLIF(sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(x.v, x.v)), 0) AS cos
      FROM capped cp
      JOIN e q ON q.vec_id = cp.q_id
      JOIN e x ON x.vec_id = cp.vec_id
    ), nn AS (
      SELECT q_id, true_label, label FROM (
        SELECT q_id, true_label, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn <= 3
    ), votes AS (
      SELECT q_id, true_label, label, CAST(count(*) AS BIGINT) AS n
      FROM nn GROUP BY q_id, true_label, label
    )
    SELECT q_id, true_label, label AS pred_label,
           (label = true_label) AS correct
    FROM (
      SELECT q_id, true_label, label, n,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY n DESC, label) AS vrk
      FROM votes
    ) WHERE vrk = 1
    """


@register(
    "ml23_knn_classify_ann",
    # ml12 with the brute-force cross join swapped for the IVF
    # shortlist — the PRODUCTION eval loop once the ANN stack ships,
    # with ml12 kept as the documented brute-force audit. Every
    # `eval_mod`-th vector is an eval query, so the eval set SCALES
    # with the corpus (ml12's contract) — which is why every knob and
    # join here must scale on the corpus axis too (round 13; round 12's
    # fixed 4-centroid codebook made candidate volume
    # O(N^2/(eval_mod*K)) and the 100x corpus spot leg was killed at
    # 35 minutes):
    #   * the coarse quantizer auto-provisions K = max(4, ceil(N/256))
    #     (the d06/sim13/d17 integer contract — ~256-vector inverted
    #     lists at any corpus) and is TRAINED via ivf_train_centroids
    #     (bounded sample, bit-exact DuckDB mirror CTE), so per-query
    #     candidate volume is O(nprobe * N/K) ~= nprobe * 256 and
    #     TOTAL candidate volume is O(N * nprobe * 256 / eval_mod) —
    #     linear in the corpus (the coarse ASSIGNMENT leg itself is
    #     O(N*K*D) against the broadcast codebook — see ivf_assign's
    #     round-14 scaling contract for the single-level ceiling);
    #   * the probe stage is the Arrow arg-top-n kernel ivf_probe_topn
    #     in the scan's own partitions — no query-side crossJoin
    #     against a codebook whose K now scales;
    #   * NO side carries a broadcast hint: queries, candidates, and
    #     capped ids all grow O(N), so the probe join and the late-
    #     materialization joins shuffle on their keys (cid / vec_id /
    #     q_id — cid cardinality scales with K, lists stay ~256, so the
    #     shuffle is skew-free by construction); only 16-dim slices
    #     shuffle before the cap, full vectors only for capped ids.
    # A 16-dim partial dot caps each probed list at `per_probe_cap`;
    # only capped ids pay the exact cosine re-rank before the same
    # majority vote ml12 runs.
    oracle=_ML23_SQL,
)
def ml23_knn_classify_ann(
    spark: SparkSession,
    sf_dir: str,
    eval_mod: int = 20,
    nprobe: int = 2,
    per_probe_cap: int = 64,
    n_centroids: int | None = None,
) -> DataFrame:
    emb = _ivf_emb(spark, sf_dir)
    if n_centroids is None:
        # ceil(N/256) in pure integer arithmetic (the d06 auto-bits
        # contract, dedup.py) — one cheap count job provisions
        # ~256-vector inverted lists at every corpus scale; floor 4
        # keeps tiny fixtures meaningful.
        n_centroids = max(4, (table_rows(sf_dir, "embeddings") + 255) // 256)
    cent = ivf_train_centroids(
        emb, n_centroids=n_centroids, iters=2
    ).localCheckpoint(eager=False)
    assigned = ivf_assign(emb, cent)
    qprobe = ivf_probe_topn(
        emb.filter(F.col("vec_id") % eval_mod == 0), cent, nprobe
    )
    # Only the 16-dim prefix crosses the cid shuffle; the partial-dot
    # chain folds it left-to-right == list_slice + list_dot_product.
    a16 = assigned.select(
        "vec_id", "cid", F.slice("v", 1, 16).alias("v16")
    )
    q16 = qprobe.select(
        "q_id", "qcid", F.slice("qv", 1, 16).alias("qv16")
    )
    part = F.element_at(F.col("qv16"), 1) * F.element_at(F.col("v16"), 1)
    for i in range(2, 17):
        part = part + F.element_at(F.col("qv16"), i) * F.element_at(
            F.col("v16"), i
        )
    # shuffle_hash hints pin ONE physical shape at every scale: without
    # them the planner broadcasts the (smaller but O(N)) probe side at
    # test SFs and flips to shuffle at 100x — exactly the plan cliff the
    # spot's exchange gate exists to catch. SHJ on cid is the at-scale
    # plan by construction (lists ~256 rows, skew-free), and AQE can
    # still locally re-optimize at runtime without changing the plan.
    cand0 = (
        q16.hint("shuffle_hash")
        .join(
            a16,
            (F.col("qcid") == F.col("cid"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "qcid", "vec_id", part.alias("part"))
    )
    wc = Window.partitionBy("q_id", "qcid").orderBy(F.desc("part"), "vec_id")
    capped = (
        cand0.withColumn("prn", F.row_number().over(wc))
        .filter(F.col("prn") <= per_probe_cap)
        .select("q_id", "vec_id")
    )
    # Late materialization: vectors + labels for capped ids only.
    base = _emb(spark, sf_dir).select("vec_id", "v", "label")
    qvec = base.filter(F.col("vec_id") % eval_mod == 0).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv"),
        F.col("label").alias("true_label"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.sqrt(dot("qv", "qv"))
        * F.sqrt(dot("v", "v")),
        F.lit(0.0),
    )
    cand = (
        capped.hint("shuffle_hash")
        .join(base, "vec_id")
        .join(qvec.hint("shuffle_hash"), F.col("q_id") == F.col("qq_id"))
        .select("q_id", "true_label", "vec_id", "label", cos.alias("cos"))
    )
    wnn = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    nn = (
        cand.withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") <= 3)
        .select("q_id", "true_label", "label")
    )
    votes = nn.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select(
            "q_id", "true_label",
            F.col("label").alias("pred_label"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


def _ml23_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans import registry as _r2

    # Auto-K mirror (the d17 recipe): the SQL derives the identical
    # K = max(4, ceil(N/256)) from the corpus count with DuckDB's
    # integer division, then trains the same 2-iteration ordered-fold
    # k-means, so codebook, assignment, and probe are bit-exact
    # cross-engine at every scale factor.
    return _r2.all_oracles()["ml23_knn_classify_ann"].replace(
        "{train}",
        _ivf_train_sql("(SELECT GREATEST(4, (count(*) + 255) // 256) FROM e)"),
    )


from equity_volatility_lakehouse_platform_spark.plans import registry as _reg_m  # noqa: E402

_reg_m.set_oracle("ml23_knn_classify_ann", _ml23_oracle())


@register(
    "ml14_roc_auc",
    # Rank-based ROC AUC (Mann-Whitney U) of a deterministic score
    # against the binary label (label >= 5): AUC = (R_pos - n_pos(n_pos
    # + 1)/2) / (n_pos * n_neg) with AVERAGE ranks, which handles score
    # ties with the standard 1/2 credit. Ranks are exact integer
    # arithmetic on an identical sort, so AUC is one exact division.
    oracle="""
    WITH s AS (
      SELECT vec_id,
             v[1] AS score,
             CAST(label >= 5 AS INTEGER) AS y
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings)
    ), r AS (
      SELECT y,
             AVG(rn) OVER (PARTITION BY score) AS avg_rank
      FROM (
        SELECT y, score,
               row_number() OVER (ORDER BY score, vec_id) * 1.0 AS rn
        FROM s
      )
    )
    SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(1 - y) AS BIGINT) AS n_neg,
           (ROUND((SUM(CASE WHEN y = 1 THEN avg_rank ELSE 0 END)
                   - SUM(y) * (SUM(y) + 1.0) / 2.0)
                  / NULLIF(SUM(y) * 1.0 * SUM(1 - y), 0.0), 6) + 0.0)
             AS auc
    FROM r
    """,
)
def ml14_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The binary-classifier eval metric as pure rank arithmetic: one
    # sort by score (global here because AUC is global by definition —
    # at 100 TB you'd compute per-slice AUCs per partition or a sampled
    # global), one tie-averaging window, one single-row reduction.
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    s = emb.select(
        "vec_id",
        F.get(F.col("v"), 0).alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    rn = F.row_number().over(Window.orderBy("score", "vec_id")) * F.lit(1.0)
    ranked = s.select("y", "score", rn.alias("rn"))
    avg_rank = F.avg("rn").over(Window.partitionBy("score"))
    r = ranked.select("y", avg_rank.alias("avg_rank"))
    n_pos = F.sum("y")
    n_neg = F.sum(1 - F.col("y"))
    r_pos = F.sum(F.when(F.col("y") == 1, F.col("avg_rank")).otherwise(0.0))
    return r.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        r6(
            (r_pos - n_pos * (n_pos + F.lit(1.0)) / F.lit(2.0))
            / F.nullif(n_pos * F.lit(1.0) * n_neg, F.lit(0.0))
        ).alias("auc"),
    )


@register(
    "ml15_lift_deciles",
    # Decile lift/calibration table for the ml14 score: rank-exact
    # NTILE(10) buckets over (score desc, vec_id), per-decile positive
    # rate, and cumulative lift vs the base rate. All ratios are exact
    # integer arithmetic; cumulative sums run over ten pre-aggregated
    # rows.
    oracle="""
    WITH s AS (
      SELECT vec_id, v[1] AS score, CAST(label >= 5 AS INTEGER) AS y
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings)
    ), d AS (
      SELECT y,
             CAST(ntile(10) OVER (ORDER BY score DESC, vec_id) AS BIGINT)
               AS decile
      FROM s
    ), g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM d GROUP BY decile
    ), t AS (SELECT SUM(n) AS tot_n, SUM(n_pos) AS tot_pos FROM g)
    SELECT decile, n, n_pos,
           (ROUND(n_pos * 1.0 / n, 6) + 0.0) AS pos_rate,
           (ROUND((SUM(n_pos) OVER (ORDER BY decile) * 1.0
                   / SUM(n) OVER (ORDER BY decile))
                  / NULLIF(tot_pos * 1.0 / tot_n, 0.0), 6) + 0.0)
             AS cum_lift
    FROM g CROSS JOIN t
    """,
)
def ml15_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One global sort assigns deciles (the same per-slice caveat as
    # ml14), a ten-key groupBy, then cumulative windows over ten rows —
    # the model-quality report every ranking deployment prints.
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    s = emb.select(
        "vec_id",
        F.get(F.col("v"), 0).alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    decile = F.ntile(10).over(Window.orderBy(F.desc("score"), "vec_id"))
    d = s.select("y", decile.cast("bigint").alias("decile"))
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("n_pos")
    )
    t = g.agg(F.sum("n").alias("tot_n"), F.sum("n_pos").alias("tot_pos"))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    j = g.crossJoin(F.broadcast(t))
    return j.select(
        "decile", "n", "n_pos",
        r6(F.col("n_pos") * F.lit(1.0) / F.col("n")).alias("pos_rate"),
        r6(
            (F.sum("n_pos").over(wc) * F.lit(1.0) / F.sum("n").over(wc))
            / F.nullif(
                F.col("tot_pos") * F.lit(1.0) / F.col("tot_n"), F.lit(0.0)
            )
        ).alias("cum_lift"),
    )


# Shared PQ/ADC CTE chain (sim06 + the sim07 recall audit): k-means-
# TRAINED codebook (2 unrolled Lloyd iterations), bit-exact L2 expansion,
# ADC lookups, exact-cosine re-rank input. Cross-engine determinism of
# the training: every floating sum is an ORDERED left fold (cluster
# members by vec_id, ADC terms by subspace) — DuckDB's list_reduce and
# Spark's aggregate() fold the identical sequence, and mean =
# fold / count is one correctly rounded IEEE division, so centroids,
# assignments, and distances are bit-identical on both engines with no
# rounding tricks.
_PQ_ITER = """
    , a{t} AS (
      SELECT vec_id, m, x, j FROM (
        SELECT s.vec_id, s.m, s.x, cb.j,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 list_dot_product(s.x, s.x) - 2 * list_dot_product(s.x, cb.c)
                   + list_dot_product(cb.c, cb.c), cb.j) AS rn
        FROM tsub s JOIN cb{p} cb ON cb.m = s.m
      ) WHERE rn = 1
    ), s{t} AS (
      SELECT m, j, i,
             list_reduce(list(x[i] ORDER BY vec_id),
                         (acc, val) -> acc + val) / count(*) AS ci
      FROM a{t} CROSS JOIN (SELECT unnest(range(1, 5)) AS i) dims
      GROUP BY m, j, i
    ), c{t} AS (
      SELECT m, j, list(ci ORDER BY i) AS c FROM s{t} GROUP BY m, j
    ), cb{t} AS (
      SELECT prev.m, prev.j, COALESCE(c{t}.c, prev.c) AS c
      FROM cb{p} prev LEFT JOIN c{t} ON c{t}.m = prev.m AND c{t}.j = prev.j
    )
"""
# Prefix (training + encode + query ADC tables) is shared with the
# IVFADC composition (sim08); _PQ_SQL adds the whole-corpus ADC scan.
_PQ_PREFIX = (
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sub AS (
      SELECT vec_id, m, list_slice(v, m * 4 + 1, m * 4 + 4) AS x
      FROM e CROSS JOIN (SELECT unnest(range(16)) AS m) ms
    ), cb0 AS (
      SELECT m, vec_id AS j, x AS c FROM sub WHERE vec_id < 16
    ), tsub AS (
      SELECT * FROM sub WHERE vec_id < 2048
    )"""
    + _PQ_ITER.format(t=1, p=0)
    + _PQ_ITER.format(t=2, p=1)
    + """
    , codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, cb.j,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 list_dot_product(s.x, s.x) - 2 * list_dot_product(s.x, cb.c)
                   + list_dot_product(cb.c, cb.c), cb.j) AS rn
        FROM sub s JOIN cb2 cb ON cb.m = s.m
      ) WHERE rn = 1
    ), adc AS (
      SELECT q.vec_id AS q_id, cb.m, cb.j,
             list_dot_product(q.x, q.x) - 2 * list_dot_product(q.x, cb.c)
               + list_dot_product(cb.c, cb.c) AS dq
      FROM sub q JOIN cb2 cb ON cb.m = q.m
      WHERE q.vec_id < 3
    )"""
)
_PQ_SQL = (
    _PQ_PREFIX
    + """
    , appx AS (
      SELECT ad.q_id, co.vec_id,
             list_reduce(list(ad.dq ORDER BY ad.m),
                         (acc, val) -> acc + val) AS approx
      FROM codes co
      JOIN adc ad ON ad.m = co.m AND ad.j = co.code
      WHERE co.vec_id <> ad.q_id
      GROUP BY ad.q_id, co.vec_id
    ), shortlist AS (
      SELECT q_id, vec_id, approx
      FROM (SELECT q_id, vec_id, approx,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY approx, vec_id) AS rn
            FROM appx)
      WHERE rn <= 100
    ), rer AS (
      SELECT s.q_id, s.vec_id, s.approx,
             list_dot_product(q.v, x.v)
               / NULLIF(sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(x.v, x.v)), 0) AS cos
      FROM shortlist s
      JOIN e q ON q.vec_id = s.q_id
      JOIN e x ON x.vec_id = s.vec_id
    )
"""
)


def _ordered_fold(lst: Column | str, field: str) -> Column:
    """Left fold of ``lst``'s ``field`` values in the array's order —
    the Spark mirror of DuckDB ``list_reduce(list(x ORDER BY k), +)``
    (0.0 + x1 == x1 exactly, so the explicit init changes nothing).
    String ``lst`` takes the one-round-trip parsed path (see dot)."""
    if isinstance(lst, str):
        _assert_simple_ident(lst)
        _assert_simple_ident(field)
        return F.expr(
            f"aggregate(transform(`{lst}`, e -> e.`{field}`), "
            f"0.0D, (acc, val) -> acc + val)"
        )
    return F.aggregate(
        F.transform(lst, lambda e: e[field]),
        F.lit(0.0),
        lambda acc, val: acc + val,
    )


def _pq_subspaces(emb: DataFrame, n_sub: int = 16) -> DataFrame:
    """Long-form (vec_id, m, x) — one row per vector per subspace."""
    width = 64 // n_sub
    return emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        "v",
    ).select(
        "vec_id", "m", F.expr(f"slice(v, m * {width} + 1, {width})").alias("x")
    )


def _pq_l2(x: Column | str, c: Column | str) -> Column:
    # d = |x|^2 - 2<x,c> + |c|^2, same left-to-right shape as the SQL.
    # dims=None: subspace slices are 64/n_sub wide (variable), so these
    # stay on the fold — they are tiny (4 elements at the default).
    # String args ride dot()'s parsed fast path (3 dots = 3 round
    # trips instead of ~90).
    return (
        dot(x, x, dims=None)
        - F.lit(2) * dot(x, c, dims=None)
        + dot(c, c, dims=None)
    )


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest centroid per (vector, subspace): broadcast codebook,
    map-side partial min_by — ties resolve to the lowest j, mirroring
    the oracle's ORDER BY d, j."""
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "x", "j",
        _pq_l2("x", "c").alias("d"),
    )
    return scored.groupBy("vec_id", "m").agg(
        F.min_by("j", F.struct("d", "j")).alias("j"),
        F.first("x").alias("x"),
    )


def pq_encode(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """Arrow-batched PQ corpus ENCODE: one map pass assigns every
    vector's subspace codes against the (collected, metadata-scale)
    trained codebook, whose centroids set the subspace width. Same
    kernel recipe as ``ivf_assign``: ``fold.l2_distances`` reproduces
    the JVM fold's add sequence exactly (xx - 2*xc + cc per centroid,
    argmin ties to the lowest j = numpy's first index), so codes are
    bit-identical to the ``_pq_assign`` DataFrame path (pinned in
    pytest) at a fraction of the interpreted-fold cost. Zero corpus
    shuffle: runs in the scan's own partitions."""
    import numpy as np

    by_m: dict = {}
    for r in sorted(cb.collect(), key=lambda r: (r["m"], r["j"])):
        by_m.setdefault(int(r["m"]), []).append((r["j"], list(r["c"])))
    cents = {
        m: (np.array([j for j, _ in jc]), np.array([c for _, c in jc]))
        for m, jc in by_m.items()
    }

    def _enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for m, (js, Cm) in cents.items():
                W = Cm.shape[1]
                best = np.argmin(
                    l2_distances(V[:, m * W:(m + 1) * W], Cm), axis=1
                )  # ties -> lowest j
                frames.append(
                    pd.DataFrame(
                        {"vec_id": vec_ids, "m": m, "code": js[best]}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return emb.select("vec_id", "v").mapInPandas(
        _enc, "vec_id bigint, m int, code bigint"
    )


def pq_train_codebook(
    sub: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    train_limit: int = 2048,
) -> DataFrame:
    """K-means (Lloyd's) PQ codebook over long-form subvectors, every
    subspace trained separately by ``_train_codebook``: init = the
    ``n_centroids`` lowest vec_ids' subvectors (the deterministic
    seed), then ``iters`` assign/mean rounds with squared-L2
    assignment and ordered-fold means. Training reads only the
    ``train_limit`` lowest-id vectors — the bounded-SAMPLE recipe that
    keeps training cost CONSTANT in corpus size (codebooks need
    ~100-1000x n_centroids vectors, not the corpus; round-8 measured
    32x wall at 100x data with full-corpus training). The full corpus
    is then encoded in one Arrow pass (``pq_encode``)."""
    tsub = sub.filter(F.col("vec_id") < train_limit)
    seed = sub.filter(F.col("vec_id") < n_centroids).select(
        "m", F.col("vec_id").alias("j"), F.col("x").alias("c")
    )
    return _train_codebook(
        tsub, seed, n_centroids, iters, train_limit, cosine=False
    )


def _adc_table(sub: DataFrame, cb: DataFrame, n_queries: int) -> DataFrame:
    """ADC lookup table of the tiny query set: (aq, am, j, dq), one
    squared L2 per (query, subspace, centroid) — n_sub x n_centroids
    rows per query."""
    return (
        sub.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("aq"), F.col("m").alias("am"), "j",
            _pq_l2("x", "c").alias("dq"),
        )
    )


def _adc_rerank(
    lookups: DataFrame, emb: DataFrame, n_queries: int, shortlist: int
) -> DataFrame:
    """ADC ranking, then the exact re-rank of its shortlist. ``lookups``
    has one (q_id, vec_id, m, dq) row per candidate and subspace; the
    approximate distance is their ordered fold by m — the sequence
    DuckDB folds, so bit-exact. Only the top-``shortlist`` by (approx,
    vec_id) per query touch raw vectors (late materialization: the tiny
    shortlist broadcasts against the corpus scan). Returns (q_id,
    vec_id, approx, cos, v) with UNROUNDED doubles."""
    appx = (
        lookups.groupBy("q_id", "vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "dq"))).alias("lst"))
        .select("q_id", "vec_id", _ordered_fold("lst", "dq").alias("approx"))
    )
    w1 = Window.partitionBy("q_id").orderBy("approx", "vec_id")
    short = (
        appx.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= shortlist)
        .select("q_id", "vec_id", "approx")
    )
    cos = dot("qv", "v") / F.nullif(
        F.sqrt(dot("qv", "qv")) * F.sqrt(dot("v", "v")),
        F.lit(0.0),
    )
    base = emb.select("vec_id", "v")
    qvec = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv")
    )
    return (
        F.broadcast(short)
        .join(base, "vec_id")
        .join(F.broadcast(qvec), F.col("q_id") == F.col("qq_id"))
        .select("q_id", "vec_id", "approx", cos.alias("cos"), "v")
    )


def _adc_topk(rer: DataFrame, k: int) -> DataFrame:
    """The top-``k`` of an ADC re-rank by (cos DESC, vec_id), rounded."""
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        rer.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(
            "q_id", "vec_id",
            r6("approx").alias("approx_l2"),
            r6("cos").alias("cosine"),
        )
    )


@register(
    "sim06_pq_ann_topk",
    # Product quantization (PQ/ADC) ANN — the MEMORY-scale path next to
    # LSH (sim03) and IVF (sim04): at 100 TB a 64-dim float vector is
    # 256-512 B, its PQ code is M small ints (here 16 nibbles = 8 B).
    # The codebook is TRAINED in-query with distributed k-means
    # (pq_train_codebook: Lloyd's, 2 iterations, seed = the 16 lowest
    # vec_ids' subvectors) — round-7's untrained seed grids scored
    # recall@3 = 0.22 at shortlist 10; training lifts that to ~0.89 at
    # sf0.1, and the round-11 PQ-alone sweep (ANN_SHORTLIST_SWEEP_r11)
    # measured the recall-1.0 point at shortlist 100 (one exact
    # neighbor sits at ADC rank ~80 — PQ quantization error, the same
    # neighbor the composed sim08 sweep found), so 100 is the default,
    # consistent with sim08/sim11. M = 16 subspaces of 4 dims, K = 16
    # centroids each; code_m = argmin_j L2^2(sub_m(v), c_{m,j}) with the
    # d = dot(x,x) - 2*dot(x,c) + dot(c,c) expansion — the identical
    # left-to-right fold on both engines, so training means (ordered
    # folds over members by vec_id), assignments, and distances are all
    # bit-exact. Queries (vec_id < 3) build a 16x16 ADC table; the
    # approximate distance is a BROADCAST hash-join lookup per subspace
    # folded in subspace order (zero shuffle over the corpus beyond the
    # per-vector code assembly), top-`shortlist` by (approx, vec_id),
    # then exact cosine re-ranks only those to the final top-3 — ADC
    # never touches raw vectors until the re-rank.
    oracle=_PQ_SQL + """
    SELECT q_id, vec_id,
           (ROUND(approx, 6) + 0.0) AS approx_l2,
           (ROUND(cos, 6) + 0.0)    AS cosine
    FROM (SELECT q_id, vec_id, approx, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM rer)
    WHERE rn <= 3
    """,
)
def sim06_pq_ann_topk(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 16,
    n_sub: int = 16,
    iters: int = 2,
    shortlist: int = 100,
    k: int = 3,
    n_queries: int = 3,
) -> DataFrame:
    emb = _emb(spark, sf_dir)
    sub = _pq_subspaces(emb, n_sub)
    # The trained codebook (|subspaces| x |centroids| rows — tiny) is
    # referenced by BOTH the corpus-encode and the query-ADC branches;
    # a lazy local checkpoint materializes the training once instead of
    # replaying the Lloyd iterations per branch (production would
    # persist the codebook as an artifact outright).
    cb = pq_train_codebook(
        sub, n_centroids=n_centroids, iters=iters
    ).localCheckpoint(eager=False)

    # Encode the corpus: one Arrow map pass (zero shuffle).
    codes = pq_encode(emb, cb)
    adc = _adc_table(sub, cb, n_queries)
    lookups = (
        codes.join(
            F.broadcast(adc),
            (F.col("m") == F.col("am")) & (F.col("code") == F.col("j")),
        )
        .filter(F.col("vec_id") != F.col("aq"))
        .select(F.col("aq").alias("q_id"), "vec_id", "m", "dq")
    )
    return _adc_topk(_adc_rerank(lookups, emb, n_queries, shortlist), k)


@register(
    "sim07_pq_recall",
    # Recall@3 of the PQ/ADC path (sim06) against the exact baseline —
    # sim05's audit applied to the memory-compressed index. PQ's recall
    # loss comes from TWO stages (code quantization error in the ADC
    # shortlist, then the shortlist cap), so the audit runs the full
    # composed pipeline, not just the codes. Deterministic integer
    # ratios (ties broken by vec_id on both sides).
    oracle=_PQ_SQL + """
    , pq_topk AS (
      SELECT q_id, vec_id
      FROM (SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rn
            FROM rer)
      WHERE rn <= 3
    ), exact_topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.v, e.v)
                   / NULLIF(sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(e.v, e.v)), 0) DESC,
                 e.vec_id) AS rn
        FROM e q JOIN e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 3
      ) WHERE rn <= 3
    )
    SELECT x.q_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (ROUND(count(a.vec_id) * 1.0 / count(*), 6) + 0.0) AS recall_at_3
    FROM exact_topk x
    LEFT JOIN pq_topk a ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    GROUP BY x.q_id
    """,
)
def sim07_pq_recall(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    ann = sim06_pq_ann_topk(spark, sf_dir, k=k).select("q_id", "vec_id")
    emb = _emb(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(dot("v", "v")).alias("nv")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    exact = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id")
    )
    hit = ann.withColumnRenamed("vec_id", "a_vec")
    return (
        exact.join(
            hit,
            (exact["q_id"] == hit["q_id"]) & (exact["vec_id"] == hit["a_vec"]),
            "left",
        )
        .drop(hit["q_id"])
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_vec").alias("n_hit"),
            r6(F.count("a_vec") * 1.0 / F.count(F.lit(1))).alias("recall_at_3"),
        )
    )


@register(
    "sim08_ivfadc_topk",
    # IVFADC (round 8) — the production FAISS index shape, composing the
    # engine's two ANN halves: sim04's inverted lists PRUNE the corpus
    # (only ``nprobe`` lists per query are touched), sim06's trained PQ
    # codes RANK the surviving candidates by ADC lookup (8 B codes, no
    # raw vectors), and only the top-``shortlist`` pay the exact cosine.
    # At 100 TB both structures are precomputed artifacts (the coarse
    # lists partition the corpus; codes ride alongside as columns) and a
    # query reads nprobe/K of the codes and exactly ``shortlist`` raw
    # vectors. Everything is bit-exact cross-engine: the Arrow coarse
    # scorer reproduces the SQL fold (sim04), BOTH codebooks' k-means
    # means are ordered folds (coarse: ivf_train_centroids, round 9;
    # fine: pq_train_codebook, round 8), and the ADC sum folds in
    # subspace order. Round 9 trains the COARSE quantizer too — the
    # round-8 seed quantizer (4 arbitrary corpus vectors) made coarse
    # pruning the dominant recall loss (sim09 = 0.56 vs PQ-alone 0.89);
    # with both stages trained the composed path stops leaving recall
    # on the table for free.
    oracle=_PQ_PREFIX + _IVF_TRAIN_SQL + """
    , cvt AS (
      SELECT cid, cv FROM icb2
    ), scj AS (
      SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.cv)
               / NULLIF(sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(c.cv, c.cv)), 0) AS cosc
      FROM e CROSS JOIN cvt c
    ), iassigned AS (
      SELECT vec_id, cid
      FROM (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosc DESC, cid) AS rn
            FROM scj)
      WHERE rn = 1
    ), iprobe AS (
      SELECT vec_id AS q_id, cid AS qcid
      FROM (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosc DESC, cid) AS rn
            FROM scj WHERE vec_id < 3)
      WHERE rn <= 2
    ), candp AS (
      SELECT p.q_id, a.vec_id
      FROM iprobe p JOIN iassigned a ON a.cid = p.qcid AND a.vec_id <> p.q_id
    ), appx AS (
      SELECT cp.q_id, cp.vec_id,
             list_reduce(list(ad.dq ORDER BY ad.m),
                         (acc, val) -> acc + val) AS approx
      FROM candp cp
      JOIN codes co ON co.vec_id = cp.vec_id
      JOIN adc ad ON ad.q_id = cp.q_id AND ad.m = co.m AND ad.j = co.code
      GROUP BY cp.q_id, cp.vec_id
    ), shortlist AS (
      SELECT q_id, vec_id, approx
      FROM (SELECT q_id, vec_id, approx,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY approx, vec_id) AS rn
            FROM appx)
      WHERE rn <= 100
    ), rer AS (
      SELECT s.q_id, s.vec_id, s.approx,
             list_dot_product(q.v, x.v)
               / NULLIF(sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(x.v, x.v)), 0) AS cos
      FROM shortlist s
      JOIN e q ON q.vec_id = s.q_id
      JOIN e x ON x.vec_id = s.vec_id
    )
    SELECT q_id, vec_id,
           (ROUND(approx, 6) + 0.0) AS approx_l2,
           (ROUND(cos, 6) + 0.0)    AS cosine
    FROM (SELECT q_id, vec_id, approx, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM rer)
    WHERE rn <= 3
    """,
)
def sim08_ivfadc_topk(
    spark: SparkSession,
    sf_dir: str,
    n_coarse: int = 4,
    coarse_iters: int = 2,
    nprobe: int = 2,
    n_centroids: int = 16,
    n_sub: int = 16,
    iters: int = 2,
    shortlist: int = 100,
    k: int = 3,
    n_queries: int = 3,
    cent_path: str | None = None,
    cb_path: str | None = None,
) -> DataFrame:
    rer = _ivfadc_rerank(
        spark, sf_dir, n_coarse=n_coarse, coarse_iters=coarse_iters,
        nprobe=nprobe, n_centroids=n_centroids, n_sub=n_sub, iters=iters,
        shortlist=shortlist, n_queries=n_queries,
        cent_path=cent_path, cb_path=cb_path,
    )
    return _adc_topk(rer, k)


def _ivfadc_rerank(
    spark: SparkSession,
    sf_dir: str,
    n_coarse: int = 4,
    coarse_iters: int = 2,
    nprobe: int = 2,
    n_centroids: int = 16,
    n_sub: int = 16,
    iters: int = 2,
    shortlist: int = 100,
    n_queries: int = 3,
    cent_path: str | None = None,
    cb_path: str | None = None,
) -> DataFrame:
    """The composed IVFADC retrieval chain up to and including the
    exact re-rank of the ADC shortlist — (q_id, vec_id, approx, cos)
    with UNROUNDED doubles (extracted round 10 so sim11 can feed the
    shortlist into MMR without double-rounding).

    ``cent_path`` / ``cb_path`` (round 14 — snk21's materialize-once/
    serve-many contract for the TRAINED QUANTIZERS): codebooks are a
    per-corpus-snapshot artifact, so production trains them once
    (snk23 registers the cycle) and every retrieval run scans them
    from parquet — the Lloyd iterations (the dominant per-run cost
    once the K-scaled training sample is honest) never recompute."""
    emb = _ivf_emb(spark, sf_dir)
    # Coarse quantizer is TRAINED (round 9): spherical k-means over the
    # bounded sample, same seed/fold discipline as the PQ codebook. The
    # tiny result is checkpointed once — ivf_assign/ivf_probe both
    # collect it (metadata-scale).
    if cent_path is not None:
        cent = spark.read.parquet(cent_path)
    else:
        cent = ivf_train_centroids(
            emb, n_centroids=n_coarse, iters=coarse_iters
        ).localCheckpoint(eager=False)
    # Coarse stage: lists + probes (ids only past this point).
    assigned = ivf_assign(emb, cent).select("vec_id", "cid")
    qprobe = ivf_probe(emb, cent, nprobe, n_queries=n_queries).select(
        "q_id", "qcid"
    )
    candp = (
        F.broadcast(qprobe)
        .join(
            assigned,
            (F.col("qcid") == F.col("cid")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id")
    )
    # Fine stage: trained PQ codes rank the candidates by ADC lookup.
    sub = _pq_subspaces(_emb(spark, sf_dir), n_sub)
    if cb_path is not None:
        cb = spark.read.parquet(cb_path)
    else:
        cb = pq_train_codebook(
            sub, n_centroids=n_centroids, iters=iters
        ).localCheckpoint(eager=False)
    codes = pq_encode(_emb(spark, sf_dir), cb)
    adc = _adc_table(sub, cb, n_queries)
    lookups = (
        F.broadcast(candp)
        .join(codes, "vec_id")
        .join(
            F.broadcast(adc),
            (F.col("m") == F.col("am"))
            & (F.col("code") == F.col("j"))
            & (F.col("q_id") == F.col("aq")),
        )
        .select("q_id", "vec_id", "m", "dq")
    )
    # "v" (the candidate's raw vector) rides along so sim11's MMR stage
    # can compute pairwise cosines without a second corpus scan.
    return _adc_rerank(lookups, _emb(spark, sf_dir), n_queries, shortlist)


_SIM08_ORACLE_PREFIX_MARKER = True  # (sim09 composes sim08's chain below)


@register(
    "sim09_ivfadc_recall",
    # Recall@3 of the composed IVFADC path (sim08) against the exact
    # baseline — completing the audit triad: every ANN path in the
    # engine ships with its recall measurement (sim05 for LSH, sim07
    # for PQ, sim09 for IVF+PQ). IVFADC's loss has THREE stages (coarse
    # list pruning, code quantization error, shortlist cap), so the
    # audit runs the full composed pipeline.
    oracle=None,  # set below — reuses sim08's CTE chain
)
def sim09_ivfadc_recall(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    ann = sim08_ivfadc_topk(spark, sf_dir, k=k).select("q_id", "vec_id")
    emb = _ivf_emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    exact = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id")
    )
    hit = ann.withColumnRenamed("vec_id", "a_vec")
    return (
        exact.join(
            hit,
            (exact["q_id"] == hit["q_id"]) & (exact["vec_id"] == hit["a_vec"]),
            "left",
        )
        .drop(hit["q_id"])
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_vec").alias("n_hit"),
            r6(F.count("a_vec") * 1.0 / F.count(F.lit(1))).alias("recall_at_3"),
        )
    )


@register(
    "ml17_calibration_bins",
    # Calibration table + per-bin Brier decomposition for the ml14
    # score: the reliability diagram every classifier eval plots next
    # to AUC. The calibration score is the min-max NORMALIZED raw score
    # (min/max are exact aggregates; the normalization is one
    # correctly-rounded IEEE division, bit-identical on both engines) —
    # deliberately NOT a sigmoid: transcendental libm calls can differ
    # by 1 ulp between engines and flip a bin assignment at a boundary,
    # whereas +,-,*,/ are correctly rounded everywhere. Bin =
    # least(floor(p*10), 9); per bin: count, mean score, positive
    # fraction, mean squared error (Brier term) — the three ratio
    # outputs take the nudged round.
    oracle="""
    WITH s AS (
      SELECT vec_id, v[1] AS score, CAST(label >= 5 AS INTEGER) AS y
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings)
    ), mm AS (
      SELECT min(score) AS lo, max(score) AS hi FROM s
    ), p AS (
      SELECT y,
             (score - (SELECT lo FROM mm))
               / NULLIF((SELECT hi FROM mm) - (SELECT lo FROM mm), 0) AS p
      FROM s
    )
    SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(AVG(p) - sign(AVG(p)) * 0.000000001, 6) + 0.0)
             AS mean_score,
           (ROUND(AVG(y * 1.0) - sign(AVG(y * 1.0)) * 0.000000001, 6) + 0.0)
             AS frac_pos,
           (ROUND(AVG((p - y) * (p - y))
                  - sign(AVG((p - y) * (p - y))) * 0.000000001, 6) + 0.0)
             AS brier
    FROM p GROUP BY 1
    """,
)
def ml17_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.functions.rounding import r6s

    emb = _emb(spark, sf_dir)
    s = emb.select(
        F.get(F.col("v"), 0).alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    mm = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    p = s.crossJoin(F.broadcast(mm)).select(
        "y",
        (
            (F.col("score") - F.col("lo"))
            / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
        ).alias("p"),
    )
    return (
        p.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6s(F.avg("p")).alias("mean_score"),
            r6s(F.avg(F.col("y") * 1.0)).alias("frac_pos"),
            r6s(F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))).alias(
                "brier"
            ),
        )
    )


def _sim09_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans import registry as _r

    sim08 = _r.all_oracles()["sim08_ivfadc_topk"]
    final_marker = "SELECT q_id, vec_id,\n           (ROUND(approx, 6) + 0.0) AS approx_l2"
    head, _final = sim08.split(final_marker, 1)
    return head + """, ivf_topk AS (
      SELECT q_id, vec_id
      FROM (SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rn
            FROM rer)
      WHERE rn <= 3
    ), exact_topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.v, e.v)
                   / NULLIF(sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(e.v, e.v)), 0) DESC,
                 e.vec_id) AS rn
        FROM e q JOIN e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 3
      ) WHERE rn <= 3
    )
    SELECT x.q_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (ROUND(count(a.vec_id) * 1.0 / count(*), 6) + 0.0) AS recall_at_3
    FROM exact_topk x
    LEFT JOIN ivf_topk a ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    GROUP BY x.q_id
    """


from equity_volatility_lakehouse_platform_spark.plans import registry as _simreg  # noqa: E402

_simreg.set_oracle("sim09_ivfadc_recall", _sim09_oracle())


@register(
    "sim10_mmr_diversify",
    # Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    # DIVERSIFIED re-rank every retrieval stack runs on top of its ANN
    # shortlist (dedup-adjacent: near-identical hits crowd out coverage).
    # Inherently SEQUENTIAL: pick the most relevant candidate, then k-1
    # times pick argmax of 0.7*rel(d) - 0.3*max_{s in S} sim(d, s) over
    # the not-yet-selected (ties -> lowest vec_id). Spark side: the
    # JVM folds compute rel (query-candidate cosine) and the candidate-
    # pairwise cosines; the per-query selection loop runs in a grouped
    # Arrow kernel over the BOUNDED shortlist (10 candidates, 90 pair
    # rows per query — at 100 TB the shortlist is capped by the ANN
    # stage, so MMR cost is O(k * shortlist) per query regardless of
    # corpus). Oracle: the identical selection as a DuckDB RECURSIVE CTE
    # carrying the selected list (the d15/f19 recursive-oracle device) —
    # both engines compare bit-identical doubles (0.7*rel - 0.3*maxsim,
    # same op order), so the picks agree exactly.
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3
    ), cand AS (
      SELECT q_id, vec_id, rel, v FROM (
        SELECT q.q_id, e.vec_id, e.v,
               list_dot_product(q.qv, e.v)
                 / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.v, e.v)), 0) AS rel,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 list_dot_product(q.qv, e.v)
                   / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(e.v, e.v)), 0) DESC,
                 e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.q_id
      ) WHERE rn <= 10
    ), pairs AS (
      SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
             list_dot_product(a.v, b.v)
               / NULLIF(sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)), 0) AS s
      FROM cand a JOIN cand b
        ON b.q_id = a.q_id AND b.vec_id <> a.vec_id
    ), sel AS (
      SELECT q_id, 1 AS step, [vec_id] AS selected, vec_id, rel AS score
      FROM (SELECT q_id, vec_id, rel,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY rel DESC, vec_id) AS rn
            FROM cand) WHERE rn = 1
      UNION ALL
      SELECT q_id, step + 1, list_append(selected, vec_id), vec_id, score
      FROM (
        SELECT s.q_id, s.step, s.selected, r.vec_id,
               0.7 * r.rel - 0.3 * (
                 SELECT max(p.s) FROM pairs p
                 WHERE p.q_id = s.q_id AND p.a = r.vec_id
                   AND list_contains(s.selected, p.b)) AS score,
               row_number() OVER (PARTITION BY s.q_id ORDER BY
                 0.7 * r.rel - 0.3 * (
                   SELECT max(p.s) FROM pairs p
                   WHERE p.q_id = s.q_id AND p.a = r.vec_id
                     AND list_contains(s.selected, p.b)) DESC,
                 r.vec_id) AS rn
        FROM sel s JOIN cand r ON r.q_id = s.q_id
          AND NOT list_contains(s.selected, r.vec_id)
        WHERE s.step < 5
      ) WHERE rn = 1
    )
    SELECT q_id, CAST(step AS BIGINT) AS rank, vec_id,
           (ROUND(score, 6) + 0.0) AS mmr_score
    FROM sel
    """,
)
def sim10_mmr_diversify(
    spark: SparkSession,
    sf_dir: str,
    shortlist: int = 10,
    k: int = 5,
    lam: float = 0.7,
    mu: float = 0.3,
    n_queries: int = 3,
) -> DataFrame:
    # NOTE: mu is passed explicitly rather than derived as 1 - lam —
    # 1.0 - 0.7 is NOT the double literal 0.3 (it is 0.300...04), and
    # the oracle's 0.3 must be mirrored bit-exactly.
    emb = _emb(spark, sf_dir).select(
        "vec_id", "v", F.sqrt(dot("v", "v")).alias("nv")
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    rel = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("rel"), "vec_id")
    cand = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", rel.alias("rel"), "v")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= shortlist)
        .drop("rn")
    )
    return mmr_rerank(cand, k=k, lam=lam, mu=mu)


def mmr_rerank(
    cand: DataFrame, k: int = 5, lam: float = 0.7, mu: float = 0.3
) -> DataFrame:
    """MMR diversification over a per-query candidate set ``cand``
    (q_id, vec_id, rel, v) — extracted round 10 so the production path
    (sim11: ANN shortlist -> MMR) shares the exact kernel with the
    brute-force baseline (sim10)."""
    # FUSED pair stage (round 14 — the r13 verdict's item 4): the old
    # shape materialized candidate-pairwise cosines through an a x b
    # self-join (two q_id exchanges for the two sides) before a THIRD
    # q_id exchange fed the selection kernel — three shuffles of the
    # same query-scale data. The candidate set is shortlist-bounded per
    # query BY CONTRACT (sim10 caps at top-``shortlist``; sim11's
    # IVFADC shortlist likewise), so the pairwise cosines fit in one
    # Arrow group trivially (shortlist^2 <= 10^4 doubles): group ONCE
    # on q_id and compute the pair matrix INSIDE the kernel with
    # fold.cosine_scores — the add sequence of the JVM/DuckDB
    # list_dot_product, so every s_ab (and therefore every MMR score)
    # is bit-identical to the joined form.
    # One q_id exchange total; the degenerate single-candidate query
    # needs no LEFT-join special case (the kernel sees its row).

    def _mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        q_id = int(pdf["q_id"].iloc[0])
        ids = [int(x) for x in pdf["vec_id"]]
        rel_by = dict(zip(ids, (float(x) for x in pdf["rel"])))
        V = np.stack(pdf["v"].to_numpy())          # (n, D)
        nv = np.sqrt(fold_self(V))
        S = cosine_scores(V, V, nv, nv, np.nan)
        pos = {d: i for i, d in enumerate(ids)}
        out = []
        # Step 1: pure relevance (ties -> lowest id via ascending scan
        # with strict >).
        best, best_sc = None, None
        for d in ids:
            if best is None or rel_by[d] > best_sc:
                best, best_sc = d, rel_by[d]
        sel = [best]
        out.append((q_id, 1, best, best_sc))
        while len(sel) < k and len(sel) < len(ids):
            best, best_sc = None, None
            for d in ids:
                if d in sel:
                    continue
                mx = max(float(S[pos[d], pos[s]]) for s in sel)
                sc = lam * rel_by[d] - mu * mx  # same op order as SQL
                if best is None or sc > best_sc:
                    best, best_sc = d, sc
            sel.append(best)
            out.append((q_id, len(sel), best, best_sc))
        return pd.DataFrame(
            out, columns=["q_id", "rank", "vec_id", "score"]
        )

    picked = cand.select("q_id", "vec_id", "rel", "v").groupBy(
        "q_id"
    ).applyInPandas(
        _mmr, "q_id bigint, rank bigint, vec_id bigint, score double"
    )
    return picked.select(
        "q_id", "rank", "vec_id", r6("score").alias("mmr_score")
    )


@register(
    "sim11_ann_mmr",
    # PRODUCTION retrieval path (round 10, closing the r9 verdict's
    # item 3): the composed IVFADC shortlist (sim08's trained coarse
    # quantizer -> inverted-list probe -> ADC ranking -> exact re-rank
    # of the bounded shortlist) feeding the MMR diversifier (sim10's
    # kernel). sim10 remains the brute-force BASELINE (its candidate
    # stage scans the corpus per query); this is the one you deploy —
    # every corpus-sized stage is the FAISS-shaped sim08 plan (zero
    # corpus shuffle, broadcast codebooks, late materialization), and
    # the MMR stage only ever sees the <= shortlist-sized candidate
    # set per query. Oracle: sim08's CTE chain composed with sim10's
    # recursive-selection CTE — both engines agree bit-exactly because
    # rel is the UNROUNDED exact-re-rank cosine (the same list_dot_
    # product fold) and the 0.7/0.3 op order is mirrored.
    oracle=None,  # set below — composes sim08's chain + the MMR CTE
)
def sim11_ann_mmr(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    lam: float = 0.7,
    mu: float = 0.3,
    **ivfadc_kwargs,
) -> DataFrame:
    rer = _ivfadc_rerank(spark, sf_dir, **ivfadc_kwargs)
    cand = rer.select("q_id", "vec_id", F.col("cos").alias("rel"), "v")
    return mmr_rerank(cand, k=k, lam=lam, mu=mu)


def _sim11_oracle() -> str:
    from equity_volatility_lakehouse_platform_spark.plans import registry as _r

    sim08 = _r.all_oracles()["sim08_ivfadc_topk"]
    final_marker = (
        "SELECT q_id, vec_id,\n"
        "           (ROUND(approx, 6) + 0.0) AS approx_l2"
    )
    head, _final = sim08.split(final_marker, 1)
    head = head.replace("WITH e AS (", "WITH RECURSIVE e AS (", 1)
    return head + """, cand AS (
      SELECT r.q_id, r.vec_id, r.cos AS rel, e.v
      FROM rer r JOIN e ON e.vec_id = r.vec_id
    ), mpairs AS (
      SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
             list_dot_product(a.v, b.v)
               / NULLIF(sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)), 0) AS s
      FROM cand a JOIN cand b
        ON b.q_id = a.q_id AND b.vec_id <> a.vec_id
    ), sel AS (
      SELECT q_id, 1 AS step, [vec_id] AS selected, vec_id, rel AS score
      FROM (SELECT q_id, vec_id, rel,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY rel DESC, vec_id) AS rn
            FROM cand) WHERE rn = 1
      UNION ALL
      SELECT q_id, step + 1, list_append(selected, vec_id), vec_id, score
      FROM (
        SELECT s.q_id, s.step, s.selected, r.vec_id,
               0.7 * r.rel - 0.3 * (
                 SELECT max(p.s) FROM mpairs p
                 WHERE p.q_id = s.q_id AND p.a = r.vec_id
                   AND list_contains(s.selected, p.b)) AS score,
               row_number() OVER (PARTITION BY s.q_id ORDER BY
                 0.7 * r.rel - 0.3 * (
                   SELECT max(p.s) FROM mpairs p
                   WHERE p.q_id = s.q_id AND p.a = r.vec_id
                     AND list_contains(s.selected, p.b)) DESC,
                 r.vec_id) AS rn
        FROM sel s JOIN cand r ON r.q_id = s.q_id
          AND NOT list_contains(s.selected, r.vec_id)
        WHERE s.step < 5
      ) WHERE rn = 1
    )
    SELECT q_id, CAST(step AS BIGINT) AS rank, vec_id,
           (ROUND(score, 6) + 0.0) AS mmr_score
    FROM sel
    """


_simreg.set_oracle("sim11_ann_mmr", _sim11_oracle())


@register(
    "sim12_persisted_ivf_index",
    # PERSISTED ANN index (round 10) — the missing production face of
    # the IVF family: sim04/sim08 train-and-query in one plan, but at
    # 100 TB the index is an OFFLINE artifact (FAISS writes an index
    # file; a lakehouse writes index TABLES) and the query path must
    # run from the artifacts alone. Build: trained coarse centroids +
    # the corpus assignment land in two versioned AcidTables (the index
    # inherits ACID commits/time travel — reindex = new version, and
    # the raw vectors are NOT copied: late materialization keeps the
    # index tables ids-only). Query: RELOAD both tables, probe the
    # top-nprobe centroid lists, rank candidates by exact cosine
    # against the corpus scan. The oracle recomputes the identical
    # trained chain inline, so the parquet/ACID round trip of the
    # double[] centroids is pinned bit-exact end to end.
    oracle=None,  # set below — composes the trained-IVF chain
)
def sim12_persisted_ivf_index(
    spark: SparkSession, sf_dir: str, nprobe: int = 2, k: int = 3,
    n_queries: int = 3,
) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable
    from equity_volatility_lakehouse_platform_spark.sources.sinks import (
        session_scratch,
    )

    emb = _ivf_emb(spark, sf_dir)
    # ---- build (offline in production; versioned ACID commits) ----
    # Scratch root is reused (and wiped) per sf_dir, so timed re-runs
    # don't each leave a corpus-assignment copy on disk.
    root = session_scratch("sim12", sf_dir)
    cent = ivf_train_centroids(emb)
    t_cent = AcidTable(spark, root + "/ivf_centroids")
    t_cent.overwrite(cent)
    t_asg = AcidTable(spark, root + "/ivf_assignments")
    t_asg.overwrite(ivf_assign(emb, cent).select("vec_id", "cid"))
    # ---- query (artifacts only: no retraining, no corpus re-assign) --
    cent_r = t_cent.read()
    asg_r = t_asg.read()
    qprobe = ivf_probe(emb, cent_r, nprobe, n_queries=n_queries).select(
        "q_id", "qcid"
    )
    candp = (
        F.broadcast(qprobe)
        .join(
            asg_r,
            (F.col("qcid") == F.col("cid"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id")
    )
    base = _emb(spark, sf_dir).select("vec_id", "v")
    qvec = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv")
    )
    cos = dot("qv", "v") / F.nullif(
        F.sqrt(dot("qv", "qv"))
        * F.sqrt(dot("v", "v")),
        F.lit(0.0),
    )
    scored = (
        F.broadcast(candp)
        .join(base, "vec_id")
        .join(F.broadcast(qvec), F.col("q_id") == F.col("qq_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", r6("cos").alias("cosine"))
    )


def _sim12_oracle() -> str:
    return (
        """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
        + _ivf_train_sql("4")
        + """
    , sall AS (
      SELECT e.vec_id, cb.cid,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.v, cb.cv)
                 / NULLIF(sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(cb.cv, cb.cv)), 0)
                 DESC, cb.cid) AS rn
      FROM e CROSS JOIN icb2 cb
    ), asg AS (
      SELECT vec_id, cid FROM sall WHERE rn = 1
    ), prb AS (
      SELECT vec_id AS q_id, cid AS qcid FROM sall
      WHERE vec_id < 3 AND rn <= 2
    ), candp AS (
      SELECT p.q_id, a.vec_id
      FROM prb p JOIN asg a ON a.cid = p.qcid AND a.vec_id <> p.q_id
    ), scored AS (
      SELECT c.q_id, c.vec_id,
             list_dot_product(q.v, x.v)
               / NULLIF(sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(x.v, x.v)), 0) AS cos
      FROM candp c
      JOIN e q ON q.vec_id = c.q_id
      JOIN e x ON x.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, (ROUND(cos, 6) + 0.0) AS cosine
    FROM (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """
    )


_simreg.set_oracle("sim12_persisted_ivf_index", _sim12_oracle())


@register(
    "sim13_knn_graph",
    # Bucketed k-NN GRAPH (round 10) — the all-corpus primitive the
    # query-centric family (sim01..sim12 answer 3 probes) doesn't
    # cover: every vector's top-k neighbors, the input to graph-based
    # dedup (d07/d10 connected components), SemDeDup-style pruning and
    # kNN-classification at corpus scale. Brute force is O(n^2); the
    # scale path blocks by the sign-LSH bucket (sim02's partition key)
    # and ranks INSIDE buckets only — pairs are linear in bucket
    # collisions, the same contract as d03's bands, and the recall
    # trade is the published LSH one (neighbors across a hyperplane
    # are missed; raise bits to cut bucket sizes, add band repetitions
    # to buy recall). One shuffle on the bucket key, top-k per vector
    # via one window over the bucket-join pairs.
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), bb AS (
      -- auto-provisioned bit count (mirrors the Spark side): target
      -- ~256-vector buckets so in-bucket pair volume stays linear as
      -- the corpus grows. Pure INTEGER arithmetic (binary digit count
      -- of (n-1)//256 == ceil(log2(n/256))) — a libm log2 could flip
      -- by 1 ulp at exact power-of-two boundaries and diverge the
      -- whole bucket assignment between engines.
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
      SELECT a.vec_id, b.vec_id AS nbr_id,
             list_dot_product(a.v, b.v)
               / NULLIF(sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)), 0) AS cos
      FROM b a JOIN b b ON b.bucket = a.bucket
                       AND b.vec_id <> a.vec_id
    ), rk AS (
      SELECT vec_id, nbr_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nbr_id) AS rn
      FROM pairs
    )
    SELECT vec_id, CAST(rn AS BIGINT) AS rank, nbr_id,
           (ROUND(cos, 6) + 0.0) AS cosine
    FROM rk WHERE rn <= 2
    """,
)
def sim13_knn_graph(
    spark: SparkSession, sf_dir: str, bits: int | None = None, k: int = 2
) -> DataFrame:
    base = _emb(spark, sf_dir)
    if bits is None:
        # Auto-provision like d17's K: ~256-vector buckets keep the
        # in-bucket pair join linear in corpus size (the first 100x
        # spot of the fixed bits=2 default hit ~10^10 pairs at 200k
        # vectors — exactly the cliff this knob exists to prevent).
        n = table_rows(sf_dir, "embeddings")
        bits = max(2, ((n - 1) // 256).bit_length())
    emb = lsh_bucket_frame(base.select("vec_id", "v"), bits)

    # In-bucket top-k via ONE Arrow kernel per bucket group (round 11 —
    # d17's blockwise recipe): the former bucket self-join + window
    # materialized every in-bucket PAIR (29M rows at 100x) through a
    # shuffle and scored each with the interpreted fold (~71 s at
    # 100x); the kernel shuffles the corpus ONCE on the bucket key and
    # ranks inside numpy. Bit-exactness is the d17 argument verbatim:
    # cosines are fold.cosine_scores (the fold's summation order),
    # sqrt/divide are correctly rounded everywhere, ranking is
    # a stable argsort over ids sorted ascending == the oracle's
    # (cos DESC NULLS LAST, nbr_id) order, and the emitted (rank,
    # nbr_id) are integers. Buckets are ~256 vectors by construction;
    # the d17-style guard fails loud on pathological skew instead of
    # hanging.
    def _topk(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vals = pdf["v"].to_numpy()
        if any(x is None or len(x) != 64 for x in vals):
            raise ValueError(
                "sim13_knn_graph: NULL or non-64-dim embedding in bucket; "
                "filter or fix upstream"
            )
        V = np.stack(vals)
        ids = pdf["vec_id"].to_numpy()
        n = len(V)
        if n > 16384:
            raise ValueError(
                f"sim13_knn_graph: bucket of {n} vectors exceeds the "
                "16384 pairwise bound; raise bits (buckets scale as "
                "~N/256) so in-bucket ranking stays memory-sized"
            )
        nv = np.sqrt(fold_self(V))
        out_id, out_rank, out_nbr, out_cos = [], [], [], []
        block = 1024
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            cos = cosine_scores(V[lo:hi], V, nv[lo:hi], nv, np.nan)
            for r in range(lo, hi):
                c = cos[r - lo]
                key = np.where(np.isnan(c), -np.inf, c)
                key[r] = np.nan  # exclude self entirely
                order = np.argsort(-key, kind="stable")  # NaN (self) last
                picks = order[: min(k, n - 1)]
                for rk, j in enumerate(picks, start=1):
                    out_id.append(ids[r])
                    out_rank.append(rk)
                    out_nbr.append(ids[j])
                    out_cos.append(None if np.isnan(c[j]) else float(c[j]))
        return pd.DataFrame(
            {
                "vec_id": pd.array(out_id, dtype="int64"),
                "rank": pd.array(out_rank, dtype="int64"),
                "nbr_id": pd.array(out_nbr, dtype="int64"),
                "cos": pd.array(out_cos, dtype="float64"),
            }
        )

    ranked = emb.groupBy("bucket").applyInPandas(
        _topk, "vec_id bigint, rank bigint, nbr_id bigint, cos double"
    )
    return ranked.select(
        "vec_id", "rank", "nbr_id", r6("cos").alias("cosine")
    )


@register(
    "sim14_radius_search",
    # Radius (range) search (round 11) — the retrieval primitive the
    # top-k family doesn't cover: ALL corpus vectors within a cosine
    # radius of each query ("everything at least tau-similar"), the
    # query shape retrieval-augmented pipelines use for recall-bounded
    # context pulls and dedup-adjacent "find all variants" lookups.
    # Scale path: sim13's auto-provisioned sign-LSH buckets block the
    # corpus (~256 vectors per bucket at any size), queries probe only
    # their own bucket, and the exact cosine filter keeps cos >= tau —
    # candidate volume is linear in bucket occupancy, never O(Q x N).
    # The threshold compares doubles both engines compute by the same
    # fold, so membership cannot flip (the d06 contract). Results are
    # unranked memberships; no window, no cap — output size is the
    # query's true radius set (bounded by the bucket).
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
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < 3
    )
    SELECT q_id, vec_id, (ROUND(cos, 6) + 0.0) AS cosine,
           cos >= 0.25 AS in_radius
    FROM (
      SELECT q.q_id, b.vec_id,
             list_dot_product(q.qv, b.v)
               / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(b.v, b.v)), 0) AS cos
      FROM q JOIN b ON b.bucket = q.bucket AND b.vec_id <> q.q_id
    )
    WHERE cos >= 0.2
    """,
)
def sim14_radius_search(
    spark: SparkSession,
    sf_dir: str,
    tau: float = 0.2,
    inner_tau: float = 0.25,
    bits: int | None = None,
    n_queries: int = 3,
) -> DataFrame:
    base = _emb(spark, sf_dir)
    if bits is None:
        # sim13's auto-provisioning: ~256-vector buckets at any corpus.
        bits = max(2, ((table_rows(sf_dir, "embeddings") - 1) // 256).bit_length())
    emb = lsh_bucket_frame(base.select("vec_id", "v"), bits).select(
        "vec_id", "v", "bucket",
        F.sqrt(dot("v", "v")).alias("nv"),
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"), F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    return (
        F.broadcast(q)
        .join(
            emb,
            (F.col("qb") == F.col("bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(tau))
        .select(
            "q_id", "vec_id", r6("cos").alias("cosine"),
            (F.col("cos") >= F.lit(inner_tau)).alias("in_radius"),
        )
    )


# ---------------------------------------------------------------------------
# Two-level (hierarchical) coarse quantization — round 14, closing the
# cliff SCALE.md round-13 addendum 8 NAMED: single-level ivf_assign
# scores all K centroids per vector, so with the engine's auto-
# provisioned K = ceil(N/256) the assignment leg is O(N*K*D) =
# O(N^2*D/256) FLOPs and the broadcast codebook grows O(K*D) — real
# past N ~ 1e8 (the ADVICE-medium ceiling). The classical fix is
# FAISS's IVF-in-IVF shape: train K2 ~ ceil(sqrt(K)) SUPER-centroids
# OVER the centroids (K rows — metadata-scale training), assign each
# centroid to its super once, and assign each vector by scanning the
# K2 supers then ONLY the chosen super-cell's ~sqrt(K) member
# centroids — O(N*sqrt(K)*D) total, with the per-executor codebook
# surface O(sqrt(K)*D). Assignment is a PRUNING rule (a vector whose
# true-best centroid lives outside its chosen super-cell assigns
# differently than flat argmax), so this is a DISTINCT registered
# surface with its own bit-exact DuckDB mirror — every stage (both
# training levels, both argmax rules, the live-cell filter, the probe,
# the cap, the re-rank) is mirrored CTE-for-CTE.
# ---------------------------------------------------------------------------

_SUP_TRAIN_ITER = """
    , sia{t} AS (
      SELECT vec_id, v, cid FROM (
        SELECT s.vec_id, s.v, cb.cid,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY
                 list_dot_product(s.v, cb.cv)
                   / NULLIF(s.nv * sqrt(list_dot_product(cb.cv, cb.cv)), 0)
                   DESC, cb.cid) AS rn
        FROM sitr s CROSS JOIN sicb{p} cb
      ) WHERE rn = 1
    ), sisum{t} AS (
      SELECT cid, i,
             list_reduce(list(v[i] ORDER BY vec_id),
                         (acc, val) -> acc + val) / count(*) AS ci
      FROM sia{t} CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
      GROUP BY cid, i
    ), sic{t} AS (
      SELECT cid, list(ci ORDER BY i) AS cv FROM sisum{t} GROUP BY cid
    ), sicb{t} AS (
      SELECT prev.cid, COALESCE(sic{t}.cv, prev.cv) AS cv
      FROM sicb{p} prev LEFT JOIN sic{t} ON sic{t}.cid = prev.cid
    )
"""

_SIM15_K = "(SELECT GREATEST(4, (count(*) + 255) // 256) FROM e)"
_SIM15_K2 = (
    "(SELECT GREATEST(2, CAST(ceil(sqrt(GREATEST(4, (count(*) + 255)"
    " // 256))) AS BIGINT)) FROM e)"
)


def _sim15_oracle() -> str:
    return (
        """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
        + _ivf_train_sql(_SIM15_K)
        + f"""
    , sitr AS (
      SELECT cid AS vec_id, cv AS v, sqrt(list_dot_product(cv, cv)) AS nv
      FROM icb2 WHERE cid < GREATEST(2048, 8 * {_SIM15_K2})
    ), sicb0 AS (
      SELECT cid, cv FROM icb2 WHERE cid < {_SIM15_K2}
    )"""
        + _SUP_TRAIN_ITER.format(t=1, p=0)
        + _SUP_TRAIN_ITER.format(t=2, p=1)
        + """
    , callc AS (
      SELECT cid AS mcid, cv AS mcv,
             sqrt(list_dot_product(cv, cv)) AS mnc
      FROM icb2
    ), c2s AS (
      SELECT mcid, mcv, mnc, scid FROM (
        SELECT c.mcid, c.mcv, c.mnc, sb.cid AS scid,
               row_number() OVER (PARTITION BY c.mcid ORDER BY
                 list_dot_product(c.mcv, sb.cv)
                   / NULLIF(c.mnc * sqrt(list_dot_product(sb.cv, sb.cv)), 0)
                   DESC, sb.cid) AS rn
        FROM callc c CROSS JOIN sicb2 sb
      ) WHERE rn = 1
    ), live AS (
      SELECT DISTINCT scid FROM c2s
    ), slive AS (
      SELECT cb.cid, cb.cv FROM sicb2 cb JOIN live l ON l.scid = cb.cid
    ), ee AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e
    ), v2s AS (
      SELECT vec_id, v, nv, scid FROM (
        SELECT t.vec_id, t.v, t.nv, sb.cid AS scid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 list_dot_product(t.v, sb.cv)
                   / NULLIF(t.nv * sqrt(list_dot_product(sb.cv, sb.cv)), 0)
                   DESC, sb.cid) AS rn
        FROM ee t CROSS JOIN slive sb
      ) WHERE rn = 1
    ), asg AS (
      SELECT vec_id, v, cid FROM (
        SELECT t.vec_id, t.v, m.mcid AS cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 list_dot_product(t.v, m.mcv) / NULLIF(t.nv * m.mnc, 0)
                   DESC, m.mcid) AS rn
        FROM v2s t JOIN c2s m ON m.scid = t.scid
        WHERE (list_dot_product(t.v, m.mcv) / NULLIF(t.nv * m.mnc, 0))
              IS NOT NULL
      ) WHERE rn = 1
    ), qsup AS (
      SELECT q_id, qv, nq, scid FROM (
        SELECT t.vec_id AS q_id, t.v AS qv, t.nv AS nq, sb.cid AS scid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 list_dot_product(t.v, sb.cv)
                   / NULLIF(t.nv * sqrt(list_dot_product(sb.cv, sb.cv)), 0)
                   DESC, sb.cid) AS rn
        FROM ee t CROSS JOIN slive sb WHERE t.vec_id < 3
      ) WHERE rn <= 2
    ), qprobe AS (
      SELECT q_id, qv, mcid AS qcid FROM (
        SELECT q.q_id, q.qv, m.mcid,
               row_number() OVER (PARTITION BY q.q_id, q.scid ORDER BY
                 list_dot_product(q.qv, m.mcv) / NULLIF(q.nq * m.mnc, 0)
                   DESC, m.mcid) AS rn
        FROM qsup q JOIN c2s m ON m.scid = q.scid
      ) WHERE rn <= 2
    ), cand0 AS (
      SELECT p.q_id, p.qcid, a.vec_id,
             list_dot_product(list_slice(p.qv, 1, 16),
                              list_slice(a.v, 1, 16)) AS part
      FROM qprobe p JOIN asg a ON a.cid = p.qcid AND a.vec_id <> p.q_id
    ), capped AS (
      SELECT q_id, vec_id
      FROM (SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id, qcid
                                      ORDER BY part DESC, vec_id) AS prn
            FROM cand0)
      WHERE prn <= 64
    ), cand AS (
      SELECT c.q_id, c.vec_id,
             list_dot_product(q.v, x.v)
               / NULLIF(sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(x.v, x.v)), 0) AS cos
      FROM (SELECT DISTINCT q_id, vec_id FROM capped) c
      JOIN e q ON q.vec_id = c.q_id
      JOIN e x ON x.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, (ROUND(cos, 6) + 0.0) AS cosine
    FROM (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id) AS rn
          FROM cand)
    WHERE rn <= 3
    """
    )


@register("sim15_two_level_ivf_topk", oracle=None)  # set below
def sim15_two_level_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 2,
    nprobe_super: int = 2,
    k: int = 3,
    per_probe_cap: int = 64,
    n_queries: int = 3,
    n_centroids: int | None = None,
) -> DataFrame:
    # See the block comment above. Physical shape at 100 TB: BOTH
    # training levels read bounded samples (level 2 trains over the K
    # centroids themselves — metadata-scale); the vector->super kernel
    # scans K2 ~ sqrt(K) supers in the scan's own partitions; the
    # within-cell argmax is a BROADCAST hash join (members = K rows,
    # metadata-scale) + a map-side-partial min_by groupBy, so raw
    # vectors never shuffle for assignment; the probe/cap/re-rank tail
    # is sim04's (late materialization, O(Q * nprobe * cap) re-rank).
    import math

    emb = _ivf_emb(spark, sf_dir)
    if n_centroids is None:
        n_centroids = max(4, (table_rows(sf_dir, "embeddings") + 255) // 256)
    k2 = max(2, math.ceil(math.sqrt(n_centroids)))

    cent = ivf_train_centroids(
        emb, n_centroids=n_centroids, iters=2
    ).localCheckpoint(eager=False)
    cfr = cent.select(
        F.col("cid").alias("vec_id"), F.col("cv").alias("v"),
        F.col("nc").alias("nv"),
    )
    sup = ivf_train_centroids(
        cfr, n_centroids=k2, iters=2
    ).localCheckpoint(eager=False)

    # centroid -> super (K x K2 metadata work; ties -> lowest super id)
    members = ivf_assign(cfr, sup).select(
        F.col("vec_id").alias("mcid"), F.col("v").alias("mcv"),
        F.col("nv").alias("mnc"), F.col("cid").alias("scid"),
    ).localCheckpoint(eager=False)
    live = members.select("scid").distinct()
    sup_live = sup.join(
        F.broadcast(live), sup["cid"] == live["scid"]
    ).select("cid", "cv", "nc")

    # vector -> super: the Arrow kernel scans K2 supers per vector.
    v2s = ivf_assign(emb, sup_live).select(
        "vec_id", "v", "nv", F.col("cid").alias("scid")
    )
    # vector -> centroid WITHIN the super-cell: broadcast members join
    # (metadata-scale), map-side-partial argmax via min_by on
    # (-cos, mcid) == ORDER BY cos DESC, mcid LIMIT 1.
    cosm = dot("v", "mcv") / F.nullif(
        F.col("nv") * F.col("mnc"), F.lit(0.0)
    )
    scored = (
        v2s.join(F.broadcast(members), "scid")
        .select("vec_id", "v", "mcid", cosm.alias("cosm"))
        .filter(F.col("cosm").isNotNull())
    )
    asg = scored.groupBy("vec_id").agg(
        F.min_by(
            "mcid",
            F.struct(
                (F.lit(0.0) - F.col("cosm")).alias("o1"),
                F.col("mcid").alias("o2"),
            ),
        ).alias("cid"),
        F.first("v").alias("v"),
    )

    # Queries probe TWO levels (round-14 recall fix: a single probed
    # super-cell leaves true neighbors in sibling cells — at sf0.1 the
    # one-cell probe measured recall@3 = 0.33; top-2 supers x top-2
    # member centroids restores sim04-grade coverage): top-nprobe_super
    # supers per query, then top-nprobe member centroids per probed
    # super. Both stages are query-side metadata work.
    coss = dot("qv", "cv") / F.nullif(
        F.col("nq") * F.col("nc"), F.lit(0.0)
    )
    wqs = Window.partitionBy("q_id").orderBy(F.desc("coss"), "scid")
    qsup = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
            F.col("nv").alias("nq"),
        )
        .crossJoin(F.broadcast(sup_live))
        .select(
            "q_id", "qv", "nq", F.col("cid").alias("scid"),
            coss.alias("coss"),
        )
        .withColumn("rn", F.row_number().over(wqs))
        .filter(F.col("rn") <= nprobe_super)
        .select("q_id", "qv", "nq", "scid")
    )
    cosq = dot("qv", "mcv") / F.nullif(
        F.col("nq") * F.col("mnc"), F.lit(0.0)
    )
    wq = Window.partitionBy("q_id", "scid").orderBy(F.desc("cosq"), "mcid")
    qprobe = (
        qsup.join(F.broadcast(members), "scid")
        .select("q_id", "scid", "qv", "mcid", cosq.alias("cosq"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "qv", F.col("mcid").alias("qcid"))
    )

    # sim04's serve tail: 16-dim partial cap, late materialization.
    part = F.element_at(F.col("qv"), 1) * F.element_at(F.col("v"), 1)
    for i in range(2, 17):
        part = part + F.element_at(F.col("qv"), i) * F.element_at(
            F.col("v"), i
        )
    cand0 = (
        F.broadcast(qprobe)
        .join(
            asg,
            (F.col("qcid") == F.col("cid"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "qcid", "vec_id", part.alias("part"))
    )
    wc = Window.partitionBy("q_id", "qcid").orderBy(F.desc("part"), "vec_id")
    capped = (
        cand0.withColumn("prn", F.row_number().over(wc))
        .filter(F.col("prn") <= per_probe_cap)
        .select("q_id", "vec_id")
        .distinct()
    )
    base = _emb(spark, sf_dir).select("vec_id", "v")
    qvec = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv")
    )
    cos = dot("qv", "v") / F.nullif(
        F.sqrt(dot("qv", "qv"))
        * F.sqrt(dot("v", "v")),
        F.lit(0.0),
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        F.broadcast(capped)
        .join(base, "vec_id")
        .join(F.broadcast(qvec), F.col("q_id") == F.col("qq_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", r6("cos").alias("cosine"))
    )


_simreg.set_oracle("sim15_two_level_ivf_topk", _sim15_oracle())


@register(
    "ml25_contrastive_mining",
    # HARD-NEGATIVE MINING (round 14) — the embedding-training data op
    # the sim family feeds: for each anchor, the most-similar vector of
    # the SAME label (hardest positive to separate FROM — high-cos
    # in-class) and the most-similar vector of a DIFFERENT label (the
    # hard negative — the pair contrastive losses actually learn
    # from), plus the margin between them. This exact form is the
    # audit tier (ml12's contract: anchors bounded at 64, one
    # broadcast BNLJ over the corpus, linear_by_design); production
    # mines the same argmaxes from the IVFADC shortlist (sim08 /
    # snk23's served codebooks) exactly as ml23 swaps ml12's brute
    # scan. One window per (anchor, same-label) group keyed on the
    # broadcast side, then a 64-row conditional pivot — the corpus
    # never shuffles.
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, label AS q_label
      FROM e WHERE vec_id < 64
    ), scored AS (
      SELECT q.q_id,
             e.vec_id,
             CAST(e.label = q.q_label AS BOOLEAN) AS same,
             list_dot_product(q.qv, e.v)
               / NULLIF(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.v, e.v)), 0) AS cos
      FROM q JOIN e ON e.vec_id <> q.q_id
    ), top AS (
      SELECT q_id, vec_id, same, cos,
             row_number() OVER (PARTITION BY q_id, same
                                ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ), pv AS (
      SELECT q_id,
             MAX(CASE WHEN same THEN vec_id END) AS pos_id,
             MAX(CASE WHEN same THEN (ROUND(cos, 6) + 0.0) END) AS pos_cos,
             MAX(CASE WHEN NOT same THEN vec_id END) AS neg_id,
             MAX(CASE WHEN NOT same THEN (ROUND(cos, 6) + 0.0) END)
               AS neg_cos
      FROM top WHERE rn = 1 GROUP BY q_id
    )
    SELECT q_id, pos_id, pos_cos, neg_id, neg_cos,
           (ROUND(pos_cos - neg_cos, 6) + 0.0) AS margin
    FROM pv
    """,
)
def ml25_contrastive_mining(
    spark: SparkSession, sf_dir: str, n_anchors: int = 64
) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", "v", "label",
        F.sqrt(dot("v", "v")).alias("nv"),
    )
    q = emb.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("q_label"),
        F.col("nv").alias("nq"),
    )
    cos = dot("qv", "v") / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (F.col("label") == F.col("q_label")).alias("same"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("q_id", "same").orderBy(F.desc("cos"), "vec_id")
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    cos6 = r6("cos")
    pv = top.groupBy("q_id").agg(
        F.max(F.when(F.col("same"), F.col("vec_id"))).alias("pos_id"),
        F.max(F.when(F.col("same"), cos6)).alias("pos_cos"),
        F.max(F.when(~F.col("same"), F.col("vec_id"))).alias("neg_id"),
        F.max(F.when(~F.col("same"), cos6)).alias("neg_cos"),
    )
    return pv.select(
        "q_id",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        r6(F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
    )
