"""Table readers (SURVEY.md §2.1 scans).

The reference scans CSV-per-symbol files, Iceberg tables, Excel sheets and
HTTP APIs (`data_apis/my_alpaca.py:120-122`, `Procesamiento_fase_1.ipynb`
cell 6, `my_ishares.py:11-19`, `my_eodhd.py:5-18`). Our engine's equivalent
is a schema-aware reader layer over parquet/CSV lakes:

* explicit-schema reads (schema-on-write contract, never inference in prod),
* nanosecond-timestamp repair (test parquet stores TIMESTAMP(NANOS), which
  Spark reads as long under ``legacy.parquet.nanosAsLong``; we restore real
  TimestampType at micros precision so values match any SQL engine),
* column pruning and predicate pushdown come free from Catalyst because we
  return plain DataFrames backed by the parquet scan.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) in ``path``.

    Peeks at the parquet footer driver-side (cheap — metadata only) so the
    reader works for any table without a hand-maintained column registry.
    """
    import pyarrow.dataset as ds
    import pyarrow as pa

    schema = ds.dataset(path, format="parquet").schema
    out = []
    for field in schema:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            out.append(field.name)
    return tuple(out)


@lru_cache(maxsize=256)
def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a base table from parquet footer METADATA —
    the statistics a table-format manifest would publish. Driver-side
    footer read, NO Spark job: plan-shaping counts (LSH permutation
    ladders, auto bucket bits, centroid provisioning) must not fire a
    full scan per plan BUILD at 100 TB (round 15, guide §5)."""
    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, f"{name}.parquet")
    return ds.dataset(path, format="parquet").count_rows()


# Session timezone spellings the engine accepts as "UTC wall-clock".
_UTC_ALIASES = frozenset({"UTC", "Etc/UTC", "GMT", "Z", "+00:00", "UTC+00:00", "GMT+00:00"})


def _require_conf(spark: SparkSession, key: str, want: str, ok_values: frozenset | None = None) -> None:
    """Set an engine-required session conf, ERRORING on a conflicting
    EXPLICIT co-resident value instead of silently overwriting it.

    A bare session (the correctness driver's) has none of these keys set
    — ``SQLConf.contains`` is False even though ``conf.get`` returns the
    default — so the driver path is an unconditional set, byte-identical
    to the previous behavior. Only a session where someone explicitly
    set the key to an incompatible value raises, which surfaces the
    engine/workload conflict at the read site instead of silently
    corrupting the co-resident workload's timestamps for the rest of
    the session.
    """
    try:
        # Classic PySpark only: SQLConf.contains distinguishes "explicitly
        # set" from "default". Spark Connect has no _jsparkSession handle —
        # degrade to the unconditional set (previous behavior) there.
        explicitly_set = spark._jsparkSession.sessionState().conf().contains(key)
    except Exception:  # pragma: no cover - Connect / future-API fallback
        explicitly_set = False
    if explicitly_set:
        cur = spark.conf.get(key)
        accept = ok_values if ok_values is not None else frozenset({want})
        if cur not in accept:
            raise ValueError(
                f"engine requires session conf {key}={want!r} but it is "
                f"explicitly set to {cur!r}; scope the conflicting conf "
                f"around the co-resident workload's reads instead of "
                f"session-wide (the engine never restores previous values)"
            )
    spark.conf.set(key, want)


## Per-session plan memo (round 14, guide §7.3 driver time): building a
## scan DataFrame costs a parquet footer read + schema analysis on the
## DRIVER (~80 ms per call here), and plan builders call load_table for
## the same (sf_dir, table) repeatedly — the sim08/sim11 chains alone
## build the embeddings scan 5x per run (0.4 s of pure re-analysis).
## The memo returns the SAME immutable DataFrame (a logical plan, never
## data): every execution still scans the parquet files; nothing about
## results, caching, or the conf side effects below changes (the confs
## were asserted when the memoized plan was first built and persist for
## the session — the documented contract). Keyed weakly per session so
## a stopped session's plans are collectable.
_PLAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    global _PLAN_MEMO
    if _PLAN_MEMO is None:
        import weakref

        _PLAN_MEMO = weakref.WeakKeyDictionary()
    per_session = _PLAN_MEMO.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = per_session.get(key)
    if df is None:
        df = _load_table_uncached(spark, sf_dir, name)
        per_session[key] = df
    else:
        # The memo skips the footer read + plan analysis, NOT the conf
        # contract: timestamp semantics are execution-time, so a
        # co-resident workload that repoints the session timezone after
        # the first load must still raise at the read site. These are
        # conf-only checks (_nano_ts_columns is lru_cached — no I/O).
        pin_read_confs(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return df


def pin_read_confs(spark: SparkSession, path: str) -> None:
    """Pin (and fail-loud-verify) the session confs a read of the parquet
    at ``path`` relies on. Every engine read of a testdata table — batch
    (``load_table``) and streaming (the scoped stream runner) — goes
    through here, so a conflicting explicit conf raises at any read site."""
    if _nano_ts_columns(path):
        # Without this a vectorized parquet read of INT64 TIMESTAMP(NANOS)
        # throws; with it the column arrives as a long that
        # repair_timestamps converts.
        _require_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    # Oracle comparisons are tz-naive; all timestamp extraction must agree
    # with DuckDB's wall-clock view of the same micros values.
    _require_conf(
        spark, "spark.sql.session.timeZone", "UTC", ok_values=_UTC_ALIASES
    )
    # Files written as isAdjustedToUTC=false micros would otherwise infer
    # TIMESTAMP_NTZ, and repair_timestamps' cast — while value-identical
    # under the UTC session — blocks parquet filter pushdown on every
    # timestamp predicate and adds a per-row cast. Reading them directly
    # as TimestampType is free and pushdown-friendly.
    _require_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with proper TimestampType columns.

    Works on ANY SparkSession, not just the engine's own factory: a bare
    session (e.g. the correctness driver's) lacks the legacy-nanos conf and
    would fail the read outright with PARQUET_TYPE_ILLEGAL, and a session
    with a non-UTC timezone would skew every tz-naive timestamp comparison
    (year/hour/date_trunc vs DuckDB). Both confs are runtime-settable, so we
    assert them here — at the read site — rather than trusting the session.

    DOCUMENTED SIDE EFFECT: this pins the caller's session config
    (UTC timezone + nanosAsLong + inferTimestampNTZ=false) for the rest
    of the session — the engine's contract is UTC wall-clock semantics
    everywhere, and the driver's bare session depends on the set. If a
    co-resident workload has EXPLICITLY set any of these keys to an
    incompatible value, the read raises ``ValueError`` at the call site
    (never a silent overwrite) — see ``_require_conf``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    pin_read_confs(spark, path)
    return repair_timestamps(spark.read.parquet(path), path)


def repair_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Restore TimestampType on a batch or streaming read of the parquet
    at ``path`` (read under ``pin_read_confs``). Columns that already
    carry TimestampType pass through unchanged, so a stream over files
    the engine wrote from repaired frames is repaired as a no-op."""
    nanos = _nano_ts_columns(path)
    for field in df.schema.fields:
        if field.name in nanos and isinstance(field.dataType, T.LongType):
            # nanos -> micros with integer `div` (float division would lose
            # precision on epoch-scale int64); timestamp_micros -> TimestampType.
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Files written as isAdjustedToUTC=false micros arrive as
            # TIMESTAMP_NTZ under Spark's NTZ inference. The engine contract
            # is TimestampType with UTC wall-clock semantics (streaming
            # watermarks and from_utc_timestamp require it); with the session
            # pinned to UTC, the cast preserves the wall-clock value
            # exactly — same micros DuckDB sees.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register the testdata tables as temp views for the SQL surface."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv_bars(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV scan with explicit schema + timestamp parsing (S4).

    Reference: per-symbol ``pd.read_csv(parse_dates=['timestamp'])``
    (`data_apis/my_alpaca.py:120-122`). At scale this is one distributed
    multi-file scan, not a per-file loop.
    """
    return (
        spark.read.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(schema)
        .csv(path)
    )
