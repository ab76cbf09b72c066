"""Structured Streaming layer (SURVEY.md §2.10).

The reference is batch-only; its closest analogues are incremental sync
with ON CONFLICT DO NOTHING (data_alpaca/bars.py:74-137, 196-198) and
pre-aggregated session windows (bars.py:139-351). The engine reproduces
them as real streaming queries over the events parquet: windowed and
sliding aggregations, deduplication, stream-static and stream-stream
joins, arbitrary-state and session-window sessionization, watermark
late-data handling, and foreachBatch ingestion into the ACID and Delta
tables (keyed merge, dead-letter routing, CDC apply, txn-idempotent
append).

Every query runs through ONE runner, ``_run_stream_scoped``: it pins
the read confs (``sources.readers.pin_read_confs``, fail-loud), lands
the input in a temp root (symlinks of the events file, or frames the
query supplies, one micro-batch per file), builds the query's graph
over the repaired stream, starts it with an availableNow trigger into a
memory sink or a foreachBatch callback, detaches the result with an
eager localCheckpoint and deletes the temp root. A query therefore
contributes only its graph, its batch callback and its result step.
Over bounded input each run has a closed-form result, so every
streaming operator is oracle-checkable.

At scale: swap the file source for Kafka and the memory sink for a Delta
sink; the transformation graphs are unchanged.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from equity_volatility_lakehouse_platform_spark.sources.readers import (
    load_table,
    pin_read_confs,
    repair_timestamps,
)
from equity_volatility_lakehouse_platform_spark.sources.scratch import scratch_base
from equity_volatility_lakehouse_platform_spark.functions.rounding import r6, r6s


def _input_bytes(path: str) -> int:
    """Total data bytes under ``path``. A landing dir is a DIRECTORY of
    part files — os.path.getsize on it returns the inode size (~4 KB),
    which would pin the state-store sizing below to its floor for
    exactly the multi-file layout it exists to handle — so directories
    are walked and summed."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# Telemetry from the most recent scoped run (state-growth spot reads
# stateOperators/numRowsTotal from here; never consumed by queries).
LAST_PROGRESS: dict | None = None


# Per-session schema memo for the streaming source probe (round 15,
# guide §1/§5): every scoped streaming run re-probed the SAME immutable
# events parquet (~0.1-0.3 s of driver-side footer read + Hadoop FS
# setup per invocation). The runner pins the session confs BEFORE
# probing and always to the same values, so the probe result is
# conf-stable and the memo returns the identical StructType a fresh
# probe would. Keyed by path; testdata is immutable within a session
# (the load_table memo's documented assumption).
_SCHEMA_MEMO: dict[str, "T.StructType"] = {}


def _events_schema(spark: SparkSession, path: str):
    st = _SCHEMA_MEMO.get(path)
    if st is None:
        st = spark.read.parquet(path).schema
        _SCHEMA_MEMO[path] = st
    return st


def _n_state_partitions(
    input_bytes: int,
    shuffle_partitions: int,
    bytes_per_store: int,
    min_stores: int,
) -> int:
    """State-partition count for a scoped streaming run: bytes-derived
    (one store per ``bytes_per_store`` of input), capped at the
    session's parallelism, floored at the operator's ``min_stores``.
    Pure so the sizing policy is unit-testable; rationale in
    ``_run_stream_scoped``."""
    return max(
        min_stores,
        min(shuffle_partitions, -(-input_bytes // bytes_per_store)),
    )


def _land_frames(frames: list[DataFrame], tmp_root: str, src_dir: str) -> None:
    """Write each frame as ONE parquet file into ``src_dir``, in list
    order. Distinct ascending mtimes plus lexical names fix the file
    source's discovery order, so with ``maxFilesPerTrigger=1`` frame i
    is exactly micro-batch i."""
    now = time.time()
    for i, frame in enumerate(frames):
        out = os.path.join(tmp_root, f"land_{i}")
        frame.coalesce(1).write.parquet(out)
        part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
        dst = os.path.join(src_dir, f"batch_{i}.parquet")
        os.replace(os.path.join(out, part), dst)
        os.utime(dst, (now - 300 + 60 * i,) * 2)


def _run_stream_scoped(
    spark: SparkSession,
    sf_dir: str,
    build,
    prefix: str,
    output_mode: str,
    n_copies: int = 1,
    bytes_per_store: int = 16 << 20,
    min_stores: int = 8,
    landing: list[DataFrame] | None = None,
    max_files_per_trigger: int | None = None,
    sink=None,
) -> DataFrame:
    """Run one file-source streaming query with EVERY temp artifact
    scoped to the call, and return its result as a detached batch
    DataFrame.

    One temp root holds the landing dir (the file source requires a
    directory; a real deployment streams a landing dir), the checkpoint
    and any table the sink writes. The landing is ``n_copies`` symlinks
    of the events file, or — when the query supplies ``landing`` frames
    — one written file per frame (``_land_frames``).
    ``max_files_per_trigger`` splits the landing into that many files
    per micro-batch. ``build(stream)`` (or ``build(stream,
    make_stream)`` when the graph needs further independent readers of
    the same landing, as stream-stream joins do) returns the query's
    graph over the repaired stream.

    ``sink=None`` writes to a memory sink and the result is the sink's
    table. Otherwise ``sink(tmp_root)`` returns ``(on_batch, result)``:
    each micro-batch goes to ``on_batch`` through foreachBatch, and
    ``result()`` reads what it wrote. Either way the result is
    snapshotted with an eager localCheckpoint before the temp root, the
    sink view and any still-active query are removed, so repeated
    invocations leave no dirs, checkpoints, views or streams behind
    (tests/test_domain.py asserts this)."""
    global LAST_PROGRESS
    path = os.path.join(sf_dir, "events.parquet")
    # Assert session confs at the read site, exactly like load_table: a
    # BARE session (the correctness driver's) would otherwise fail the
    # schema probe with PARQUET_TYPE_ILLEGAL if a streaming query is the
    # first read of the session, and a conflicting explicit conf raises
    # instead of being overwritten.
    pin_read_confs(spark, path)
    tmp_root = tempfile.mkdtemp(prefix=prefix, dir=scratch_base())
    name = f"{prefix}{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    query = None
    try:
        src_dir = os.path.join(tmp_root, "src")
        os.makedirs(src_dir)
        if landing is None:
            schema = _events_schema(spark, path)
            # n_copies > 1 lands the same file several times (the
            # at-least-once redelivery a dedup stream must absorb); each
            # symlink is a distinct source file to the stream.
            for i in range(n_copies):
                os.symlink(path, os.path.join(src_dir, f"events_{i}.parquet"))
        else:
            schema = landing[0].schema
            _land_frames(landing, tmp_root, src_dir)
        opts = {}
        if max_files_per_trigger is not None:
            opts["maxFilesPerTrigger"] = max_files_per_trigger

        def _make_stream() -> DataFrame:
            s = spark.readStream.schema(schema).options(**opts).parquet(src_dir)
            return repair_timestamps(s, path)

        if len(inspect.signature(build).parameters) == 1:
            built = build(_make_stream())
        else:
            built = build(_make_stream(), _make_stream)
        # State partitions size to STATE VOLUME, not to the session's batch
        # parallelism (round 11): every stateful operator materializes one
        # state store PER shuffle partition PER micro-batch, and the store's
        # fixed commit/maintenance cost dominates small state — at sf0.1 the
        # four stream-stream joins spent ~27 s under 32 stores vs ~14 s
        # under 8 (interleaved A/B, SCALE.md round-11 addendum 3; RocksDB
        # was SLOWER for bounded one-batch runs — per-store JNI setup). The
        # count derives from the input size (default ~16 MB of input per
        # store, floor 8, capped at the session's parallelism so a 100 TB
        # landing dir still fans out) and is pinned at query start via the
        # session conf, restored after — results are partition-count-
        # independent (oracle-verified at every SF). ``bytes_per_store``
        # is the operator's state-to-input ratio knob: stream-stream joins
        # buffer only the watermark horizon (16 MB/store measured best,
        # round-11 A/B), while append-mode session windows buffer EVERY
        # input row's session until the horizon passes and then pay a
        # store-serial eviction scan on the flush batch — at 100x keys the
        # 8-store layout put a 9.1M-session eviction behind 8 threads
        # (allRemovalsTimeMs 381 s, wall 580 s); 4 MB/store -> 28 stores
        # cut the same run to 102 s (round-12 addendum 3).
        # ``min_stores`` is the small-input floor and splits by where the
        # operator's per-row work runs (round-14 interleaved floor probe at
        # sf0.1; guide §2.2): JVM-state operators (stream-stream joins) are
        # commit-overhead-bound at small state — every extra store adds
        # fixed per-batch commit/maintenance cost (floors 2/4/8 measured
        # 2.38/2.64/3.15 s on st16, 2.64/2.71/2.88 s on st14) — while
        # Python-stateful operators (applyInPandasWithState) need TASK
        # parallelism for their per-key Python work and regress hard below
        # 8 (st17: 3.66 s at floor 8 vs 7.88 s at floor 2). Both floors
        # bind only for small inputs; at scale the bytes-derived count
        # governs either way.
        # The sizing covers memory-sink runs over the events landing. A
        # foreachBatch sink's merges are batch jobs that keep the
        # session's count, and so does st09's supplied three-file landing,
        # the layout its dual-watermark boundaries were probed under.
        if sink is None and landing is None:
            n_state = _n_state_partitions(
                _input_bytes(path), int(prev_parts), bytes_per_store, min_stores
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
        writer = (
            built.writeStream.outputMode(output_mode)
            .option("checkpointLocation", os.path.join(tmp_root, "ckpt"))
            .trigger(availableNow=True)
        )
        if sink is None:
            writer = writer.format("memory").queryName(name)
            result = lambda: spark.table(name)  # noqa: E731
        else:
            on_batch, result = sink(tmp_root)
            writer = writer.foreachBatch(on_batch)
        query = writer.start()
        query.awaitTermination()
        try:
            lp = query.lastProgress
            LAST_PROGRESS = (
                lp if isinstance(lp, dict) or lp is None
                else json.loads(lp.json)
            )
        except Exception:  # noqa: BLE001 — telemetry only, never fail a run
            LAST_PROGRESS = None
        # Detach the result (executor-side materialization, no driver
        # collect) so the sink view and temp root can be dropped now.
        return result().localCheckpoint(eager=True)
    finally:
        if query is not None and query.isActive:
            query.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.catalog.dropTempView(name)
        shutil.rmtree(tmp_root, ignore_errors=True)


def tumbling_agg(df: DataFrame, window: str = "1 hour") -> DataFrame:
    """The shared transformation graph (batch and streaming both use it)."""
    return (
        df.withWatermark("ts", "2 hours")
        if df.isStreaming
        else df
    ).groupBy(
        F.window("ts", window).alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum("value")).alias("total_value"),
    ).select(
        F.col("win.start").alias("hour_ts"), "event_type", "n", "total_value"
    )


def run_tumbling_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Execute the streaming variant end-to-end: readStream (file source,
    nanos repaired) -> watermark -> tumbling agg -> memory sink; returns
    the final result as a batch DataFrame. Temp dirs, checkpoint, and the
    sink view are scoped to the call (_run_stream_scoped)."""
    return _run_stream_scoped(
        spark, sf_dir, lambda s: tumbling_agg(s, window), "evstream_", "complete"
    )


def sliding_agg(
    df: DataFrame, window: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding (hopping) window aggregation — each event lands in
    window/slide overlapping windows; Spark's window() replicates rows
    into every covering window before the partial aggregation, so the
    shuffle carries (window/slide)x rows of PARTIALS, not raw events."""
    return (
        df.withWatermark("ts", "2 hours")
        if df.isStreaming
        else df
    ).groupBy(
        F.window("ts", window, slide).alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum("value")).alias("total_value"),
    ).select(
        F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
    )


def run_sliding_stream(
    spark: SparkSession, sf_dir: str,
    window: str = "2 hours", slide: str = "1 hour",
) -> DataFrame:
    """Streaming sliding-window aggregation end-to-end (same scoped
    file-source -> watermark -> memory-sink harness as the tumbling
    variant). Over bounded input with availableNow, the result must
    equal the batch sliding GROUP BY — the oracle states it as a
    UNION ALL of slide-shifted tumbling groupings."""
    return _run_stream_scoped(
        spark, sf_dir, lambda s: sliding_agg(s, window, slide),
        "evstream_", "complete",
    )


def run_stateful_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (count, total) state carried across micro-batches, a snapshot
    row emitted per user per batch. Over bounded input the LAST snapshot
    per user — the one with the highest running count, monotone by
    construction — must equal the batch GROUP BY, which makes an arbitrary
    batch split oracle-checkable. State is per-key and executor-resident:
    the 100 TB shape (keys shard across executors; nothing on the driver).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total_value": total}]
        )

    def build(stream: DataFrame) -> DataFrame:
        return stream.groupBy("user_id").applyInPandasWithState(
            update_totals,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    snapshots = _run_stream_scoped(spark, sf_dir, build, "evstate_", "update")
    latest = F.max_by(F.struct("n_events", "total_value"), "n_events")
    return (
        snapshots
        .groupBy("user_id")
        .agg(latest.alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            r6("s.total_value").alias("total_value"),
        )
    )


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (ingestion hygiene): the source delivers
    every event TWICE (two copies of the file land in the stream dir —
    the at-least-once redelivery shape of any real ingestion bus);
    ``dropDuplicates`` on the event key inside the stream keeps exactly
    one copy. The surviving rows are summarized per event_type, so over
    bounded input the result must equal the batch GROUP BY over ONE copy
    — an exact oracle for the dedup operator itself.

    At 100 TB: state is per-key and sharded across executors; swap plain
    ``dropDuplicates`` for ``dropDuplicatesWithinWatermark`` so the key
    state expires with the watermark instead of growing unboundedly.
    Bounded replay here keeps full state so redelivery ACROSS batches is
    also caught.
    """

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicates(["event_id"])
        )

    deduped = _run_stream_scoped(
        spark, sf_dir, build, "evdedup_", "append", n_copies=2
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.sum("value")).alias("total_value"),
        )
    )


def run_late_data_stream(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Watermark LATE-DATA semantics end-to-end, deterministically.

    The bounded replay is split into three ordered micro-batches
    (one landed file each, ``maxFilesPerTrigger=1``):

    * batch 0 — "mid" rows: ``late_cut <= ts < head_cut``
    * batch 1 — "head" rows: ``ts >= head_cut`` (carries the global max)
    * batch 2 — "late" rows: ``ts < late_cut`` (3-day-old stragglers)

    with ``late_cut = max_ts - 3 days`` and ``head_cut = max_ts - 1 day``.

    Spark's dual-watermark rule (SPARK-40925, verified empirically on
    this engine version with boundary fixtures):

    * a batch FILTERS late input against the watermark of the PREVIOUS
      batch: batch 2's filter watermark is ``max(batch 0) - delay``,
      far above every straggler's window end, so ALL late rows are
      dropped (``numRowsDroppedByWatermark``), none merged;
    * EVICTION/emission at the end of each batch uses the CURRENT
      watermark with an inclusive bound (a window whose end EQUALS the
      watermark is emitted — tested), and availableNow runs a final
      no-data batch, so every window with
      ``end <= max_ts - delay`` is flushed before the query stops.

    The final append-mode table is therefore exactly: the tumbling
    aggregation over rows with ``ts >= late_cut`` restricted to windows
    with ``end <= max_ts - delay`` — a closed-form DuckDB oracle.

    At scale this is the production shape verbatim: Kafka source, the
    same watermark, a real sink; the split files stand in for arrival
    order.
    """
    import datetime

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).first()[0]  # one scalar, not data
    late_cut = max_ts - datetime.timedelta(days=3)
    head_cut = max_ts - datetime.timedelta(days=1)
    ts = F.col("ts")
    landing = [
        events.filter((ts >= F.lit(late_cut)) & (ts < F.lit(head_cut))),
        events.filter(ts >= F.lit(head_cut)),
        events.filter(ts < F.lit(late_cut)),
    ]

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", window).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), r6(F.sum("value")).alias("total_value"))
            .select(F.col("win.start").alias("hour_ts"), "event_type", "n", "total_value")
        )

    return _run_stream_scoped(
        spark, sf_dir, build, "evlate_", "append",
        landing=landing, max_files_per_trigger=1,
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-interval join (the enrichment join a real-time
    pipeline runs between two live feeds): purchases join the same
    user's views from the preceding hour. Both sides carry watermarks
    and the join condition bounds event time on BOTH sides, so Spark can
    expire join state — the unbounded-state trap a naive stream join
    hits at scale. Over bounded input (availableNow, one batch) nothing
    is dropped, so the result must equal the batch self-join — an exact
    oracle. Aggregated per user to keep the memory-sink result small.
    """

    def build(stream: DataFrame, make_stream) -> DataFrame:
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        views = (
            make_stream()
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
                F.col("value").alias("v_value"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        return purchases.join(
            views,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("interval 1 hour"))
            & (F.col("v_ts") <= F.col("p_ts")),
            "inner",
        )

    joined = _run_stream_scoped(
        spark, sf_dir, build, "evssj_", "append", min_stores=2
    )
    return (
        joined.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            r6(F.sum("v_value")).alias("viewed_value"),
        )
    )


def run_acid_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once stream -> exactly-once table: the lakehouse
    ingestion loop. The landing dir receives the SAME source file twice
    (duplicate delivery); ``maxFilesPerTrigger=1`` forces one redelivered
    micro-batch per file, and each batch lands through foreachBatch ->
    ``AcidTable.merge_insert_only`` keyed on event_id — the transactional
    ON-CONFLICT-DO-NOTHING (reference bars.py:196-198 semantics) whose
    commit-loop recheck makes the dedup hold even across concurrent
    writers. The final snapshot therefore contains each event exactly
    once, whatever the redelivery pattern: idempotence lives in the
    table's keyed merge, not in fragile sink-side state. The table root
    lives in the runner's temp root."""
    from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

    def sink(root: str):
        table = AcidTable(spark, os.path.join(root, "table"))

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            table.merge_insert_only(batch_df, keys=["event_id"])

        return ingest, lambda: table.read().select(
            "event_id", "user_id", "ts", r6(F.col("value")).alias("value")
        )

    return _run_stream_scoped(
        spark, sf_dir, lambda s: s, "acidstream_", "append",
        n_copies=2, max_files_per_trigger=1, sink=sink,
    )


def stream_static_enrich(
    df: DataFrame, dim: DataFrame, window: str = "1 day"
) -> DataFrame:
    """Stream-static dimension enrichment: windowed per-segment totals of
    a (possibly streaming) event feed joined to a BATCH dimension table.
    The static side broadcasts — each micro-batch joins map-side against
    the replicated dim with no stateful join machinery and no shuffle of
    the stream beyond the aggregation's own exchange."""
    ev = df.withWatermark("ts", "2 hours") if df.isStreaming else df
    return (
        ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
        .groupBy(F.window("ts", window).alias("win"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "c_mktsegment", "n", "total_value",
        )
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming variant end-to-end: file-source events stream joined to
    the static customer dim, daily per-segment totals to a memory sink."""
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return _run_stream_scoped(
        spark, sf_dir,
        lambda s: stream_static_enrich(s, dim),
        "evstatic_", "complete",
    )


def run_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-producing
    variant st10 doesn't cover. Matched pairs emit like the inner join;
    an UNMATCHED purchase emits null-extended only once its state
    evicts. Eviction predicate, empirically confirmed at sf0.001 AND
    sf0.01 by diffing the engine's flushed null-row set against
    candidates (round-7 probe): a purchase flushes iff
    p_ts < min(max_purchase_ts, max_view_ts) - 2h — i.e. strictly below
    the GLOBAL watermark. Each withWatermark node only sees its own
    filtered side, so the global WM is the min of the two per-side
    maxima minus the 2h delay, and the join condition's lower-bound gap
    contributes 0 to the left state watermark (v_ts <= p_ts ⇒ left
    state WM = WM_right + 0). availableNow's final no-data batch
    applies that WM; later unmatched purchases remain in (discarded)
    state — the closed-form restriction the oracle mirrors.
    """

    joined = _run_stream_scoped(
        spark, sf_dir, _purchase_view_join("left_outer"), "evsslj_", "append",
        min_stores=2,
    )
    return (
        joined.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("v_user").alias("n_matched"),
            F.sum(F.when(F.col("v_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_emitted"),
            # Order-dependent double SUM -> nudged round (q10 convention).
            r6s(F.coalesce(F.sum("v_value"), F.lit(0.0))).alias("viewed_value"),
        )
    )


def _purchase_view_join(how: str):
    """Builder factory for the purchase×view interval join family
    (st10/st14/st15/st16): purchases within 1h AFTER a view match
    (v_ts in [p_ts - 1h, p_ts]), both sides watermarked 2h. State
    eviction boundaries (empirically confirmed at sf0.001 and sf0.01,
    round-7 probe; WM = min(max_purchase_ts, max_view_ts) - 2h):

      * LEFT  (purchase) rows flush null-extended iff p_ts < WM
        (the v_ts <= p_ts bound adds 0 to the left state watermark);
      * RIGHT (view) rows flush null-extended iff v_ts < WM - 1h
        (matching purchases satisfy p_ts <= v_ts + 1h, so the view
        must wait one extra hour past its own timestamp).
    """

    def build(stream: DataFrame, make_stream) -> DataFrame:
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        views = (
            make_stream()
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
                F.col("value").alias("v_value"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        return purchases.join(
            views,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("interval 1 hour"))
            & (F.col("v_ts") <= F.col("p_ts")),
            how,
        )

    return build


def run_stream_stream_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the mirror of st14:
    matched pairs emit inner-join-style; an UNMATCHED view emits
    null-extended once its state evicts at v_ts < WM - 1h (the join
    bound p_ts <= v_ts + 1h is ADDED to the right state watermark —
    see _purchase_view_join). viewed_value sums v_value over every
    EMITTED row (matched views count once per matching purchase,
    exactly like the inner join's output), so the oracle must exclude
    unmatched-unflushed views from the sum as well as the counts."""
    joined = _run_stream_scoped(
        spark, sf_dir, _purchase_view_join("right_outer"), "evssrj_", "append",
        min_stores=2,
    )
    return (
        joined.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("p_user").alias("n_matched"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_emitted"),
            # Order-dependent double SUM -> nudged round (q10 convention).
            r6s(F.sum("v_value")).alias("viewed_value"),
        )
    )


def run_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both null sides at
    once: unmatched purchases flush at p_ts < WM, unmatched views at
    v_ts < WM - 1h (asymmetric by the join bound; _purchase_view_join).
    Grouped per user over the union of emitted rows: matched pairs,
    purchase-side nulls, and view-side nulls are distinguishable by
    which side's key is null."""
    joined = _run_stream_scoped(
        spark, sf_dir, _purchase_view_join("full_outer"), "evssfj_", "append",
        min_stores=2,
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("p_user"), F.col("v_user")).alias("user_id")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("p_user").isNotNull() & F.col("v_user").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("v_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_purchases"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_views"),
            # Order-dependent double SUM -> nudged round (q10 convention).
            r6s(F.coalesce(F.sum("v_value"), F.lit(0.0))).alias("viewed_value"),
        )
    )


def _session_walk(
    ms_a, start_ms: int | None, last_ms: int | None, n: int, gap_ms: int
) -> tuple[list[tuple[int, int]], tuple[int, int, int]]:
    """Pure vectorized 1-gap session walk over one key's sorted
    epoch-ms array with carried state ``(start_ms, last_ms, n)``:
    returns (closed sessions as (start_ms, n_events) in order,
    new open state). Row-identical to the per-row loop it replaced
    (round 14; differential test pins it): a session breaks at row i
    iff ms[i] - prev_ms[i] > gap_ms with prev_ms[0] = carried last_ms.
    """
    import numpy as np

    prev = np.empty(len(ms_a), dtype="int64")
    prev[1:] = ms_a[:-1]
    prev[0] = last_ms if last_ms is not None else ms_a[0]
    brk = np.flatnonzero(ms_a - prev > gap_ms)
    closed: list[tuple[int, int]] = []
    if brk.size:
        # Carried/first segment rows [0, brk[0]) close the carried
        # session (empty slice when the first row itself breaks — the
        # carried session closes with only its carried counts; a break
        # at row 0 requires carried state, so start_ms is set there).
        first_len = int(brk[0])
        closed.append(
            (start_ms if start_ms is not None else int(ms_a[0]),
             n + first_len)
        )
        for j in range(brk.size - 1):
            s, e = int(brk[j]), int(brk[j + 1])
            closed.append((int(ms_a[s]), e - s))
        s = int(brk[-1])  # last segment stays open -> new state
        start_ms, n = int(ms_a[s]), len(ms_a) - s
    else:
        if start_ms is None:
            start_ms = int(ms_a[0])
        n += len(ms_a)
    return closed, (start_ms, int(ms_a[-1]), n)


def _sessionize_chunks(
    pdfs: list, start_ms: int | None, last_ms: int | None, n: int,
    gap_ms: int,
) -> tuple[list[tuple[int, int]], tuple[int, int, int]]:
    """Concat-free per-key batch step for st17 (round 15, guide §4.2):
    the retired shape paid a pandas ``concat`` + ``sort_values`` +
    frame-index rebuild PER KEY (~1500 keys x 2 batches at sf0.1);
    this pulls the two needed columns as numpy arrays and orders them
    with ONE lexsort — primary ts, secondary event_id, exactly
    ``sort_values(["ts", "event_id"])`` — before the unchanged
    ``_session_walk``. Row-identical by construction (differential
    test ``test_st17_chunked_sessionize_matches_pandas_sort``)."""
    import numpy as np

    if len(pdfs) == 1:
        tsv = pdfs[0]["ts"].to_numpy("datetime64[ns]").astype("int64")
        eid = pdfs[0]["event_id"].to_numpy()
    else:
        tsv = np.concatenate(
            [p["ts"].to_numpy("datetime64[ns]").astype("int64") for p in pdfs]
        )
        eid = np.concatenate([p["event_id"].to_numpy() for p in pdfs])
    order = np.lexsort((eid, tsv))
    # ns -> ms floor AFTER ordering — the exact sequence the retired
    # pandas path produced (Timestamp.value // 1e6 on sorted rows).
    ms_a = tsv[order] // 1_000_000
    return _session_walk(ms_a, start_ms, last_ms, n, gap_ms)


def run_timeout_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization with EVENT-TIME TIMEOUT state GC
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout) — the
    stateful primitive st04 (NoTimeout) doesn't cover: state that is
    EVICTED and flushed by the watermark instead of living forever.

    Per-user 1h-gap sessions. A session closes two ways:
      * "gap"     — a later event for the same user arrives > 1h after
                    the session's last event (emitted immediately);
      * "timeout" — no event arrives and the watermark passes
                    last_ts + 1h (the registered timeout timestamp),
                    so the final no-data batch flushes the open session.
    Sessions whose timeout the final watermark never reached stay in
    (discarded) state — the closed-form restriction the oracle applies.
    Timeout boundary, empirically confirmed at sf0.001 AND sf0.01
    (round-7 probe): with watermark delay 2h, the open session flushes
    iff last_ts + 1h < max(ts) - 2h, i.e. last_ts < max(ts) - 3h
    (strict).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_MS = 3_600_000

    def sessionize(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": np.array([key[0]], dtype="int64"),
                    "session_start": pd.to_datetime([start_ms], unit="ms"),
                    "n_events": np.array([n], dtype="int64"),
                    "closed_by": ["timeout"],
                }
            )
            return
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        # Vectorized session walk (round 14, guide §4.2) over a
        # concat-free lexsorted ms array (round 15): identical to the
        # retired per-row loop — ms at millisecond grain (GroupState
        # timeout timestamps are ms), a session breaks at row i iff
        # ms[i] - prev_ms[i] > GAP_MS with prev_ms[0] = the carried
        # last_ms. Differential tests pin both layers
        # (test_st17_vectorized_sessionize_matches_loop,
        # test_st17_chunked_sessionize_matches_pandas_sort).
        closed, (start_ms, last_ms, n) = _sessionize_chunks(
            list(pdfs), start_ms, last_ms, n, GAP_MS
        )
        state.update((start_ms, last_ms, n))
        state.setTimeoutTimestamp(last_ms + GAP_MS)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(closed), key[0], dtype="int64"),
                    "session_start": pd.to_datetime(
                        np.fromiter((s for s, _ in closed), dtype="int64"),
                        unit="ms",
                    ),
                    "n_events": np.fromiter(
                        (c for _, c in closed), dtype="int64"
                    ),
                    "closed_by": "gap",
                }
            )

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "2 hours")
            .groupBy("user_id")
            .applyInPandasWithState(
                sessionize,
                outputStructType=(
                    "user_id bigint, session_start timestamp, "
                    "n_events bigint, closed_by string"
                ),
                stateStructType="start_ms bigint, last_ms bigint, n bigint",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    return _run_stream_scoped(spark, sf_dir, build, "evtmo_", "append")


def session_window_agg(df: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Shared sessionization graph for batch AND streaming: one groupBy
    on (user_id, session_window) — Spark merges overlapping gap
    intervals inside the aggregation itself, entirely JVM-side."""
    src = df.withWatermark("ts", "2 hours") if df.isStreaming else df
    sw = F.session_window("ts", gap)
    return (
        src.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6(F.sum("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def run_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization (session_window + watermark,
    append mode) — the AT-SCALE migration target for st17's
    applyInPandasWithState sessionizer.

    The state-growth spot (SCALE.md round-12 addendum 2) decomposed
    st17's 100x-keys wall into ~41 s of python groupBy work and ~190 s
    of per-key GroupState bridge traffic that no store/partition knob
    can move. session_window keeps the whole session state machine in
    the JVM state store: no Python worker round-trip per key, per-event
    merge logic inside the aggregation operator, state evicted by the
    watermark exactly like any windowed aggregate.

    Semantics vs st17 (both well-defined, documented trade):
      * merge boundary — session_window merges an event into the open
        session iff ts - prev_ts <= gap (an event exactly gap after
        the previous one merges — same split-on-diff > gap boundary
        as st17's GroupState loop, here at us grain);
      * emission — append mode emits a session only once the watermark
        REACHES its end (last_ts + gap; non-strict <=, where st17's
        GroupState timeout is strict — both boundaries empirically
        probed by test_session_window_emission_boundary, which plants
        an exact-boundary event), so with final watermark max(ts) - 2h
        the output is ALL sessions with
        last_ts + 1h <= max(ts) - 2h, regardless of whether a
        later session exists for the user. st17 additionally emits
        gap-closed sessions inside the horizon but never the open
        tail; st22 emits nothing inside the 3h tail horizon.
    """
    return _run_stream_scoped(
        spark, sf_dir, lambda s: session_window_agg(s), "evsw_", "append",
        # state ~= input for append-mode session windows (every row's
        # session is buffered until the watermark passes), and the
        # flush-batch eviction is serial per store — size stores 4x
        # denser than the join default so the eviction parallelizes.
        bytes_per_store=4 << 20,
    )


def run_record_highs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RECORD-HIGH change log on the NEW Spark 4 stateful API
    (``transformWithStateInPandas`` + ``StatefulProcessor`` +
    ``ValueState``) — the arbitrary-state successor to
    applyInPandasWithState (st04/st17 use the legacy API; a real
    pipeline migrating to Spark 4 writes THIS shape). Emits one row
    every time an event's value strictly exceeds the user's running
    maximum, in (ts, event_id) order; the running max is a typed
    ``ValueState`` that persists across micro-batches. Over bounded
    input the emitted set has a closed form (value > max of all prior
    values per user), so the operator is exactly oracle-checkable.

    The transformWithState Python worker speaks protobuf to the JVM
    state server; where ``google.protobuf`` is not installed (this
    container), the operator degrades to the LEGACY
    applyInPandasWithState carrier with byte-identical semantics —
    same per-key running-max ValueState contract, same emitted set —
    so the query stays runnable everywhere while the deploy-preferred
    Spark 4 path is exercised wherever protobuf exists."""
    import pandas as pd

    out_schema = "user_id bigint, ts timestamp, event_id bigint, value double"

    def _record_rows(key, batch, mx):
        out = []
        for r in batch.sort_values(["ts", "event_id"]).itertuples():
            v = float(r.value)
            if mx is None or v > mx:
                out.append(
                    {"user_id": key[0], "ts": r.ts, "event_id": r.event_id,
                     "value": v}
                )
                mx = v
        return out, mx

    try:
        from google.protobuf import descriptor  # noqa: F401 — worker dep
        from pyspark.sql.streaming import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RecordHighs(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._mx = handle.getValueState("mx", "mx double")

            def handleInputRows(self, key, rows, timerValues):
                mx = self._mx.get()[0] if self._mx.exists() else None
                out, mx = _record_rows(key, pd.concat(list(rows)), mx)
                self._mx.update((mx,))
                yield pd.DataFrame(out)

            def close(self) -> None:
                pass

        def build(stream: DataFrame) -> DataFrame:
            return (
                stream.select("user_id", "ts", "event_id", "value")
                .groupBy("user_id")
                .transformWithStateInPandas(
                    RecordHighs(),
                    outputStructType=out_schema,
                    outputMode="append",
                    timeMode="none",
                )
            )

    except ImportError:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def record_highs(key, pdfs, state: GroupState):
            mx = state.get[0] if state.exists else None
            out, mx = _record_rows(key, pd.concat(list(pdfs)), mx)
            state.update((mx,))
            yield pd.DataFrame(out)

        def build(stream: DataFrame) -> DataFrame:
            return (
                stream.select("user_id", "ts", "event_id", "value")
                .groupBy("user_id")
                .applyInPandasWithState(
                    record_highs,
                    outputStructType=out_schema,
                    stateStructType="mx double",
                    outputMode="append",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
            )

    out = _run_stream_scoped(spark, sf_dir, build, "evtws_", "append")
    return out.select(
        "user_id", "ts", "event_id", r6(F.col("value")).alias("value")
    )


def run_dedup_within_watermark_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB dedup shape st06's docstring names: state-BOUNDED
    streaming dedup via ``dropDuplicatesWithinWatermark`` — key state
    expires once the watermark passes the event's time plus the delay,
    instead of growing with the key universe forever. The source lands
    the same file twice (at-least-once redelivery); every duplicate
    arrives inside the 2h window of its original, so exactly one copy
    of each event survives and the bounded run equals the batch GROUP
    BY over one copy — while the operator's state footprint is
    O(keys inside the watermark horizon), not O(all keys ever)."""

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
        )

    deduped = _run_stream_scoped(
        spark, sf_dir, build, "evdedupw_", "append", n_copies=2
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.sum("value")).alias("total_value"),
        )
    )


def run_dlq_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion with a DEAD-LETTER QUEUE — the production
    quarantine pattern on top of st12's exactly-once ACID ingest: each
    micro-batch routes rows through a validity rule (here: 'error'
    events are quarantined), valid rows land in the main table via the
    transactional keyed merge, invalid rows land in the DLQ table via
    atomic append — both tables advance atomically per batch, and the
    doubled at-least-once delivery still yields exactly-once in the
    MAIN table (keyed merge) while the DLQ dedups on read for the
    summary. Nothing is dropped: main + DLQ partition the source."""
    from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

    def summarize(df: DataFrame, route: str) -> DataFrame:
        return (
            df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), r6(F.sum("value")).alias("total_value"))
            .select(F.lit(route).alias("route"), "*")
        )

    def sink(root: str):
        main = AcidTable(spark, os.path.join(root, "main"))
        dlq = AcidTable(spark, os.path.join(root, "dlq"))

        def route(batch_df: DataFrame, batch_id: int) -> None:
            ok = batch_df.filter(F.col("event_type") != "error")
            bad = batch_df.filter(F.col("event_type") == "error")
            main.merge_insert_only(ok, keys=["event_id"])
            dlq.append(bad)

        return route, lambda: summarize(main.read(), "main").unionByName(
            # DLQ is at-least-once by design
            summarize(dlq.read().dropDuplicates(["event_id"]), "dlq")
        )

    return _run_stream_scoped(
        spark, sf_dir, lambda s: s, "evdlq_", "append",
        n_copies=2, max_files_per_trigger=1, sink=sink,
    )


def run_cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply with DELETE tombstones (round 9): the
    Debezium-shaped loop — a change stream whose records carry a
    boolean ``_tombstone`` flag lands micro-batch by micro-batch through
    ``foreachBatch -> AcidTable.merge_full(tombstone_col=...)``, so each
    batch's inserts, updates, AND deletes commit as ONE atomic version.

    Seed = the events with event_id % 3 != 2. The change stream carries
    two files (maxFilesPerTrigger=1 -> two micro-batches), built to
    COMMUTE so file-discovery order cannot matter:

    * an INSERT batch: the % 3 == 2 events (unflagged);
    * an ops batch over SEED keys with % 5 == 0: 'click' rows flagged
      as tombstones (matched -> DELETE), the rest re-imaged with
      value + 1.0 (matched -> UPDATE).

    Final snapshot (the closed-form oracle): every event, minus the
    seed-key % 5 == 0 clicks, with value + 1.0 on the surviving
    seed-key % 5 == 0 rows."""
    from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

    events = load_table(spark, sf_dir, "events")
    inserts = events.filter(F.col("event_id") % 3 == 2).withColumn(
        "_tombstone", F.lit(False)
    )
    ops = (
        events.filter(
            (F.col("event_id") % 3 != 2) & (F.col("event_id") % 5 == 0)
        )
        .withColumn("_tombstone", F.col("event_type") == "click")
        .withColumn(
            "value",
            F.when(
                F.col("event_type") == "click", F.col("value")
            ).otherwise(F.col("value") + F.lit(1.0)),
        )
    )

    def sink(root: str):
        table = AcidTable(spark, os.path.join(root, "table"))
        table.overwrite(events.filter(F.col("event_id") % 3 != 2))

        def apply_cdc(batch_df: DataFrame, batch_id: int) -> None:
            table.merge_full(
                batch_df, keys=["event_id"], tombstone_col="_tombstone"
            )

        return apply_cdc, lambda: table.read().select(
            "event_id", "user_id", "ts", "event_type",
            r6(F.col("value")).alias("value"),
        )

    return _run_stream_scoped(
        spark, sf_dir, lambda s: s, "cdcstream_", "append",
        landing=[inserts, ops], max_files_per_trigger=1, sink=sink,
    )


def run_delta_txn_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into the DELTA-FORMAT table with the
    protocol's transaction-identifier idempotence (delta_compat
    .append_txn) — the open-format twin of ``run_acid_ingest_stream``,
    exercising the OTHER exactly-once mechanism: st12 dedups by content
    key; here blind appends stay exactly-once because every micro-batch
    commit carries ``txn {appId, version=batch_id}``.

    The failure mode under test is the foreachBatch retry race: the
    sink committed batch 0 but the stream checkpoint did not advance,
    so on restart the SAME batch is delivered again. After the stream
    completes, the result step replays batch 0 (the whole events file)
    by hand — ``append_txn`` must skip it (version ≤ the table's txn
    watermark), so the snapshot holds each event exactly once and the
    oracle is simply the source. A later batch (version advanced) still
    lands, proving the skip is the watermark, not a closed table. The
    table root lives in the runner's temp root.
    """
    from equity_volatility_lakehouse_platform_spark.sources.delta_compat import (
        DeltaCompatTable,
    )

    app_id = "st23_delta_ingest"

    def sink(root: str):
        table = DeltaCompatTable(spark, os.path.join(root, "table"))

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            table.append_txn(batch_df, app_id=app_id, version=batch_id)

        def result() -> DataFrame:
            replay = load_table(spark, sf_dir, "events")
            if table.append_txn(replay, app_id=app_id, version=0) is not None:
                raise RuntimeError(
                    "replayed micro-batch must be skipped by the txn watermark"
                )
            return table.read().select(
                "event_id", "user_id", "ts", r6(F.col("value")).alias("value")
            )

        return ingest, result

    return _run_stream_scoped(
        spark, sf_dir, lambda s: s, "deltastream_", "append",
        max_files_per_trigger=1, sink=sink,
    )
