"""The benchmark workloads.

Each workload is one client running a closed loop over a fixed op
sequence, pass 0, once; a traced run then adds an untraced reference pass
(1) and the traced pass (2), both on a warm JVM.
``gold_pipeline`` and ``stream_ingest`` call the engine only through its
registry (``queries()[name](spark, sf_dir)`` followed by a noop write);
``lake_ingest`` calls ``AcidTable``. Output checks run once per run,
after the measured window.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import gen
import probes

GOLD = [
    "a11", "p11", "g01", "w01", "a01", "f01", "f04", "f12",
    "w04", "w08", "w19", "f18", "f20", "ml01", "ml04",
]
STREAM = [
    "st03_streaming_tumbling",
    "st14_stream_stream_left_join", "st16_stream_stream_full_join",
    "st17_stateful_timeout_sessions", "st12_acid_ingest_stream",
    "st23_delta_txn_ingest_stream", "st21_stream_cdc_apply",
]


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, seed, cache, work, rec, queries, oracles):
        self.spark, self.seed, self.cache, self.work = spark, seed, cache, work
        self.rec, self.queries, self.oracles = rec, queries, oracles
        self.group = 0  # job-group counter

    def next_group(self, tag: str) -> str:
        self.group += 1
        return f"{tag}-{self.group}"


def _job_span(ctx: Ctx, group: str, parent) -> tuple[int, int]:
    """Record the jobs of ``group`` as child spans of ``parent``; returns
    (jobs, tasks)."""
    probes.drain_listener_bus(ctx.spark)
    jobs = probes.group_jobs(ctx.spark, group)
    for j in jobs:
        if j["submit"] is not None and j["complete"] is not None:
            ctx.rec.add_span("job", j["submit"], j["complete"], parent, group=group)
    return len(jobs), sum(j["tasks"] for j in jobs)


class QueryWorkload:
    """Registered queries: build fresh, then write to the noop sink."""

    name = ""
    sf = 0.01
    facts_x = 1
    row_groups = 1
    rounds = 1  # times the measured pass runs the query list
    spark_conf: dict[str, str] = {}
    note = ""

    def prepare(self, ctx: Ctx) -> bool:
        self.sf_dir, generated = gen.ensure_tables(
            ctx.cache, self.sf, ctx.seed, self.row_groups, self.facts_x
        )
        self.ran: list[str] = []
        return generated

    def warm_op(self, ctx: Ctx) -> None:
        ctx.queries["q1_pricing_summary"](ctx.spark, self.sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()

    def start(self, ctx: Ctx) -> None:
        pass

    def pass_ops(self, ctx: Ctx, p: int) -> list[str]:
        names = self.names(ctx)
        return names * self.rounds if p == 0 else names

    def run_op(self, ctx: Ctx, name: str) -> None:
        spark, rec = ctx.spark, ctx.rec
        if not rec.enabled:  # untimed probes stay out of untraced runs
            df = ctx.queries[name](spark, self.sf_dir)
            df.write.mode("overwrite").format("noop").save()
            self.ran.append(name)
            return
        build_group, exec_group = ctx.next_group("build"), ctx.next_group("exec")
        probes.reset_catalyst_meter(spark)
        with rec.span("op", query=name) as op_span:
            spark.sparkContext.setJobGroup(build_group, name)
            with rec.span("build") as b:
                df = ctx.queries[name](spark, self.sf_dir)
            spark.sparkContext.setJobGroup(exec_group, name)
            with rec.span("execute") as e:
                t_save = time.time()
                df.write.mode("overwrite").format("noop").save()
            spark.sparkContext.setJobGroup("", "")
        b["jobs"], b["tasks"] = _job_span(ctx, build_group, b["id"])
        exec_jobs = probes.group_jobs(spark, exec_group)
        first = min((j["submit"] for j in exec_jobs if j["submit"]), default=None)
        e["pre_exec_ms"] = 1e3 * ((first if first else e["end"]) - t_save)
        op_span["analysis_ms"], op_span["rules_ms"] = probes.catalyst_rule_ms(spark)
        op_span["scratch_entries"] = _scratch_entries()
        self.ran.append(name)

    def user_metrics(self) -> dict:
        return {}

    def check(self, ctx: Ctx) -> list[str]:
        """Compare one seeded pick of the distinct queries this run
        executed against its DuckDB oracle (row count if none)."""
        from tests.hash_compare import run_hash_compare
        from tests.oracle_compare import run_compare

        name = gen.shuffled(sorted(set(self.ran)), ctx.seed, "checks")[0]
        fn, oracle = ctx.queries[name], ctx.oracles.get(name)
        try:
            if oracle is None:
                if fn(ctx.spark, self.sf_dir).count() <= 0:
                    return [f"{name}: empty result"]
                return []
            try:
                run_hash_compare(ctx.spark, self.sf_dir, name, fn, oracle)
            except NotImplementedError:  # arrays/structs: exact comparator
                run_compare(ctx.spark, self.sf_dir, name, fn, oracle)
        except Exception as ex:  # noqa: BLE001 - a failed check is a failed op
            return [f"{name}: {type(ex).__name__}: {str(ex)[:300]}"]
        return []

    def layer_metrics(self, ctx: Ctx) -> dict:
        return {}


def _scratch_entries() -> int:
    base = os.environ["EVLP_SCRATCH_DIR"]
    return len(os.listdir(base))


class GoldPipeline(QueryWorkload):
    name = "gold_pipeline"
    # The 10x dataset's shape (fact tables 10x over sf-sized key domains)
    # at a twentieth of its size: 50k events over 75 users, 75k orders,
    # 300k lineitems.
    sf = 0.005
    facts_x = 10
    row_groups = 4
    # Cold, then warm: one pass of 15 short queries spread 0.26 from run to
    # run on a 4-core VM whose speed swings by 20-30% within minutes.
    rounds = 2
    # Overrides an engine tuning default: the engine splits scans at
    # 16 MB, and at this scale every table file is smaller, so each scan
    # would be one task. 1 MB splits (on row-group boundaries) let the
    # local cores share the scans.
    spark_conf = {"spark.sql.files.maxPartitionBytes": "1m"}

    def names(self, ctx: Ctx) -> list[str]:
        by_prefix = {n.split("_")[0]: n for n in ctx.queries}
        return [by_prefix[g] for g in GOLD]


class StreamIngest(QueryWorkload):
    name = "stream_ingest"
    sf = 0.01

    def names(self, ctx: Ctx) -> list[str]:
        # A fixed order: the first streaming query of a fresh JVM pays
        # seconds of warm-up, and a seeded order handed that cost, and the
        # op median, to a different query on every seed.
        return STREAM


class LakeIngest:
    """One fresh ``AcidTable`` of 30-min bars under a seeded op mix."""

    name = "lake_ingest"
    spark_conf: dict[str, str] = {}
    note = "lake latencies are on the sandbox page cache, not a storage device"

    def prepare(self, ctx: Ctx) -> bool:
        self.src, generated = gen.ensure_lake(ctx.cache, ctx.seed)
        with open(os.path.join(self.src, "plan.json")) as fh:
            plan = json.load(fh)
        self.preload, self.plan = plan["preload"], plan["passes"]
        return generated

    def _batch(self, ctx: Ctx, op: dict):
        return ctx.spark.read.parquet(
            os.path.join(self.src, f"batch-{op['batch']:05d}.parquet")
        )

    def warm_op(self, ctx: Ctx) -> None:
        self._scratch_table(ctx, full=False)

    def _scratch_table(self, ctx: Ctx, full: bool) -> None:
        """Append and read on a scratch table; with ``full``, every other
        kind of lake op but the z-order once too."""
        from pyspark.sql import functions as F

        from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

        root = os.path.join(ctx.work, "lake-warm")
        shutil.rmtree(root, ignore_errors=True)
        t = AcidTable(ctx.spark, root)
        batch = self._batch(ctx, self.preload)
        t.append(batch)
        if full:
            t.merge_upsert(batch, ["bar_id"])
            t.update_where(F.col("symbol") == "SYM0", {"close": F.col("close") * F.lit(1.01)})
            t.delete_where(F.col("symbol") == "SYM1")
            t.compact(target_files=2)
            t.changes(0, t.latest_version()).write.mode("overwrite").format("noop").save()
            t.vacuum(retain_last=gen.LAKE_RETAIN)
        t.read(0).write.mode("overwrite").format("noop").save()
        shutil.rmtree(root, ignore_errors=True)

    def start(self, ctx: Ctx) -> None:
        """Prime every op kind (untimed: a cold JVM spends seconds on the
        first call of each kind, and the sequence is meant to show a
        running ingest service, not that), then make the table and load
        the preload batch."""
        from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

        self._scratch_table(ctx, full=True)
        self.root = os.path.join(ctx.work, "lake")
        self.table = AcidTable(ctx.spark, self.root)
        self.done: list[tuple[dict, int | None]] = []  # (op, version made)
        self.reads: list[int] = []  # versions read
        self.vacuumed_at: int | None = None
        self.run_op(ctx, self.preload)

    def pass_ops(self, ctx: Ctx, p: int) -> list[dict]:
        return self.plan[p]

    def run_op(self, ctx: Ctx, op: dict) -> None:
        from pyspark.sql import functions as F

        t, kind = self.table, op["op"]
        group = ctx.next_group(kind)
        if ctx.rec.enabled:
            ctx.spark.sparkContext.setJobGroup(group, kind)
        version = None
        with ctx.rec.span("op", lake_op=kind) as span:
            if kind == "append":
                version = t.append(self._batch(ctx, op))
            elif kind == "merge":
                version = t.merge_upsert(self._batch(ctx, op), ["bar_id"])
            elif kind in ("delete", "update"):
                cond = (F.col("symbol") == op["symbol"]) & (F.col("bar_id") <= op["max_bar"])
                if kind == "delete":
                    version = t.delete_where(cond)
                else:
                    version = t.update_where(cond, {"close": F.col("close") * F.lit(op["scale"])})
            elif kind == "compact":
                version = t.compact(target_files=2)
            elif kind == "zorder":
                version = t.optimize_zorder(["ts", "close"], target_files=4)
            elif kind in ("read", "time_travel"):
                latest = t.latest_version()
                v = latest if kind == "read" else max(0, latest - op["back"])
                t.read(v).write.mode("overwrite").format("noop").save()
                self.reads.append(v)
            elif kind == "changes":
                latest = t.latest_version()
                t.changes(max(0, latest - 1), latest).write.mode("overwrite").format(
                    "noop"
                ).save()
            elif kind == "vacuum":
                self._space_before_vacuum()
                t.vacuum(retain_last=gen.LAKE_RETAIN)
            else:
                raise ValueError(f"unknown lake op {kind!r}")
        if ctx.rec.enabled:
            ctx.spark.sparkContext.setJobGroup("", "")
            span["jobs"], _tasks = _job_span(ctx, group, span["id"])
            span.update(version=version, scratch_entries=_scratch_entries())
        self.done.append((op, version))

    def _space_before_vacuum(self) -> None:
        """Bytes under the table root (all ever written: nothing is deleted
        before the vacuum), bytes of the latest snapshot's files, and bytes
        of user input so far."""
        self.vacuumed_at = self.table.latest_version()
        self.bytes_before_vacuum = _tree_bytes(self.root)
        self.latest_bytes = sum(
            os.path.getsize(os.path.join(self.root, f))
            for f in self.table.history()[-1]["files"]
        )
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.src, f"batch-{op['batch']:05d}.parquet"))
            for op, _v in self.done if "batch" in op
        )

    def user_metrics(self) -> dict:
        return {
            "write_amp": self.bytes_before_vacuum / self.input_bytes,
            "space_amp": self.bytes_before_vacuum / self.latest_bytes,
        }

    def check(self, ctx: Ctx) -> list[str]:
        """Replay every op in DuckDB; compare the latest snapshot and the
        oldest snapshot the vacuum retained (the first version when no
        vacuum ran) with what ``AcidTable`` returns."""
        import duckdb
        from tests.oracle_compare import compare_frames

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(
            "CREATE TABLE t (bar_id BIGINT, symbol VARCHAR, ts TIMESTAMP, open DOUBLE, "
            "high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT)"
        )
        floor = 0 if self.vacuumed_at is None else self.vacuumed_at - gen.LAKE_RETAIN + 1
        travel_v = min(v for _op, v in self.done if v is not None and v >= floor)
        snapshot = None
        for op, version in self.done:
            kind = op["op"]
            if "batch" in op:
                path = os.path.join(self.src, f"batch-{op['batch']:05d}.parquet")
                src = f"(SELECT bar_id, symbol, ts::TIMESTAMP AS ts, open, high, low, close, volume FROM '{path}')"
                if kind == "merge":
                    con.execute(f"DELETE FROM t WHERE bar_id IN (SELECT bar_id FROM {src})")
                con.execute(f"INSERT INTO t SELECT * FROM {src}")
            elif kind == "delete":
                con.execute("DELETE FROM t WHERE symbol = ? AND bar_id <= ?", [op["symbol"], op["max_bar"]])
            elif kind == "update":
                con.execute(
                    "UPDATE t SET close = close * ? WHERE symbol = ? AND bar_id <= ?",
                    [op["scale"], op["symbol"], op["max_bar"]],
                )
            if version == travel_v:
                snapshot = con.execute("SELECT * FROM t").fetchdf()
        failures = []
        for label, v, want in (
            ("latest", self.table.latest_version(), con.execute("SELECT * FROM t").fetchdf()),
            (f"version {travel_v}", travel_v, snapshot),
        ):
            try:
                got = self.table.read(v).toPandas()
                got["ts"] = got["ts"].dt.tz_localize(None) if getattr(got["ts"].dt, "tz", None) else got["ts"]
                compare_frames(got, want, f"lake_ingest {label}")
            except Exception as ex:  # noqa: BLE001 - a failed check is a failed op
                failures.append(f"lake_ingest {label}: {type(ex).__name__}: {str(ex)[:300]}")
        con.close()
        return failures

    def layer_metrics(self, ctx: Ctx) -> dict:
        hist = self.table.history()
        added = removed = 0
        for prev, cur in zip(hist, hist[1:]):
            a, b = set(prev["files"]), set(cur["files"])
            added += len(b - a)
            removed += len(a - b)
        commits = os.path.join(self.root, "_commits")
        return {
            "acid.files_added": added + len(hist[0]["files"]),
            "acid.files_removed": removed,
            "acid.bytes_written": self.bytes_before_vacuum,
            "acid.manifest_bytes": sum(
                os.path.getsize(os.path.join(commits, f)) for f in os.listdir(commits)
            ),
            "acid.live_files": len(hist[-1]["files"]),
            "acid.files_scanned_per_read": (
                sum(len(hist[v]["files"]) for v in self.reads) / len(self.reads)
                if self.reads else 0.0
            ),
        }


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


WORKLOADS = {
    w.name: w for w in (GoldPipeline, LakeIngest, StreamIngest)
}
