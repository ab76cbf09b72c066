"""Benchmark-side instrumentation for the traced run.

Nothing here changes the engine: spans are recorded around the calls the
benchmark makes into each layer, ``load_table``/``table_rows`` are wrapped
before the plan modules import them, Spark jobs are attributed through
job groups and the status store, Catalyst rule time through its own
rule metering, streaming batches through a
``StreamingQueryListener``, and executor-side figures come from the Spark
event log after the session stops. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    """In-memory spans and counters; inert unless ``enabled``."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.batches: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """A span measured elsewhere (a Spark job's submit/complete times)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "op": self.op_id,
            "parent": parent, "start": start, "end": end, **attrs,
        })

    def add(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[key] += value

    def durations_ms(self, name: str) -> list[float]:
        return [1e3 * (s["end"] - s["start"]) for s in self.spans if s["name"] == name]

    def self_ms(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return 1e3 * (span["end"] - span["start"] - covered)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "batches": self.batches}, fh)


def install_reader_probes(rec: Recorder) -> None:
    """Wrap ``readers.load_table`` and ``readers.table_rows``. Must run
    before ``plans.load_all()``: the plan modules bind the names at
    import."""
    from equity_volatility_lakehouse_platform_spark.sources import readers

    orig_load, orig_rows = readers.load_table, readers.table_rows

    def load_table(spark, sf_dir, name):
        if not rec.enabled:
            return orig_load(spark, sf_dir, name)
        memo = readers._PLAN_MEMO
        hit = memo is not None and (os.path.abspath(sf_dir), name) in memo.get(spark, {})
        with rec.span("load_table", table=name):
            df = orig_load(spark, sf_dir, name)
        rec.add("readers.load_table_calls")
        rec.add("readers.memo_hits", float(hit))
        return df

    def table_rows(sf_dir, name):
        rec.add("readers.table_rows_calls")
        return orig_rows(sf_dir, name)

    readers.load_table = load_table
    readers.table_rows = table_rows


def install_commit_probe(rec: Recorder) -> None:
    """Count lost commit races: ``AcidTable`` retries internally, so the
    only outside view of a retry is a ``CommitConflict`` from the publish
    step."""
    from equity_volatility_lakehouse_platform_spark.sources import acid

    orig = acid.AcidTable._try_commit

    def _try_commit(self, *args, **kwargs):
        try:
            return orig(self, *args, **kwargs)
        except acid.CommitConflict:
            rec.add("acid.commit_retries")
            raise

    acid.AcidTable._try_commit = _try_commit


def drain_listener_bus(spark) -> None:
    """Block until the Spark driver's listener bus has delivered every event
    posted so far, so status-store and listener figures are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_jobs(spark, group: str) -> list[dict]:
    """Jobs of a job group from the Spark driver's status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        out.append({
            "job": jid,
            "tasks": jd.numTasks(),
            "submit": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "complete": comp.get().getTime() / 1e3 if comp.isDefined() else None,
        })
    return out


def _rule_executor(spark):
    return spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor


def reset_catalyst_meter(spark) -> None:
    """Zero Catalyst's process-wide rule metering (every analyzer,
    optimizer and adaptive rule run, on any thread)."""
    _rule_executor(spark).resetMetrics()


def catalyst_rule_ms(spark) -> tuple[float, float]:
    """(analyzer rules, all rules) run time in ms since the last reset,
    from the per-rule table of ``RuleExecutor.dumpTimeSpent``; its rows
    read ``<rule> <effective ns> / <total ns> <effective runs> / <runs>``."""
    analysis = 0
    for line in _rule_executor(spark).dumpTimeSpent().splitlines():
        parts = line.split()
        if len(parts) == 7 and parts[0].startswith("org.apache.spark.sql.catalyst.analysis."):
            analysis += int(parts[3])
    total = _rule_executor(spark).getCurrentMetrics().time()
    return analysis / 1e6, total / 1e6


def make_stream_listener(rec: Recorder):
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            states = list(p.stateOperators or [])
            rec.batches.append({
                "op": rec.op_id,
                "rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "commit_offsets_ms": d.get("commitOffsets", 0),
                "state_commit_ms": sum(s.commitTimeMs for s in states),
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in states),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProbe()


# ------------------------------------------------------------- /proc --
def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------- event log --
_PY_NODES = ("Python", "Pandas", "Arrow")


def _walk(node):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def parse_event_logs(log_dir: str, t0: float, t1: float) -> dict:
    """Executor-side totals over the jobs submitted between epoch seconds
    ``t0`` and ``t1`` (the traced pass; the client is the only one, so
    this includes the micro-batch jobs that streaming queries submit from
    their own threads): counts, task time, bytes, Python-worker traffic
    and the exchanges of the final (adaptive) plans."""
    jobs, stages, execs = set(), set(), set()
    stage_submit: dict[int, float] = {}
    plans: dict[int, dict] = {}
    accum: dict[int, float] = {}
    tasks: list[dict] = []
    paths = [os.path.join(d, f) for d, _dirs, files in os.walk(log_dir) for f in files]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if t0 * 1e3 <= ev["Submission Time"] <= t1 * 1e3:
                        jobs.add(ev["Job ID"])
                        stages.update(ev["Stage IDs"])
                        if "spark.sql.execution.id" in props:
                            execs.add(int(props["spark.sql.execution.id"]))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
                elif kind == "SparkListenerStageCompleted":
                    for a in ev["Stage Info"].get("Accumulables", ()):
                        try:
                            v = float(a.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        accum[a["ID"]] = max(accum.get(a["ID"], 0.0), v)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    out = defaultdict(float)
    out["exec.jobs"] = len(jobs)
    seen_stages = set()
    for ev in tasks:
        sid = ev["Stage ID"]
        if sid not in stages:
            continue
        seen_stages.add(sid)
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        out["exec.tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            out["exec.task_failures"] += 1
        out["exec.task_run_ms"] += m.get("Executor Run Time", 0)
        out["exec.task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        out["exec.gc_ms"] += m.get("JVM GC Time", 0)
        out["exec.task_wait_ms"] += max(0, info["Launch Time"] - stage_submit.get(sid, info["Launch Time"]))
        out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        out["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out["exec.stages"] = len(seen_stages)
    for eid in execs:
        plan = plans.get(eid)
        if plan is None:
            continue
        for node in _walk(plan):
            name = node.get("nodeName", "")
            if name.endswith("Exchange") and not name.startswith("Reused"):
                out["exec.exchanges"] += 1
            if any(k in name for k in _PY_NODES):
                for metric in node.get("metrics", ()):
                    v = accum.get(metric.get("accumulatorId"), 0.0)
                    if metric.get("name") == "number of output rows":
                        out["exec.python_rows"] += v
                    elif "Python workers" in metric.get("name", ""):
                        out["exec.python_bytes"] += v
    return dict(out)
