"""Lakehouse engine benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload gold_pipeline --seed 1 --seconds 15 --trace 0

Workloads: ``gold_pipeline``, ``lake_ingest``, ``stream_ingest`` (see
``workloads.py`` and BENCHMARK.json). One client in one process on
``local[<cores>]`` runs the workload's fixed op sequence once in a closed
loop, then checks its outputs. The sequence does not depend on
``--seconds``, so runs stay comparable across commits; it is sized to
take longer than the 10 s BENCHMARK.json asks for, and a run that ends
sooner says so in its header. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` then runs an untraced reference pass and a traced
pass, both warm, and prints the per-layer metrics plus the tracing
overhead (traced pass against the reference pass). Metric names and
units come from BENCHMARK.json. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated from ``--seed`` and cached under ``.perfbench/cache``;
all scratch (Spark local dirs, warehouse, streaming checkpoints, ACID
tables, event logs) lives under ``.perfbench/run-<pid>`` and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 3


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _prepare_env(work: str) -> dict[str, str]:
    """Point every scratch location the engine and Spark use at ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("local", "scratch", "warehouse", "tmp", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": dirs["local"],
        "EVLP_SCRATCH_DIR": dirs["scratch"],
        "SPARK_WAREHOUSE_DIR": dirs["warehouse"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
    })
    return dirs


class Runner:
    """Session set-up and the closed op loop; counts attempted and failed
    ops across every pass of the run."""

    def __init__(self, args, workload, dirs, rec):
        self.args, self.w, self.dirs, self.rec = args, workload, dirs, rec
        self.cpus = len(os.sched_getaffinity(0))
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ setup --
    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Dlog4j2.level=error -Djava.io.tmpdir={self.dirs['tmp']}",
            "spark.ui.showConsoleProgress": "false",
            **self.w.spark_conf,
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dirs["events"],
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self, ctx_factory):
        """Start the session and run the warm-up op ``SETUP_CYCLES`` times
        (the first start launches the JVM; later ones restart the Spark
        context in it); setup_s is the median cycle."""
        from equity_volatility_lakehouse_platform_spark.session import get_spark

        self.starts, self.warmups, spark = [], [], None
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name=f"perfbench-{self.w.name}", cpus=self.cpus,
                              extra_conf=self._conf())
            t1 = time.perf_counter()
            ctx = ctx_factory(spark)
            self.w.warm_op(ctx)
            t2 = time.perf_counter()
            self.starts.append(t1 - t0)
            self.warmups.append(t2 - t1)
            print(f"setup cycle start {t1 - t0:.2f} s warm-up {t2 - t1:.2f} s", file=sys.stderr)
        return spark, ctx

    # ------------------------------------------------------------- loop --
    def run_pass(self, ctx, p: int) -> list[tuple]:
        """Pass ``p`` of the workload; returns (op, ms) per op. An op that
        raises counts as failed and the pass goes on."""
        ops = []
        for op in self.w.pass_ops(ctx, p):
            self.attempted += 1
            ctx.rec.op_id = self.attempted
            t0 = time.perf_counter()
            try:
                self.w.run_op(ctx, op)
            except Exception as ex:  # noqa: BLE001 - count it and go on
                self.failed += 1
                self.errors.append(f"op {op}: {type(ex).__name__}: {str(ex)[:300]}")
                traceback.print_exc(file=sys.stderr)
            ops.append((op, 1e3 * (time.perf_counter() - t0)))
            print(f"op {p}.{len(ops)} {op} {ops[-1][1]:.1f} ms", file=sys.stderr)
        return ops

    def timed_pass(self, ctx, p: int) -> dict:
        t0 = time.perf_counter()
        ops = self.run_pass(ctx, p)
        return {"ops": ops, "op_ms": [ms for _op, ms in ops],
                "seconds": time.perf_counter() - t0}


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM the gateway launched has exited
    (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def _e2e(res: dict, setup_s: float) -> dict[str, float]:
    from stats import median

    return {
        "setup_s": setup_s,
        "wall_s": res["seconds"],
        "ops_per_s": len(res["op_ms"]) / res["seconds"],
        "op_p50_ms": median(res["op_ms"]),
    }


def _layers(runner, ctx, plain, ref, res, base, ev, names) -> dict:
    """Per-layer metrics ``names`` of the traced pass ``res``; ``plain``
    is the measured sequence and ``ref`` the untraced reference pass
    (lake op timings pool all three). A metric a workload has no layer
    for reads 0."""
    from stats import median, percentile, ratio

    rec = runner.rec
    out = {name: 0.0 for name in names}
    out["session.import_s"] = base["import_s"]
    out["session.jvm_launch_s"] = runner.starts[0]
    out["session.spark_start_s"] = median(runner.starts)
    out["session.warmup_s"] = median(runner.warmups)

    ops = [s for s in rec.spans if s["name"] == "op"]
    builds = [s for s in rec.spans if s["name"] == "build"]
    if builds:
        out["plans.build_ms"] = median([1e3 * (b["end"] - b["start"]) for b in builds])
        out["plans.build_self_ms"] = median([rec.self_ms(b) for b in builds])
        out["plans.build_jobs"] = sum(b.get("jobs", 0) for b in builds)
        out["plans.build_tasks"] = sum(b.get("tasks", 0) for b in builds)
        out["plans.eager_op_ratio"] = sum(1 for b in builds if b.get("jobs")) / len(builds)
        out["plans.build_share"] = (sum(1e3 * (b["end"] - b["start"]) for b in builds)
                                    / sum(1e3 * (s["end"] - s["start"]) for s in ops))
        for key in ("analysis_ms", "rules_ms"):  # absent on an op that raised
            out[f"catalyst.{key}"] = median([s[key] for s in ops if key in s] or [0.0])
        out["catalyst.pre_exec_ms"] = median(
            [s["pre_exec_ms"] for s in rec.spans if "pre_exec_ms" in s] or [0.0]
        )
    c = rec.counters
    out["readers.load_table_calls"] = c["readers.load_table_calls"]
    out["readers.load_table_ms"] = sum(rec.durations_ms("load_table"))
    out["readers.memo_hit_ratio"] = ratio(c["readers.memo_hits"], c["readers.load_table_calls"])
    out["readers.table_rows_calls"] = c["readers.table_rows_calls"]
    out["acid.commit_retries"] = c["acid.commit_retries"]

    for k, v in ev.items():
        out[k] = v
    out["exec.core_busy_ratio"] = ratio(ev.get("exec.task_run_ms", 0.0),
                                        1e3 * res["seconds"] * runner.cpus)

    lake_ops = [s for s in ops if "lake_op" in s]
    if lake_ops:
        timed = [(op["op"], ms) for op, ms in plain["ops"] + ref["ops"] + res["ops"]]

        def _med(kinds):
            xs = [ms for kind, ms in timed if kind in kinds]
            return median(xs) if xs else 0.0
        out["acid.append_ms"] = _med({"append"})
        out["acid.merge_ms"] = _med({"merge"})
        out["acid.dml_ms"] = _med({"delete", "update"})
        out["acid.compact_ms"] = _med({"compact"})
        out["acid.zorder_ms"] = _med({"zorder"})
        out["acid.vacuum_ms"] = _med({"vacuum"})
        out["acid.read_ms"] = _med({"read", "time_travel", "changes"})
        commits = [s for s in lake_ops if s.get("version") is not None]
        out["acid.jobs_per_commit"] = ratio(sum(s.get("jobs", 0) for s in commits), len(commits))
        out["lake.write_p50_ms"] = _med({"append", "merge", "delete", "update", "compact", "zorder"})
        out["lake.read_p50_ms"] = out["acid.read_ms"]
        out.update(runner.w.layer_metrics(ctx))
        out.update({f"lake.{k}": v for k, v in runner.w.user_metrics().items()})

    batches = [b for b in rec.batches if b["op"] is not None]
    if batches:
        out["stream.batches"] = len(batches)
        out["stream.no_data_batches"] = sum(1 for b in batches if not b["rows"])
        for k in ("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
                  "commit_offsets_ms", "state_commit_ms"):
            out[f"stream.{k}"] = sum(b[k] for b in batches)
        out["stream.state_rows"] = max(b["state_rows"] for b in batches)
        out["stream.state_memory_bytes"] = max(b["state_memory_bytes"] for b in batches)
        stream_ops = {b["op"] for b in batches}
        op_wall = sum(1e3 * (s["end"] - s["start"]) for s in ops if s["op"] in stream_ops)
        out["stream.outside_batch_ms"] = op_wall - out["stream.trigger_ms"]

    out["scratch.leftover_entries"] = max((s.get("scratch_entries", 0) for s in ops), default=0)
    out["driver.py_cpu_s"] = base["py_cpu_s"]
    out["driver.jvm_cpu_s"] = base["jvm_cpu_s"]
    out["driver.peak_rss_mb"] = base["rss_mb"]
    out["ops.p90_ms"] = percentile(plain["op_ms"], 90)
    out["ops.failed_ratio"] = ratio(runner.failed, runner.attempted)
    # Traced pass against the reference pass, both warm; the lake's table
    # grows between them, so the op median, not the pass wall, is what
    # stays comparable.
    out["trace.overhead_pct"] = 100.0 * (
        median(res["op_ms"]) / median(ref["op_ms"]) - 1.0
    )
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


def main() -> int:
    args = _parse()
    os.chdir(ROOT)
    if not os.path.isdir(os.path.join(ROOT, "equity_volatility_lakehouse_platform_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "hash_compare.py")):
        print("perfbench: run from a checkout of the engine (package and tests/ missing)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    import workloads
    from probes import Recorder

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    dirs = _prepare_env(work)
    try:
        return _run(args, spec, workloads, Recorder(), dirs, work, bench_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, workloads, rec, dirs, work, bench_dir) -> int:
    import probes
    from stats import median

    w = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    if args.trace:
        probes.install_reader_probes(rec)
        probes.install_commit_probe(rec)
    from equity_volatility_lakehouse_platform_spark.plans import all_oracles, all_queries, load_all

    load_all()
    queries, oracles = all_queries(), all_oracles()
    import_s = time.perf_counter() - t0

    runner = Runner(args, w, dirs, rec)

    def ctx_factory(spark):
        return workloads.Ctx(spark, args.seed, os.path.join(bench_dir, "cache"), work,
                             rec, queries, oracles)

    t_gen = time.perf_counter()
    generated = w.prepare(ctx_factory(None))
    gen_s = time.perf_counter() - t_gen

    spark, ctx = runner.setup(ctx_factory)
    setup_s = median([a + b for a, b in zip(runner.starts, runner.warmups)])
    try:
        jvm = probes.jvm_pid(spark)
        w.start(ctx)
        plain = runner.timed_pass(ctx, 0)  # the measured op sequence
        e2e_plain = _e2e(plain, setup_s)
        rss_mb = probes.peak_rss_mb(os.getpid()) + probes.peak_rss_mb(jvm)
        if args.trace:
            ref = runner.timed_pass(ctx, 1)
            listener = probes.make_stream_listener(rec)
            spark.streams.addListener(listener)
            cpu0 = (probes.cpu_s(os.getpid()), probes.cpu_s(jvm))
            rec.enabled = True
            t_traced = time.time()
            traced = runner.timed_pass(ctx, 2)
            t_traced = (t_traced, time.time())
            rec.enabled = False
            probes.drain_listener_bus(spark)
            py_cpu = probes.cpu_s(os.getpid()) - cpu0[0]
            jvm_cpu = probes.cpu_s(jvm) - cpu0[1]
            spark.streams.removeListener(listener)
        t_check = time.perf_counter()
        failures = w.check(ctx)
        print(f"checks {time.perf_counter() - t_check:.2f} s", file=sys.stderr)
    finally:
        _stop(spark)
    runner.failed += len(failures)  # a mismatch counts as a failed op
    runner.errors.extend(failures)

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if args.trace:
        ev = probes.parse_event_logs(dirs["events"], *t_traced)
        base = {"import_s": import_s, "py_cpu_s": py_cpu, "jvm_cpu_s": jvm_cpu, "rss_mb": rss_mb}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = _layers(runner, ctx, plain, ref, traced, base, ev, list(units))
        rec.dump(os.path.join(bench_dir, "traces", f"{w.name}-s{args.seed}.json"))
    else:
        metrics, units = e2e_plain, e2e_units
        for k, v in w.user_metrics().items():
            print(f"# {k} {v:.4f}")

    print(f"# workload {w.name} seed {args.seed} cores {runner.cpus} ops {len(plain['op_ms'])}")
    if plain["seconds"] < args.seconds:
        print(f"# the op sequence took {plain['seconds']:.1f} s, less than --seconds")
    for k, v in w.spark_conf.items():
        print(f"# conf override: {k}={v} (see workloads.py)")
    print(f"# inputs {'generated' if generated else 'cached'} in {gen_s:.3f} s (not in setup_s)")
    print(f"# peak RSS, driver Python + JVM: {rss_mb:.1f} MB")
    if w.note:
        print(f"# {w.note}")
    for k, v in e2e_plain.items():
        print(f"{k} {v:.6g} {e2e_units[k]}")
    if args.trace:
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {units[k]}")
    for err in runner.errors:
        print(f"# FAILED {err}")
    print(f"# output check: {'ok' if not runner.errors else 'FAILED'}")
    print(json.dumps({
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
