"""Tests of the benchmark itself (not part of the engine's Tier-1 suite).

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark in subprocesses and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import stats  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_tables(str(tmp_path / name), 0.001, seed, row_groups=2)
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def test_lake_inputs_are_deterministic_per_seed(tmp_path):
    d1, fresh = gen.ensure_lake(str(tmp_path / "one"), 3)
    assert fresh
    d2, _ = gen.ensure_lake(str(tmp_path / "two"), 3)
    d3, _ = gen.ensure_lake(str(tmp_path / "three"), 4)
    assert _digest(d1) == _digest(d2)
    assert _digest(d1)["plan.json"] != _digest(d3)["plan.json"]
    assert gen.ensure_lake(str(tmp_path / "one"), 3) == (d1, False)


def test_seeded_permutations_and_lake_plan():
    items = [f"q{i}" for i in range(20)]
    a = gen.shuffled(items, 1, "x")
    assert a == gen.shuffled(items, 1, "x")
    assert a != gen.shuffled(items, 2, "x")
    assert sorted(a) == sorted(items)
    _pre, plan = gen.lake_plan(5)
    assert len(plan) == 3  # the measured pass, the reference and the traced pass
    assert [o["op"] for o in plan[0][-2:]] == ["zorder", "vacuum"]
    assert [sum(o["op"] == "compact" for o in ops) for ops in plan] == [2, 1, 1]
    assert all(o["op"] not in ("zorder", "vacuum") for ops in plan[1:] for o in ops)


@pytest.mark.parametrize("n", [1, 2, 3, 4, 7, 10, 101])
def test_percentile_matches_linear_interpolation(n):
    import numpy as np

    xs = [((i * 7919) % 101) / 3.0 for i in range(n)]
    for q in (0, 10, 25, 50, 75, 90, 100):
        assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    assert stats.median(xs) == pytest.approx(statistics.median(xs))


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_the_workloads():
    import workloads

    assert sorted(w["name"] for w in _bench_json()["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from equity_volatility_lakehouse_platform_spark.session import get_spark

    base = tmp_path_factory.mktemp("spark")
    for key in ("EVLP_SCRATCH_DIR", "SPARK_WAREHOUSE_DIR"):
        os.makedirs(base / key, exist_ok=True)
        os.environ[key] = str(base / key)
    s = get_spark(app_name="perfbench-tests", cpus=2)
    yield s
    s.stop()


def _ctx(spark, tmp_path, queries):
    import workloads
    from probes import Recorder

    from equity_volatility_lakehouse_platform_spark.plans import all_oracles

    return workloads.Ctx(spark, 5, str(tmp_path / "cache"), str(tmp_path), Recorder(),
                         queries, all_oracles())


def test_query_check_fails_on_perturbed_result(spark, tmp_path):
    import workloads

    from equity_volatility_lakehouse_platform_spark.plans import all_queries, load_all

    load_all()
    real = all_queries()
    name = "a01_ordered_ohlcv_rollup"
    w = workloads.StreamIngest()
    w.sf = 0.001
    ctx = _ctx(spark, tmp_path, real)
    w.prepare(ctx)
    w.ran = [name]
    assert w.check(ctx) == []
    perturbed = dict(real)
    perturbed[name] = lambda s, d: real[name](s, d).limit(1)
    ctx = _ctx(spark, tmp_path, perturbed)
    failures = w.check(ctx)
    assert len(failures) == 1 and failures[0].startswith(name)


def test_lake_check_fails_on_perturbed_replay(spark, tmp_path):
    import workloads

    w = workloads.LakeIngest()
    ctx = _ctx(spark, tmp_path, {})
    w.prepare(ctx)
    w.start(ctx)
    for op in w.pass_ops(ctx, 0)[:14] + [
        {"op": "update", "symbol": "SYM1", "max_bar": 1 << 20, "scale": 1.01},
        {"op": "compact"}, {"op": "vacuum"},
    ]:
        w.run_op(ctx, op)
    assert w.check(ctx) == []  # the oldest retained snapshot still reads
    assert w.bytes_before_vacuum > _tree_bytes(w.root)  # the vacuum reclaimed space
    upd = next(op for op, _v in w.done if op["op"] == "update")
    upd["scale"] = 1.02
    assert len(w.check(ctx)) >= 1


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(root) for f in fs)


def _smoke(workload: str, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("gold_pipeline", 0), ("lake_ingest", 1), ("stream_ingest", 1),
])
def test_smoke_run(workload, trace):
    out = _smoke(workload, trace)
    doc = _bench_json()
    want = doc["per_layer" if trace else "end_to_end"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert [k for k in out["metrics"]] == [m["name"] for m in want]
    assert all(out["metrics"][m["name"]]["unit"] == m["unit"] for m in want)


def test_refuses_to_run_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src, open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gold_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0 and r.stdout == ""
