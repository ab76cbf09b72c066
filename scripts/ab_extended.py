"""Interleaved same-machine A/B over EXTENDED-tier queries (round 10).

The round-9 verdict's open question: st15 (6.45 -> 12.22 s) and st17
(3.19 -> 5.57 s) jumped vs round 8 in the recorded BENCH artifacts while
their source was untouched — the headline-only A/B proved ~1.4x
environmental drift but did not cover the extended tier. This script is
the same controlling experiment extended there: whole-process runs of
engine A (a git worktree pinned at a prior commit) and engine B (HEAD)
STRICTLY INTERLEAVED (A,B,B,A,A,B,...) on the same machine in the same hour,
so machine-state drift hits both engines equally and only a genuine code
regression can separate them.

Usage:
    git worktree add /tmp/ab_r8 <commit>
    python scripts/ab_extended.py /tmp/ab_r8 /root/repo \
        --queries st14_stream_stream_left_join,st15_stream_stream_right_join \
        --out AB_EXT_r10.json

Per process run each query is built fresh, warmed once, then timed
best-of-3 (bench.py's extended-tier protocol). The recorded number per
(engine, query) is the min over interleave rounds — the stable
steady-state estimator.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from equity_volatility_lakehouse_platform_spark.plans import all_queries, load_all
from equity_volatility_lakehouse_platform_spark.session import get_spark

names = sys.argv[1].split(",")
sf_dir = sys.argv[2]
n_runs = int(sys.argv[3])
load_all()
queries = all_queries()
spark = get_spark(app_name="evlp-ab")
out = {}
for name in names:
    if name not in queries:
        continue
    queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    ts = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        ts.append(time.perf_counter() - t0)
    out[name] = round(min(ts), 3)
spark.stop()
print("ABJSON:" + json.dumps(out))
"""

def _default_queries() -> str:
    """The FULL extended tier, sourced from bench.py (round 11 — the
    round-10 A/B covered only 6 of the 18 queries, so cross-round
    swings on the others had to be re-litigated; defaulting to the
    whole tier makes the standing round-end A/B pre-exonerate all of
    them)."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import EXTENDED

    return ",".join(EXTENDED)


def run_engine(engine_dir: str, queries: str, sf_dir: str, n_runs: int) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-", queries, sf_dir, str(n_runs)],
        input=RUNNER,
        capture_output=True,
        text=True,
        cwd=engine_dir,
        env=env,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABJSON:"):
            return json.loads(line[len("ABJSON:"):])
    raise RuntimeError(
        f"runner in {engine_dir} produced no result "
        f"(rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("engines", nargs=2, help="two engine dirs (A then B)")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.queries is None:
        args.queries = _default_queries()

    per_engine: dict[str, list[dict]] = {e: [] for e in args.engines}
    for rnd in range(args.rounds):
        # Strict interleave, alternating which engine runs first, so
        # neither takes every first slot after an idle spell (on a
        # shared host that slot can run faster).
        order = args.engines if rnd % 2 == 0 else args.engines[::-1]
        for engine in order:
            res = run_engine(engine, args.queries, args.sf_dir, args.runs)
            per_engine[engine].append(res)
            print(f"round {rnd + 1} {engine}: {json.dumps(res)}", flush=True)

    summary = {}
    for engine, rounds in per_engine.items():
        mins: dict[str, float] = {}
        for res in rounds:
            for k, v in res.items():
                mins[k] = min(mins.get(k, v), v)
        summary[engine] = {
            "per_round": rounds,
            "best": mins,
            "best_total": round(sum(mins.values()), 3),
        }
    record = {
        "method": "interleaved whole-process A/B, alternating which "
        "engine runs first, best-of-rounds of best-of-runs, same machine "
        "same hour",
        "sf_dir": args.sf_dir,
        "rounds": args.rounds,
        "runs_per_process": args.runs,
        "engines": summary,
    }
    line = json.dumps(record, indent=1)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
