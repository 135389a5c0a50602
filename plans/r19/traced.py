#!/usr/bin/env python3
"""Traced perfbench runs of one workload on two checkouts, seed by seed.

    python3 plans/r19/traced.py --a PARENT_CHECKOUT --b CHANGED_CHECKOUT \
        --seeds 5-7 --out plans/r19/traced_monthly_update.json

Runs `perfbench/run.py --trace 1` for each seed in each checkout (A
first on even seed indices, B first on odd ones) and writes every
run's check counts and the per-layer metrics in METRICS.
"""
import argparse
import json
import subprocess
import sys

METRICS = [
    "pipeline.decide_and_log.ms", "pipeline.decide_and_log.jobs",
    "pipeline.apply_monthly.ms", "pipeline.apply_monthly.jobs",
    "pipeline.apply_monthly.tasks", "pipeline.apply_monthly.task_ms",
    "pipeline.apply_monthly.driver_ms", "pipeline.apply_monthly.write_ms",
    "pipeline.apply_monthly.commit_ms", "pipeline.initialize.ms",
    "pipeline.maintain.ms", "sources.publish.files", "sources.publish.bytes",
    "monthly.stream_apply_s", "streaming.trigger_ms_p50", "trace.overhead_pct",
]


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run failed in {checkout} (seed {seed}):\n{p.stderr[-3000:]}")
    r = json.loads(lines[-1])
    return {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            **{k: r["metrics"][k]["value"] for k in METRICS if k in r["metrics"]}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout of the parent commit")
    ap.add_argument("--b", required=True, help="checkout of the change")
    ap.add_argument("--workload", default="monthly_update")
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = {}
    for i, seed in enumerate(range(lo, hi + 1)):
        for side in (("a", "b") if i % 2 == 0 else ("b", "a")):
            name = f"seed{seed}_{'parent' if side == 'a' else 'change'}"
            runs[name] = run(getattr(a, side), a.workload, seed, a.seconds)
            print(name, json.dumps(runs[name]), file=sys.stderr, flush=True)
    json.dump({"workload": a.workload, "trace": 1, "seconds": a.seconds, "runs": runs},
              open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
