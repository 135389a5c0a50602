#!/usr/bin/env python3
"""Traced corpus_dedup runs on two checkouts, seed by seed.

    python3 plans/r20/traced.py --a PARENT_CHECKOUT --b CHANGED_CHECKOUT \
        --seeds 4-6 --out plans/r20/traced_corpus_dedup.json

Runs `perfbench/run.py --workload corpus_dedup --trace 1` for each seed
in each checkout (A first on even seed indices, B first on odd ones)
and writes every run's check counts, its operator metrics and
`dedup.recall`.
"""
import argparse
import json
import subprocess
import sys


def run(checkout, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "corpus_dedup",
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run failed in {checkout} (seed {seed}):\n{p.stderr[-3000:]}")
    r = json.loads(lines[-1])
    ops = {k: v["value"] for k, v in r["metrics"].items()
           if k.startswith("operators.") or k == "dedup.recall"}
    jobs = sum(v for k, v in ops.items() if k.endswith(".jobs"))
    return {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            "operator_jobs_total": jobs, **ops}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout of the parent commit")
    ap.add_argument("--b", required=True, help="checkout of the change")
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = {}
    for i, seed in enumerate(range(lo, hi + 1)):
        for side in (("a", "b") if i % 2 == 0 else ("b", "a")):
            name = f"seed{seed}_{'parent' if side == 'a' else 'change'}"
            runs[name] = run(getattr(a, side), seed, a.seconds)
            print(name, json.dumps(runs[name]), file=sys.stderr, flush=True)
    json.dump({"workload": "corpus_dedup", "trace": 1, "seconds": a.seconds, "runs": runs},
              open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
