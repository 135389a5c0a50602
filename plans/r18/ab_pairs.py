#!/usr/bin/env python3
"""Interleaved A/B pairs of the perfbench benchmark between two checkouts.

    python3 plans/r18/ab_pairs.py --a PARENT_CHECKOUT --b CHANGED_CHECKOUT \
        --workload monthly_update --seeds 41-50 --out plans/r18/ab_monthly.json

For each seed, runs `perfbench/run.py --trace 0` once in each checkout,
A first on even pair indices and B first on odd ones, so drift on the
machine hits both sides alike. Writes every run's end-to-end metrics
and, per metric, both sides' medians and quartiles, the median of the
per-pair differences, and in how many pairs B was better.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run failed in {checkout} (seed {seed}):\n{p.stderr[-3000:]}")
    r = json.loads(lines[-1])
    return {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            **{k: v["value"] for k, v in r["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout of the parent commit")
    ap.add_argument("--b", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    pairs = []
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        got = {side: run(getattr(a, side), a.workload, seed, a.seconds) for side in order}
        pairs.append({"seed": seed, "order": "".join(order), **got})
        print(f"seed {seed} {''.join(order)}: latency_ms_p50 "
              f"a {got['a']['latency_ms_p50']:.1f} b {got['b']['latency_ms_p50']:.1f}",
              file=sys.stderr, flush=True)
    bench = json.load(open(os.path.join(a.b, "BENCHMARK.json")))
    summary = {}
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        av = [p["a"][name] for p in pairs]
        bv = [p["b"][name] for p in pairs]
        aq1, amed, aq3 = statistics.quantiles(av, n=4)
        bq1, bmed, bq3 = statistics.quantiles(bv, n=4)
        diffs = [y - x for x, y in zip(av, bv)]
        summary[name] = {
            "a_median": amed, "a_q1": aq1, "a_q3": aq3,
            "b_median": bmed, "b_q1": bq1, "b_q3": bq3,
            "median_change_pct": 100 * (bmed - amed) / amed,
            "median_pair_diff": statistics.median(diffs),
            "a_iqr": aq3 - aq1,
            "b_better_pairs": sum(1 for d in diffs if (d < 0 if lower else d > 0)),
            "pairs": len(pairs)}
    json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
               "pairs": pairs, "summary": summary}, open(a.out, "w"), indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
