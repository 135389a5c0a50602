#!/usr/bin/env python3
"""Steadiness check for the benchmark in BENCHMARK.json.

Run from the root of a checkout:

    python3 perfbench/steady.py --runs 10 --sets 2 [--workloads monthly_update,...]

Runs every workload `--runs` times per set, each run with another seed
(set k uses seeds k*1000+1 .. k*1000+runs; `--first-set` numbers the
first set), untraced. For each
end-to-end metric it prints the median, the quartiles and the spread
(interquartile distance over the median, from
`statistics.quantiles(values, n=4)`), the metric's bound, and whether
the spread is below a third of the bound. With two or more sets it also
prints how far each set's median lies from the first set's, against
the bound. A summary is written to `.bench_build/steady-<time>.json`.
Exits 1 if any run fails or reports a wrong answer.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print("\n".join(p.stderr.strip().splitlines()[-15:]), file=sys.stderr)
        return None
    r = json.loads(lines[-1])
    if r["failed"]:
        print("\n".join(l for l in p.stderr.splitlines() if "FAILED" in l), file=sys.stderr)
    return r


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-set", type=int, default=0,
                    help="number of the first set, so a later call draws fresh seeds")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    ok = True
    for w in a.workloads.split(","):
        sets = []
        for k in range(a.first_set, a.first_set + a.sets):
            values = {m: [] for m in bounds}
            for i in range(a.runs):
                seed = k * 1000 + i + 1
                t0 = time.time()
                r = run_once(w, seed, a.seconds)
                if r is None or not r["correct"] or r["failed"]:
                    print(f"{w} seed {seed}: FAILED {r and {x: r[x] for x in ('attempted', 'failed')}}")
                    ok = False
                    continue
                for m in bounds:
                    values[m].append(r["metrics"][m]["value"])
                print(f"{w} set {k} seed {seed} ({time.time() - t0:.0f}s): " +
                      " ".join(f"{m}={r['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
            sets.append(values)
        summary[w] = []
        for k, values in enumerate(sets, start=a.first_set):
            for m, vs in values.items():
                if len(vs) < 2:
                    continue
                med, q1, q3, s = spread(vs)
                row = {"set": k, "metric": m, "median": med, "q1": q1, "q3": q3, "spread": s,
                       "bound": bounds[m], "n": len(vs)}
                if k > a.first_set and len(sets[0][m]) >= 2:
                    m0 = spread(sets[0][m])[0]
                    row["shift_vs_set0"] = (med - m0) / m0
                summary[w].append(row)
                note = "" if m == "setup_s" else ("steady" if s < bounds[m] / 3 else "WIDE")
                shift = f" shift {row['shift_vs_set0']:+.3f}" if "shift_vs_set0" in row else ""
                print(f"{w:15s} set {k} {m:15s} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                      f"spread {s:.3f} bound {bounds[m]} {note}{shift}")
    os.makedirs(".bench_build", exist_ok=True)
    with open(f".bench_build/steady-{int(time.time())}.json", "w") as f:
        json.dump(summary, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
