#!/usr/bin/env python3
"""Fork census of one perfbench run: every process the workload's JVM starts.

    python3 plans/r19/census.py --checkout DIR --label parent \
        --workload monthly_update --seed 4 --out plans/r19/census_parent.json

Runs `perfbench/run.py --trace 0` once in the checkout (after one
unrecorded run that builds `.bench_build/`), with the JDK flight
recorder started through JAVA_TOOL_OPTIONS, and reads the recording's
`jdk.ProcessStart` events with the JDK's `jfr` tool. Writes the total,
the count per command word (and per mode for `chmod`), and a sample of
the command lines.
"""
import argparse
import collections
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile


def run(checkout, workload, seed, seconds, env=None):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, env=env)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run failed in {checkout}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--checkout", required=True)
    ap.add_argument("--label", required=True)
    ap.add_argument("--workload", default="monthly_update")
    ap.add_argument("--seed", type=int, default=4)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    run(a.checkout, a.workload, a.seed, a.seconds)  # build, unrecorded
    rec = tempfile.mkdtemp(prefix="census")
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(
        f"-XX:StartFlightRecording=filename={rec}/run-%p.jfr,dumponexit=true,settings=default"))
    r = run(a.checkout, a.workload, a.seed, a.seconds, env)
    commands = []
    for f in sorted(glob.glob(f"{rec}/*.jfr")):
        out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", f],
                             stdout=subprocess.PIPE, text=True, check=True).stdout
        commands += [e["values"]["command"].replace(os.path.abspath(a.checkout), "<checkout>")
                     for e in json.loads(out)["recording"]["events"]]
    shutil.rmtree(rec)
    by = collections.Counter()
    for c in commands:
        w = c.split()
        by[" ".join(w[:2]) if w and w[0] == "chmod" else (w[0] if w else "")] += 1
    doc = {"label": a.label, "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "correct": r["correct"], "failed": r["failed"],
           "latency_ms_p50": r["metrics"]["latency_ms_p50"]["value"],
           "processes": len(commands), "by_command": dict(by.most_common()),
           "sample": commands[:20]}
    json.dump(doc, open(a.out, "w"), indent=1)
    print(json.dumps({k: doc[k] for k in ("label", "processes", "by_command")}))


if __name__ == "__main__":
    main()
