#!/usr/bin/env python3
"""Traced perfbench runs on two checkouts, seed by seed.

    python3 plans/r20/traced.py --a PARENT_CHECKOUT --b CHANGED_CHECKOUT \
        --seeds 4-6 --out plans/r20/traced_corpus_dedup.json
    python3 plans/r20/traced.py --workload analyst_reads --event-logs /tmp/ev \
        --a PARENT_CHECKOUT --b CHANGED_CHECKOUT --seeds 4-6 --out traced.json

Runs `perfbench/run.py --workload W --trace 1` for each seed in each
checkout (A first on even seed indices, B first on odd ones) and writes
every run's check counts and metrics: for corpus_dedup its operator
metrics and `dedup.recall`, for other workloads every per-layer metric.
With `--event-logs DIR` each run also writes a Spark event log under DIR
and the record counts the traced pass's jobs by call site (the jobs
that carry a perfbench span tag; set-up, warm-up and the untraced pass
carry none).
"""
import argparse
import collections
import glob
import json
import os
import subprocess
import sys


def job_sites(log_dir):
    """Call sites of the traced pass's jobs in the one event log in log_dir."""
    sites = collections.Counter()
    for path in glob.glob(os.path.join(log_dir, "*")):
        for line in open(path):
            e = json.loads(line) if line.startswith("{") else {}
            if e.get("Event") != "SparkListenerJobStart":
                continue
            props = e.get("Properties") or {}
            if "gbspan-" in props.get("spark.job.tags", ""):
                # a job's result stage (its last) is named by the call site
                result = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
                sites[props.get("callSite.short", result["Stage Name"])] += 1
    return dict(sites.most_common())


def run(checkout, workload, seed, seconds, log_dir):
    env = dict(os.environ)
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                    f" -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:{log_dir}"
                                    " -Dspark.eventLog.compress=false"
                                    " -Dspark.eventLog.rolling.enabled=false")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=checkout, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run failed in {checkout} (seed {seed}):\n{p.stderr[-3000:]}")
    r = json.loads(lines[-1])
    if workload == "corpus_dedup":
        ops = {k: v["value"] for k, v in r["metrics"].items()
               if k.startswith("operators.") or k == "dedup.recall"}
        extra = {"operator_jobs_total": sum(v for k, v in ops.items() if k.endswith(".jobs"))}
    else:
        ops = {k: v["value"] for k, v in r["metrics"].items()}
        extra = {}
    if log_dir:
        extra["traced_pass_jobs_by_site"] = job_sites(log_dir)
    return {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            **extra, **ops}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout of the parent commit")
    ap.add_argument("--b", required=True, help="checkout of the change")
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--workload", default="corpus_dedup")
    ap.add_argument("--event-logs", help="directory for the runs' Spark event logs")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = {}
    for i, seed in enumerate(range(lo, hi + 1)):
        for side in (("a", "b") if i % 2 == 0 else ("b", "a")):
            name = f"seed{seed}_{'parent' if side == 'a' else 'change'}"
            log_dir = a.event_logs and os.path.join(os.path.abspath(a.event_logs), name)
            runs[name] = run(getattr(a, side), a.workload, seed, a.seconds, log_dir)
            print(name, json.dumps(runs[name]), file=sys.stderr, flush=True)
    json.dump({"workload": a.workload, "trace": 1, "seconds": a.seconds, "runs": runs},
              open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
