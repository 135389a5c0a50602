#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/test_bench.py

- the generators' closed forms (the JVM self-test);
- every workload's checks pass on the program as it is, and count
  failures when given a wrong expectation (`--plant-wrong`);
- a traced run reports every per-layer metric, and its own layers non-zero;
- a directory holding only the benchmark refuses to run;
- the steadiness tool's spread arithmetic.

The workload runs take a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import steady  # noqa: E402

RUN = [sys.executable, os.path.join(HERE, "run.py")]
BENCH = json.load(open("BENCHMARK.json"))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def result(args):
    p = subprocess.run(RUN + args, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


class Bench(unittest.TestCase):
    def test_generators(self):
        code, _ = result(["--workload", "selftest"])
        self.assertEqual(code, 0)

    def test_checks_pass_and_catch_planted_wrong_answers(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, r = result(["--workload", w, "--seed", "3", "--seconds", "1"])
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertEqual(list(r["metrics"]), [m["name"] for m in BENCH["end_to_end"]])
                self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()))
                code, r = result(["--workload", w, "--seed", "3", "--seconds", "1", "--plant-wrong"])
                self.assertEqual(code, 0)
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)
                self.assertLessEqual(r["failed"], r["attempted"])

    def test_traced_run_reports_every_layer(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, r = result(["--workload", w, "--seed", "4", "--seconds", "1", "--trace", "1"])
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"])
                self.assertEqual(sorted(r["metrics"]), sorted(m["name"] for m in BENCH["per_layer"]))
                prefix = {"monthly_update": "pipeline.", "analyst_reads": "plans.",
                          "corpus_dedup": "operators."}[w]
                self.assertTrue(any(v["value"] > 0 for k, v in r["metrics"].items()
                                    if k.startswith(prefix)))

    def test_refuses_without_the_program(self):
        d = tempfile.mkdtemp(dir=".bench_build")
        try:
            shutil.copy("BENCHMARK.json", d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(any(l.startswith("{") for l in p.stdout.splitlines()))
        finally:
            shutil.rmtree(d)

    def test_spread(self):
        med, q1, q3, s = steady.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(s, 1.0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
