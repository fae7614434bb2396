#!/usr/bin/env python3
"""The benchmark's own tests. Each launches run.py, so they take minutes:

    python3 -m unittest perfbench/test_bench.py -v

- smoke: a tiny run of each workload, untraced and traced, finishes with no
  failed op, and its result line names every metric of BENCHMARK.json with
  its unit;
- negative: with --inject-fault every op's output is corrupted before its
  check, and every op must then fail, so no check is vacuous;
- the benchmark refuses to run, quickly and without a result line, where
  only BENCHMARK.json and the benchmark's own files are present.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
# frame_gather is runnable by hand but not in BENCHMARK.json (see README.md)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["frame_gather"]


def run(workload, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1", "--tiny",
                        *extra], cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, res, metrics):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = result(run(w, "--trace", "0"))
                self.check(res, BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(result(run(w, "--trace", "1")), BENCH["per_layer"])


class Negative(unittest.TestCase):
    def test_corrupted_outputs_fail_their_checks(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = result(run(w, "--trace", "0", "--inject-fault"))
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(res["failed"], res["attempted"])


class Alone(unittest.TestCase):
    def test_refuses_without_the_library(self):
        lonely = os.path.join(HERE, "target", "test-alone")
        shutil.rmtree(lonely, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(lonely, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lonely)
        try:
            p = run(BENCH["workloads"][0]["name"], "--trace", "0", cwd=lonely)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(lonely, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
