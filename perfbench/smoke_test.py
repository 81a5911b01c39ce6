#!/usr/bin/env python3
"""Smoke tests of the benchmark on tiny inputs (a 40-stop feed for
gtfs_daily, sf0.001 embeddings for analytics_neardup).

For every workload: an untraced and a traced run print every metric that
BENCHMARK.json names, with its unit, and pass their output checks; a run
with a planted wrong row reports a non-zero error_rate and correct=false.

Usage: python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", trace, "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


class Smoke(unittest.TestCase):
    def check_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                report, result = run(w["name"], "0")
                self.check_metrics(result, SPEC["end_to_end"])
                self.assertTrue(result["correct"], report["failures"])
                self.assertEqual(report["metrics"]["error_rate"]["value"], 0)
                self.assertEqual(report["start_state"]["warehouse_tables"], 0)
            with self.subTest(workload=w["name"], trace=1):
                report, result = run(w["name"], "1")
                self.check_metrics(result, SPEC["per_layer"])
                self.assertTrue(result["correct"], report["failures"])
                self.assertIn("trace_overhead_s", report)
                self.assertTrue(report["layers"])

    def test_planted_wrong_row(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                report, result = run(w["name"], "0", "--plant-wrong")
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(report["metrics"]["error_rate"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
