#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny (sf0.001) input.

    python3 perfbench/tests/selftest.py

Runs the benchmark command three times from the checkout root and
asserts that:
  * a clean run is correct and emits every end-to-end metric named in
    BENCHMARK.json, with its unit;
  * a run with one injected throwing op and one injected wrong-result op
    reports both as failing ops, counts them in `failed`, and is not
    correct;
  * a traced run emits every per-layer metric named in BENCHMARK.json,
    with its unit.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
RETAIL_OPS = {"q3_join_agg", "q22_rollup", "q53_trailing_window", "q31_etl_transactions",
              "q33_etl_customer"}


def run(*extra):
    cmd = SPEC["command"] + ["--workload", "retail_batch", "--seed", "7", "--seconds", "1",
                             "--sf", "0.001"] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1200)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2][len("report "):])
    return report, json.loads(lines[-1])


class SelfTest(unittest.TestCase):

    def assert_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        for m in spec:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})

    def test_clean_run(self):
        report, result = run("--trace", "0")
        self.assertTrue(result["correct"], report["failing_ops"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assert_metrics(result, SPEC["end_to_end"])
        self.assertEqual(report["failed_ratio"], 0.0)

    def test_injected_faults_count(self):
        report, result = run("--trace", "0", "--inject-faults", "1")
        self.assertFalse(result["correct"])
        # exactly the injected ops fail; the clean ops that ran beside
        # them are not blamed
        self.assertEqual(set(report["failing_ops"]), {"inject_throw", "inject_wrong"})
        self.assertLessEqual(RETAIL_OPS, set(report["per_op_median_s"]))
        # the throwing op fails on the check pass and every timed pass;
        # the wrong-result op fails on every execution as well
        per_op = 1 + report["passes_run"]
        self.assertEqual(result["failed"], 2 * per_op)
        self.assertAlmostEqual(report["failed_ratio"], result["failed"] / result["attempted"])
        self.assert_metrics(result, SPEC["end_to_end"])

    def test_traced_run(self):
        report, result = run("--trace", "1")
        self.assertTrue(result["correct"], report["failing_ops"])
        self.assert_metrics(result, SPEC["per_layer"])
        self.assertIn("trace_overhead_s", report)
        self.assertTrue(report["self_s"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
