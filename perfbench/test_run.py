#!/usr/bin/env python3
"""Tests of the benchmark entry point's result and exit-code rules.

    python3 perfbench/test_run.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SPEC = {
    "end_to_end": [{"name": "setup_s", "unit": "s"}, {"name": "op_p50_ms", "unit": "ms"}],
    "per_layer": [{"name": "spark.jobs", "unit": "count"},
                  {"name": "warm.taxi_chain_s", "unit": "s"}],
}


def harness(failed=0, e2e=None, layers=None):
    return {"correct": failed == 0, "attempted": 10, "failed": failed,
            "e2e": e2e if e2e is not None else {
                "setup_s": {"value": 1.5, "unit": "s"},
                "op_p50_ms": {"value": 12.25, "unit": "ms"}},
            "layers": layers or {"spark.jobs": {"value": 40.0, "unit": "count"}},
            "failures": []}


class ResultTest(unittest.TestCase):
    def test_clean_run_exits_zero(self):
        r = run.final_result(harness(), SPEC, trace=False)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(r["metrics"]), {"setup_s", "op_p50_ms"})
        self.assertEqual(run.exit_code(r), 0)

    def test_failed_operation_exits_nonzero(self):
        r = run.final_result(harness(failed=1), SPEC, trace=False)
        self.assertFalse(r["correct"])
        self.assertNotEqual(run.exit_code(r), 0)

    def test_missing_end_to_end_metric_fails_the_run(self):
        r = run.final_result(harness(e2e={"setup_s": {"value": 1.5, "unit": "s"}}),
                             SPEC, trace=False)
        self.assertEqual(r["failed"], 1)
        self.assertNotEqual(run.exit_code(r), 0)

    def test_traced_run_reports_every_layer_metric(self):
        r = run.final_result(harness(), SPEC, trace=True)
        self.assertEqual(r["metrics"]["spark.jobs"]["value"], 40.0)
        self.assertEqual(r["metrics"]["warm.taxi_chain_s"]["value"], 0)
        self.assertEqual(run.exit_code(r), 0)

    def test_refuses_a_checkout_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "perfbench"))
            shutil.copy(run.__file__, os.path.join(d, "perfbench", "run.py"))
            with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
                json.dump(SPEC, f)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "query_surface", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True,
                               text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
