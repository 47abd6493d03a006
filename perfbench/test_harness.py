"""Tests of the benchmark's own logic.

    python3 perfbench/test_harness.py

Builds the harness, runs its Spark-free checks (graft.perfbench.LogicTest:
the tail-percentile rule, self time with overlapping child spans, a
throwing operation counted as failed, open-loop latency from due time),
then checks how run.py turns the harness's result into the last line.
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class HarnessLogic(unittest.TestCase):
    def test_scala_logic(self):
        classpath, _ = build.build()
        r = subprocess.run(["java", "-cp", os.pathsep.join(classpath),
                            "graft.perfbench.LogicTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


class ResultLine(unittest.TestCase):
    RESULT = {"correct": True, "attempted": 7, "failed": 0,
              "end_to_end": {"run_s": 1.5, "setup_s": 2.25},
              "per_layer": {"engine.tasks": 40.0}}

    def test_end_to_end_metrics_with_units(self):
        line = json.loads(run.result_line(self.RESULT, [("setup_s", "s"), ("run_s", "s")], 0))
        self.assertEqual(line, {"correct": True, "attempted": 7, "failed": 0, "metrics": {
            "setup_s": {"value": 2.25, "unit": "s"}, "run_s": {"value": 1.5, "unit": "s"}}})

    def test_missing_end_to_end_metric_is_an_error(self):
        with self.assertRaises(ValueError):
            run.result_line(self.RESULT, [("op_p50_s", "s")], 0)

    def test_layer_a_workload_does_not_run_reads_zero(self):
        line = json.loads(run.result_line(
            self.RESULT, [("engine.tasks", "count"), ("streaming.batches", "count")], 1))
        self.assertEqual(line["metrics"]["streaming.batches"]["value"], 0.0)
        self.assertEqual(line["metrics"]["engine.tasks"]["value"], 40.0)

    def test_failed_operations_stay_counted(self):
        r = dict(self.RESULT, correct=False, failed=2)
        line = json.loads(run.result_line(r, [("run_s", "s")], 0))
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 7, 2))


if __name__ == "__main__":
    unittest.main()
