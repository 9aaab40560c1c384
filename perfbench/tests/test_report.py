"""Tests of the benchmark's own accounting: failures are counted and
never timed, outputs that disagree with the oracle fail their operation,
and BENCHMARK.json names exactly the metrics the runs print.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import oracle_check  # noqa: E402
import report  # noqa: E402


def op(kind, name, ms, ok=True, error=None):
    return {"kind": kind, "name": name, "ms": ms, "ok": ok, "error": error}


def record(ops):
    return {"ops": ops, "setup_s": 12.5, "peak_rss_mb": 900.0}


class FailureAccounting(unittest.TestCase):
    def test_throwing_operation_is_failed_and_not_a_sample(self):
        ops = [op("kpi", "a", 10.0), op("kpi", "b", 12.0),
               op("kpi", "boom", 0.5, ok=False, error="IllegalStateException"),
               op("refresh", "refresh-0", 23.0, ok=False)]
        attempted, failed, values, named = report.summarize(
            "dashboard", record(ops))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(values["op_p50_ms"], 11.0)  # 0.5 ms is not a sample
        self.assertIsNone(values["batch_s"])  # the only refresh failed
        self.assertAlmostEqual(named["fail_frac"][0], 1 / 3)
        self.assertEqual(named["op_samples"], (2, "count"))
        line = report.result_line(attempted, failed, values,
                                  report.END_TO_END)
        self.assertFalse(line["correct"])

    def test_wrong_output_fails_its_headliner(self):
        ops = [op("headliner", "p0/q1", 100.0), op("headliner", "p0/q2", 200.0),
               op("pass", "pass-0", 300.0),
               op("traced_headliner", "traced/q2", 210.0),
               op("trace", "top_skills traced", 5.0)]
        report.mark_suite_outputs(ops, {
            "p0/q2": "column x row 0: want 1, got 2",
            "traced/q2": "no output written"})
        attempted, failed, values, _ = report.summarize(
            "operator_suite", record(ops))
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(values["op_p50_ms"], 100.0)
        self.assertEqual([o["name"] for o in ops if not o["ok"]],
                         ["p0/q2", "traced/q2"])
        self.assertTrue(all(o["error"].startswith("oracle: ") for o in ops
                            if not o["ok"]))

    def test_clean_run_is_correct(self):
        ops = [op("increment", f"i{k}", 1000.0 + k) for k in range(5)] + \
              [op("rebuild", "r0", 8000.0), op("rebuild", "r1", 9000.0)]
        attempted, failed, values, named = report.summarize(
            "ingest", record(ops))
        line = report.result_line(attempted, failed, values,
                                  report.END_TO_END)
        self.assertTrue(line["correct"])
        self.assertEqual(values["batch_s"], 8.5)
        self.assertEqual(values["op_p50_ms"], 1002.0)
        self.assertEqual(set(line), {"correct", "attempted", "failed",
                                     "metrics"})


class OracleCompare(unittest.TestCase):
    def test_detects_a_wrong_value(self):
        import pandas as pd
        exp = pd.DataFrame({"b": [1.5, 2.5], "a": ["x", "y"]})
        self.assertIsNone(oracle_check.compare(
            exp, pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.5]})))
        self.assertIn("row 1", oracle_check.compare(
            exp, pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.5000001]})))
        self.assertIn("rows", oracle_check.compare(
            exp, pd.DataFrame({"a": ["x"], "b": [1.5]})))

    def test_numbers_compare_across_types(self):
        import pandas as pd
        self.assertIsNone(oracle_check.compare(
            pd.DataFrame({"n": [1, 2]}), pd.DataFrame({"n": [1.0, 2.0]})))


class Manifest(unittest.TestCase):
    def test_benchmark_json_matches_the_reported_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         report.PER_LAYER)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <=
                        set(report.KINDS))
        self.assertLessEqual(len(b["per_layer"]), 128)
        self.assertFalse(set(report.EXTRA_LAYERS) & set(report.PER_LAYER))

    def test_every_headliner_has_a_layer_metric(self):
        self.assertEqual(len(report.HEADLINERS), 30)
        self.assertEqual(len(report.MODULES), 12)
        for _, name in report.HEADLINERS:
            self.assertIn(f"suite.{name}.wall_ms", report.PER_LAYER)

    def test_a_measured_layer_never_reads_as_bypassed(self):
        vals = report.layer_values("dashboard", {"dash.top_skills.plan_ms": 3.0})
        self.assertEqual(vals["dash.top_skills.plan_ms"], 3.0)
        self.assertIsNone(vals["suite.q1_agg.wall_ms"])  # missing, not 0
        self.assertEqual(vals["pipeline.clean_ms"], 0.0)  # bypassed


if __name__ == "__main__":
    unittest.main()
