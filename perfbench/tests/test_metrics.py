"""Unit tests for the metric math in perfbench/metrics.py and for
BENCHMARK.json agreeing with it.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402
import run  # noqa: E402


def raw_result(latencies, failed_ops=0, checks=(True,)):
    ops = [{"name": "op", "s": s, "ok": i >= failed_ops, "error": ""}
           for i, s in enumerate(latencies)]
    chk = [{"name": f"c{i}", "ok": ok, "detail": ""} for i, ok in enumerate(checks)]
    failed = failed_ops + sum(1 for ok in checks if not ok)
    return {
        "workload": "curate_batch", "seed": 1, "trace": False,
        "jvm_boot_s": 0.5, "setup_s": [9.0, 2.0, 3.0], "warmup_s": 4.0,
        "loop_s": 10.0, "peak_rss_mb": 1500.0, "cpu_probe_s": [0.7, 0.9],
        "ops": ops, "checks": chk,
        "attempted": len(ops) + len(chk), "failed": failed,
    }


class PercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertIsNone(metrics.median([]))

    def test_interpolates_between_ranks(self):
        xs = [float(i) for i in range(1, 11)]  # 1..10
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 9.1)
        self.assertEqual(metrics.percentile(xs, 0.0), 1.0)
        self.assertEqual(metrics.percentile(xs, 1.0), 10.0)

    def test_sample_count_rule(self):
        # a tail percentile needs ten samples beyond it
        self.assertFalse(metrics.reportable(99, 0.9))
        self.assertTrue(metrics.reportable(100, 0.9))
        self.assertTrue(metrics.reportable(1, 0.5))
        self.assertIsNone(metrics.tail_percentile(99))
        self.assertEqual(metrics.tail_percentile(100), 0.9)
        self.assertEqual(metrics.tail_percentile(999), 0.9)
        self.assertEqual(metrics.tail_percentile(1000), 0.99)
        self.assertEqual(metrics.tail_percentile(10000), 0.999)

    def test_detail_reports_tail_only_when_supported(self):
        few = metrics.detail_line(raw_result([1.0] * 50))
        many = metrics.detail_line(raw_result([float(i) for i in range(100)]))
        self.assertNotIn("op_p90_s", few)
        self.assertAlmostEqual(many["op_p90_s"], 89.1)
        self.assertEqual(many["samples"], 100)


class ResultLineTest(unittest.TestCase):
    def test_end_to_end_values(self):
        line = metrics.result_line(raw_result([1.0, 3.0, 2.0, 4.0]), trace=False)
        m = line["metrics"]
        self.assertEqual(set(m), set(metrics.END_TO_END))
        # boot + median of set-ups + warm-up
        self.assertAlmostEqual(m["setup_s"]["value"], 0.5 + 3.0 + 4.0)
        self.assertAlmostEqual(m["op_p50_s"]["value"], 2.5)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 0.4)
        self.assertEqual(m["setup_s"]["unit"], "s")

    def test_failures_are_counted_and_make_the_run_incorrect(self):
        ok = metrics.result_line(raw_result([1.0, 2.0]), trace=False)
        self.assertEqual((ok["correct"], ok["attempted"], ok["failed"]), (True, 3, 0))
        bad_op = metrics.result_line(raw_result([1.0, 2.0], failed_ops=1), trace=False)
        self.assertEqual((bad_op["correct"], bad_op["failed"]), (False, 1))
        bad_check = metrics.result_line(raw_result([1.0], checks=(True, False)), trace=False)
        self.assertEqual((bad_check["correct"], bad_check["attempted"], bad_check["failed"]),
                         (False, 3, 1))
        self.assertAlmostEqual(metrics.detail_line(raw_result([1.0], checks=(False,)))
                               ["failed_frac"], 0.5)

    def test_traced_line_carries_every_layer_metric(self):
        raw = raw_result([1.0, 2.0, 3.0])
        raw["trace"] = True
        raw["layers"] = {k: 7.0 for k in metrics.PER_LAYER}
        raw["layers"]["gate.recall"] = 1.0
        self.assertTrue(metrics.complete(raw))
        m = metrics.result_line(raw, trace=True)["metrics"]
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual(m["spark.jobs"]["value"], 7.0)
        self.assertAlmostEqual(m["host.cpu_probe_s"]["value"], 0.8)
        self.assertEqual(m["trace.op_p50_s"]["value"], 2.0)
        # a layer only one workload calls goes to the detail line
        self.assertNotIn("gate.recall", m)
        self.assertEqual(metrics.detail_line(raw)["layers"]["gate.recall"],
                         {"value": 1.0, "unit": "fraction"})

    def test_traced_run_missing_a_layer_is_incomplete(self):
        raw = raw_result([1.0])
        raw["trace"] = True
        raw["layers"] = {"spark.jobs": 7.0}
        self.assertFalse(metrics.complete(raw))


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metrics_match_the_code(self):
        for key, defs in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            listed = {m["name"]: (m["unit"], m["better"]) for m in self.spec[key]}
            self.assertEqual(listed, defs, key)

    def test_workloads_are_runnable(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertTrue(set(names) <= set(run.WORKLOADS))

    def test_setup_bound_is_the_largest(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
