"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):

    def test_ten_or_fewer_samples_have_no_tail(self):
        for n in range(11):
            self.assertIsNone(stats.tail(list(range(n))), n)

    def test_eleven_samples_leave_exactly_ten_beyond_the_smallest(self):
        samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
        pct, value = stats.tail(samples)
        self.assertEqual(value, 1.0)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_tail_is_the_highest_percentile_with_ten_beyond(self):
        pct, value = stats.tail(list(range(1, 101)))
        self.assertEqual((pct, value), (90.0, 90))
        pct, value = stats.tail(list(range(1, 1001)))
        self.assertEqual((pct, value), (99.0, 990))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(30, 0, -1))), stats.tail(list(range(1, 31))))


class MedianTest(unittest.TestCase):

    def test_even_sized_sample_averages_the_middle_pair(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([1.0, 2.0]), 1.5)

    def test_odd_sized_sample(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)

    def test_empty_sample_has_no_median(self):
        self.assertIsNone(stats.median([]))


class ResultLineTest(unittest.TestCase):

    def parse(self, line):
        self.assertNotIn("\n", line)
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        return out

    def test_zero_operations_is_a_valid_failed_result(self):
        out = self.parse(stats.result_line(True, 0, 0, {"op_median_s": (None, "s")}))
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (False, 1, 1))
        self.assertEqual(out["metrics"]["op_median_s"], {"value": 0.0, "unit": "s"})

    def test_all_operations_failed(self):
        out = self.parse(stats.result_line(True, 3, 3, {"setup_s": (1.5, "s")}))
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (False, 3, 3))

    def test_no_metrics_and_non_finite_values_stay_valid_json(self):
        self.assertEqual(self.parse(stats.result_line(True, 2, 0, {}))["metrics"], {})
        out = self.parse(stats.result_line(True, 2, 0, {
            "a": (math.nan, "s"), "b": (math.inf, "s"), "c": (None, "count")}))
        self.assertEqual([m["value"] for m in out["metrics"].values()], [0.0, 0.0, 0.0])

    def test_clean_run_keeps_every_digit(self):
        out = self.parse(stats.result_line(True, 4, 0, {"op_median_s": (12.3456789012, "s")}))
        self.assertTrue(out["correct"])
        self.assertEqual(out["metrics"]["op_median_s"]["value"], 12.3456789012)


def synthetic_report(workload, traced):
    """A minimal report as perfbench.Main writes it: one measured operation,
    between two untraced ones when the run is traced."""
    names = ([f"pipeline.stage.{s}" for s in run.STAGES] +
             ["pipeline.batch", "validation.reconcile", "validation.row_counts",
              "validation.aggregates", "validation.distributions", "validation.table_diff",
              "cdc.increment", "sources.ingest_streaming", "sources.scd2_apply",
              "quality.scd2_integrity"]
             if workload == "daily_batch" else [f"queries.{g}" for g in run.GATES])
    spans = [{"name": n, "op": 1, "seconds": 1.0, "jobs": 2, "executor_run_s": 1.0,
              "cpu_s": 0.5, "shuffle_bytes": 10, "output_bytes": 100} for n in names]
    phases = ({"batch_s": 15.0, "reconcile_s": 6.0, "increment_s": 4.0,
               "critical_path_s": 5.0, "stage_sum_s": 15.0}
              if workload == "daily_batch" else {"pass_s": 8.0})
    ops = [{"op": 1, "traced": traced, "seconds": 25.0,
            "phases": phases, "input_bytes": 50, "errors": [], "outputs": {}}]
    if traced:
        ops = [dict(ops[0], op=0, traced=False, seconds=18.0), *ops,
               dict(ops[0], op=2, traced=False, seconds=22.0)]
    return {"ops": ops, "spans": spans if traced else [], "prepare_s": [1.0, 2.0],
            "warm_up_s": 30.0, "session_s": 3.0,
            "setup_errors": [], "counts_complete": True, "cpus": 4, "peak_rss_mb": 900.0}


class MetricsTest(unittest.TestCase):
    """Every metric BENCHMARK.json declares is computed, on every workload."""

    def declared(self, section):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        return [m["name"] for m in spec[section]]

    def test_end_to_end_metrics_are_all_computed(self):
        for w in run.WORKLOADS:
            values = run.end_to_end(synthetic_report(w, False))
            self.assertEqual(sorted(values), sorted(self.declared("end_to_end")))
            self.assertEqual(values["setup_s"], 1.5)
            self.assertTrue(all(v for v in values.values()), values)

    def test_per_layer_metrics_are_all_computed(self):
        for w in run.WORKLOADS:
            values = run.per_layer(synthetic_report(w, True))
            self.assertEqual(sorted(values), sorted(self.declared("per_layer")))
            self.assertEqual(values["trace_overhead.op_median_s"], 25.0 / 20.0)

    def test_daily_batch_layer_arithmetic(self):
        values = run.per_layer(synthetic_report("daily_batch", True))
        self.assertEqual(values["pipeline.stage_coverage"], 1.0)
        self.assertEqual(values["pipeline.bronze.jobs"], 8)
        self.assertEqual(values["pipeline.bronze.sched_share"], 1.0 - 4.0 / (4.0 * 4))
        self.assertEqual(values["cdc.write_amp"], 200 / 50)


if __name__ == "__main__":
    unittest.main()
