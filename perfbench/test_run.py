"""Tests of the benchmark's statistics: python3 -m unittest perfbench/test_run.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(run.highest_supported_percentile(100), 90)
        self.assertEqual(run.highest_supported_percentile(43), 76)
        self.assertEqual(run.highest_supported_percentile(41), 75)
        self.assertEqual(run.highest_supported_percentile(20), 50)
        self.assertIsNone(run.highest_supported_percentile(19))
        for n in range(20, 500):
            p = run.highest_supported_percentile(n)
            self.assertGreaterEqual(run.beyond(n, p), 10)
            if p < 99:
                self.assertLess(run.beyond(n, p + 1), 10)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(run.percentile(values, 90), 90)
        self.assertEqual(run.percentile(values, 75), 75)
        self.assertEqual(run.percentile([5.0], 75), 5.0)
        self.assertEqual(run.beyond(41, run.TAIL), 10)
        self.assertEqual(run.beyond(43, run.TAIL), 10)


class Summary(unittest.TestCase):
    def test_failed_checks_count_and_metrics_carry_units(self):
        raw = {"setup_s": [3.0, 1.0, 2.0], "loop_s": 10.0, "attempted": 50,
               "mem_retained_mb": 90.0,
               "failures": ["digest x: mismatch"], "mem_peak_mb": 100.0,
               "bytes_per_row": 0.0, "traced": False,
               "samples": [{"kind": "query", "name": "q", "s": float(i)} for i in range(1, 41)]}
        metrics, failed, lines = run.summarise(raw, {})
        self.assertEqual(failed, 1)
        self.assertEqual(metrics["setup_s"], {"value": 2.0, "unit": "s"})
        self.assertEqual(metrics["query_p75_s"]["value"], 30.0)
        self.assertEqual(metrics["ops_per_s"]["value"], 4.0)
        self.assertTrue(any(line.startswith("failed_frac = 0.02") for line in lines))


if __name__ == "__main__":
    unittest.main()
