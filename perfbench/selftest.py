#!/usr/bin/env python3
"""Checks the benchmark's own arithmetic on fixed inputs.

    python3 perfbench/selftest.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class DriverOnly(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two staging jobs from a thread pool overlap on [2, 3]
        jobs = [(1.0, 3.0), (2.0, 4.0)]
        self.assertAlmostEqual(metrics.union_seconds(jobs, 0.0, 10.0), 3.0)
        self.assertAlmostEqual(metrics.driver_only_seconds(10.0, 0.0, 10.0, jobs), 7.0)

    def test_nested_and_disjoint_jobs(self):
        jobs = [(5.0, 6.0), (1.0, 4.0), (2.0, 3.0), (4.0, 4.5)]
        self.assertAlmostEqual(metrics.union_seconds(jobs, 0.0, 10.0), 4.5)

    def test_jobs_clipped_to_the_query_window(self):
        jobs = [(-1.0, 1.0), (9.0, 12.0)]
        self.assertAlmostEqual(metrics.union_seconds(jobs, 0.0, 10.0), 2.0)

    def test_never_negative(self):
        # a wall measured on another clock can fall short of the job union
        self.assertEqual(metrics.driver_only_seconds(0.9, 0.0, 1.0, [(0.0, 1.0)]), 0.0)

    def test_no_jobs_is_all_driver(self):
        self.assertAlmostEqual(metrics.driver_only_seconds(2.5, 0.0, 2.5, []), 2.5)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, n), (90, 100))
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for v in range(1, 101) if v > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12])[0], 2)

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail(list(range(10))), (None, None, 10))

    def test_smallest_sample_that_has_a_tail(self):
        value, pct, n = metrics.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)


class RowsPerResult(unittest.TestCase):
    def test_zero_rows_returned_counts_as_one(self):
        self.assertEqual(metrics.rows_per_result([500], [0]), 500.0)

    def test_workload_ratio_sums_before_dividing(self):
        self.assertEqual(metrics.rows_per_result([100, 500, 30], [10, 0, 30]), 630 / 41)


class Verdicts(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_improved_needs_nine_tenths_of_pairs(self):
        change = [v - 1.0 for v in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, 0.1, "lower"), ("improved", 1.0))

    def test_within_bound(self):
        change = [v + 0.05 for v in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, 0.1, "lower")[0], "within bound")

    def test_worse(self):
        change = [v * 1.3 for v in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, 0.1, "lower")[0], "worse")

    def test_higher_is_better(self):
        change = [v * 1.3 for v in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, 0.1, "higher")[0], "improved")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        parent = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [v * 1.05 for v in parent]
        self.assertEqual(metrics.verdict(parent, change, 0.1, "lower")[0], "unresolved")

    def test_spread_is_quartile_distance_over_median(self):
        q1, med, q3 = metrics.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertAlmostEqual(metrics.spread([1.0, 2.0, 3.0, 4.0, 5.0]), (q3 - q1) / med)


if __name__ == "__main__":
    unittest.main()
