"""Unit tests of the benchmark's statistics: python3 -m unittest discover perfbench"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_count_takes_the_middle(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)

    def test_even_count_averages_the_two_middles(self):
        # Neither the lower (2) nor the upper (3) middle.
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class TailTest(unittest.TestCase):
    def test_p90_when_ten_units_lie_beyond_it(self):
        values = list(range(1, 101))
        groups = list(range(100))  # every sample its own unit
        value, pct, beyond, ok = stats.tail(values, groups, 0.9)
        self.assertEqual((value, pct, beyond, ok), (90, 0.9, 10, True))

    def test_units_not_samples_are_counted(self):
        # 100 samples from 10 batches of 10: the top 10% all come from the
        # last batch, so p90 has one unit beyond it, not ten.
        values = list(range(100))
        groups = [v // 10 for v in values]
        value, pct, beyond, ok = stats.tail(values, groups, 0.9)
        self.assertFalse(ok)
        self.assertEqual(value, stats.median(values))

    def test_falls_back_to_the_highest_supported_percentile(self):
        values = list(range(1, 21))
        groups = list(range(20))
        value, pct, beyond, ok = stats.tail(values, groups, 0.9)
        # 10 samples lie above the 10th value, the 50th percentile; the
        # first rank above the median with 10 beyond does not exist, but
        # rank 10 (p50) is the median itself, so the result is unsupported.
        self.assertFalse(ok)
        values = list(range(1, 31))
        value, pct, beyond, ok = stats.tail(values, list(range(30)), 0.9)
        self.assertTrue(ok)
        self.assertEqual((value, beyond), (20, 10))
        self.assertAlmostEqual(pct, 20 / 30)

    def test_ties_are_not_beyond(self):
        values = [1] * 50 + [2] * 50
        value, pct, beyond, ok = stats.tail(values, list(range(100)), 0.9)
        self.assertFalse(ok)  # nothing lies strictly above 2, and p50 is the median
        self.assertEqual(value, 1.5)

    def test_needs_one_group_per_sample(self):
        with self.assertRaises(ValueError):
            stats.tail([1, 2], [1], 0.9)


class SpreadTest(unittest.TestCase):
    def test_interquartile_distance_over_median(self):
        values = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / 14.5)

    def test_identical_values_have_no_spread(self):
        self.assertEqual(stats.spread([3.0] * 10), 0.0)

    def test_a_single_value_has_no_spread(self):
        self.assertEqual(stats.spread([3.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
