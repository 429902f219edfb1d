"""Tests for stats.py. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import random
import statistics
import unittest

from stats import iqr_share, median, percentile, quartiles


class MedianTest(unittest.TestCase):
    def test_odd_count_takes_the_middle(self):
        self.assertEqual(median([3, 1, 2]), 2)

    def test_even_count_averages_the_two_middle_values(self):
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        # two pairs: the mean, not the larger one
        self.assertEqual(median([1.0, 9.0]), 5.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            median([])


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        rnd = random.Random(7)
        for n in range(2, 40):
            xs = [rnd.uniform(0, 10) for _ in range(n)]
            for a, b in zip(quartiles(xs), statistics.quantiles(xs, n=4)):
                self.assertAlmostEqual(a, b)

    def test_iqr_share(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(iqr_share(xs), (q3 - q1) / 5.5)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_percentile(self):
        xs = list(range(1, 41))
        self.assertEqual(percentile(xs, 75), 30)
        self.assertEqual(percentile(xs, 50), 20)
        self.assertEqual(percentile(xs, 100), 40)
        self.assertEqual(percentile([5.0], 75), 5.0)

    def test_op_tail_at_the_workloads_op_counts(self):
        # op_tail_s is the nearest-rank p90 over per-op latencies: the
        # slowest of warehouse's 6 and corpus_ops' 5 ops, the second
        # slowest of table_writes' 16.
        for n, rank in ((6, 1), (5, 1), (16, 2)):
            xs = [float(i) for i in range(1, n + 1)]
            self.assertEqual(percentile(xs, 90), n + 1 - rank)


if __name__ == "__main__":
    unittest.main()
