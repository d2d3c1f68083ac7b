"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 75), 7.75)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([5], 99), 5)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 80)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_timing_reports_sample_count(self):
        t = stats.timing([float(i) for i in range(1, 41)])
        self.assertEqual(t["n"], 40)
        self.assertAlmostEqual(t["median"], 20.5)
        self.assertEqual(t["tail_p"], 75)
        self.assertAlmostEqual(t["tail"], 30.25)
        few = stats.timing([1.0, 2.0, 3.0])
        self.assertEqual((few["n"], few["tail_p"], few["tail"]), (3, None, None))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # (1,5) and (3,8) cover 1..8: seven units, not nine
        self.assertEqual(stats.self_time((0, 10), [(1, 5), (3, 8)]), 3)
        # a child nested in another adds nothing
        self.assertEqual(stats.self_time((0, 10), [(2, 9), (3, 4)]), 3)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(12, 15)]), 10)

    def test_union_length_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(3, 3), (5, 4), (0, 1)]), 1)


class Ratios(unittest.TestCase):
    def test_cpu_util(self):
        # 6 CPU-seconds over 2 s on 4 cores: three quarters busy
        self.assertAlmostEqual(stats.cpu_util(6.0, 2.0, 4), 0.75)
        self.assertEqual(stats.cpu_util(1.0, 0.0, 4), 0.0)

    def test_kernel_share(self):
        # 1e6 pairs at 500 ns plus 2e7 pairs at 50 ns = 0.5 s + 1.0 s of
        # kernel work, against 6 s of executor CPU
        share = stats.kernel_share([(500.0, 1e6), (50.0, 2e7)], 6.0)
        self.assertAlmostEqual(share, 0.25)
        self.assertEqual(stats.kernel_share([(500.0, 1e6)], 0.0), 0.0)


if __name__ == "__main__":
    unittest.main()
