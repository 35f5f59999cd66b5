"""Tests for the benchmark's statistics: python3 -m unittest discover perfbench"""
import statistics
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_sample_count_is_reported(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(stats.percentile(xs, 90)[0], 9.1)
        self.assertEqual(stats.percentile(xs, 0)[0], 1)
        self.assertEqual(stats.percentile(xs, 100)[0], 10)

    def test_median_matches_statistics_module(self):
        for xs in ([5.0], [1.0, 4.0], [7.0, 1.0, 3.0, 9.0, 2.0]):
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class OrderTest(unittest.TestCase):
    def test_same_seed_same_orders(self):
        self.assertEqual(stats.orders(7, 20, 3), stats.orders(7, 20, 3))

    def test_each_pass_is_a_permutation(self):
        for order in stats.orders(1, 30, 5):
            self.assertEqual(sorted(order), list(range(30)))

    def test_seeds_and_passes_differ(self):
        a = stats.orders(1, 30, 2)
        self.assertNotEqual(a, stats.orders(2, 30, 2))
        self.assertNotEqual(a[0], a[1])


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def span(self, kind, depth, s, e):
        return {"kind": kind, "depth": depth, "s": s, "e": e}

    def test_self_time_is_duration_minus_children(self):
        spans = [self.span("query", 0, 0, 10), self.span("build", 1, 0, 4),
                 self.span("action", 1, 4, 10), self.span("job", 2, 5, 8),
                 self.span("stage", 3, 6, 7)]
        self.assertEqual(stats.self_times(spans), [0, 4, 3, 2, 1])

    def test_overlapping_siblings_add_up_to_the_root(self):
        spans = [self.span("query", 0, 0, 10), self.span("action", 1, 0, 10),
                 self.span("stage", 3, 1, 6), self.span("stage", 3, 3, 9)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs, [0, 2, 2, 6])
        self.assertEqual(sum(selfs), 10)

    def test_children_are_clipped_to_the_root(self):
        spans = [self.span("query", 0, 2, 6), self.span("job", 2, 0, 4)]
        self.assertEqual(stats.self_times(spans), [2, 2])


if __name__ == "__main__":
    unittest.main()
