"""Tests of the benchmark's own arithmetic: python3 perfbench/test_metrics.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import percentile, self_times, tail_percentile, union_length  # noqa: E402


class TailPercentileTest(unittest.TestCase):

    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))          # 100 samples
        self.assertEqual(tail_percentile(xs), (90.0, 90))   # 10 beyond p90
        xs = list(range(1, 201))          # 200 samples
        self.assertEqual(tail_percentile(xs), (95.0, 190))  # 10 beyond p95

    def test_just_below_a_threshold_falls_to_the_next_percentile(self):
        xs = list(range(1, 100))          # 99 samples: p90 leaves 9 beyond
        self.assertEqual(tail_percentile(xs), (75.0, 75))

    def test_small_samples_report_the_median(self):
        self.assertEqual(tail_percentile([3.0, 1.0, 2.0]), (50.0, 2.0))
        self.assertEqual(tail_percentile([4.0, 1.0, 2.0, 3.0]), (50.0, 2.5))
        self.assertEqual(tail_percentile([5.0]), (50.0, 5.0))
        self.assertEqual(tail_percentile(list(range(39))), (50.0, 19))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(1000, 0, -1)]
        self.assertEqual(tail_percentile(xs), (99.0, 990.0))

    def test_nearest_rank(self):
        self.assertEqual(percentile([10, 20, 30, 40], 50), 20)
        self.assertEqual(percentile([10, 20, 30, 40], 51), 30)
        self.assertEqual(percentile([10, 20, 30, 40], 100), 40)


class SpanTest(unittest.TestCase):

    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6), (7, 7)]), 4)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [
            {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2
            {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 5.0)    # 10 minus the union [1, 6]
        self.assertEqual(st[2], 2.0)    # 3 minus child 4
        self.assertEqual(st[3], 3.0)
        self.assertEqual(st[4], 1.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [
            {"id": 1, "parent": None, "start": 0.0, "end": 4.0},
            {"id": 2, "parent": 1, "start": 3.0, "end": 9.0},   # ends late
        ]
        self.assertEqual(self_times(spans)[1], 3.0)


if __name__ == "__main__":
    unittest.main()
