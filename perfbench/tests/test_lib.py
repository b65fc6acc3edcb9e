"""Tests of the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib import spans, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.reportable_percentile(100), 90)   # 10 above rank 90
        self.assertEqual(stats.reportable_percentile(1000), 99)  # 10 above rank 990
        self.assertEqual(stats.reportable_percentile(200), 95)
        self.assertEqual(stats.reportable_percentile(50), 75)    # 12 above rank 38
        self.assertEqual(stats.reportable_percentile(20), 50)    # 10 above rank 10

    def test_too_few_samples(self):
        self.assertIsNone(stats.reportable_percentile(19))
        self.assertIsNone(stats.reportable_percentile(0))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


def span(id_, parent, start, end, name="x"):
    return {"id": id_, "parent": parent, "name": name, "start_s": start, "end_s": end}


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        s = [span(1, -1, 0, 10), span(2, 1, 1, 3), span(3, 1, 2, 5), span(4, 1, 7, 8)]
        own = spans.self_times(s)
        self.assertAlmostEqual(own[1], 10 - 5)  # children cover [1,5] and [7,8]
        self.assertAlmostEqual(own[2], 2)
        self.assertAlmostEqual(own[3], 3)

    def test_grandchildren_only_reduce_their_parent(self):
        s = [span(1, -1, 0, 10), span(2, 1, 2, 6), span(3, 2, 3, 4)]
        own = spans.self_times(s)
        self.assertAlmostEqual(own[1], 6)
        self.assertAlmostEqual(own[2], 3)
        self.assertAlmostEqual(own[3], 1)

    def test_child_outside_parent_is_clipped(self):
        own = spans.self_times([span(1, -1, 0, 4), span(2, 1, 3, 9)])
        self.assertAlmostEqual(own[1], 3)

    def test_by_name_totals(self):
        s = [span(1, -1, 0, 10, "call"), span(2, 1, 0, 4, "exec"), span(3, -1, 10, 12, "call")]
        agg = spans.by_name(s)
        self.assertEqual(agg["call"][0], 2)
        self.assertAlmostEqual(agg["call"][1], 12)
        self.assertAlmostEqual(agg["call"][2], 8)
        self.assertAlmostEqual(agg["exec"][2], 4)


if __name__ == "__main__":
    unittest.main()
