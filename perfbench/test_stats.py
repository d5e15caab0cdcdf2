"""Tests of the benchmark's own statistics.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        v, pct = stats.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_highest_such_percentile(self):
        xs = list(range(40))
        v, pct = stats.tail(xs)
        self.assertEqual(v, 29)  # 10 samples (30..39) beyond, 11 beyond 28
        self.assertAlmostEqual(pct, 75.0)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0))
        self.assertEqual(stats.tail(list(range(20))), (9, 50.0))
        self.assertEqual(stats.tail([]), (0.0, 0.0))


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([7]), 7.0)

    def test_scale_invariant(self):
        xs = [0.3, 1.7, 12.0, 4.4]
        self.assertAlmostEqual(stats.geomean([10 * x for x in xs]), 10 * stats.geomean(xs))

    def test_nonpositive_and_empty(self):
        self.assertEqual(stats.geomean([]), 0.0)
        self.assertAlmostEqual(stats.geomean([0, 4, 9]), 6.0)


def span(i, parent, start, end, name="s", req=1):
    return [i, parent, req, name, start, end]


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 20)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 30, 3: 20})

    def test_child_past_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)


class AttributionTest(unittest.TestCase):
    def test_work_goes_to_innermost_span_and_driver_time_excludes_tasks(self):
        trace = {
            # spans in microseconds: outer 0-100 ms, inner 20-60 ms
            "spans": [span(1, 0, 0, 100_000, "outer"), span(2, 1, 20_000, 60_000, "inner")],
            "jobs": [[0, 5, 10], [1, 25, 50]],
            "stages": [[0, 0, 5, 10, 1], [1, 1, 25, 50, 2]],
            "tasks": [[6, 10, 4, 100, 0, 0], [26, 40, 12, 0, 7, 1], [30, 50, 15, 0, 0, 1]],
            "plans": [[21, 3], [70, 2]],
        }
        a = stats.Attribution(trace)
        inner = a.totals(lambda n: n == "inner")
        outer = a.totals(lambda n: n == "outer")
        self.assertEqual((inner["jobs"], inner["stages"], inner["tasks"]), (1, 1, 2))
        self.assertEqual((inner["exec_ms"], inner["spill_b"], inner["plan_ms"]), (27, 7, 3))
        self.assertEqual((outer["jobs"], outer["exec_ms"], outer["shuffle_b"], outer["plan_ms"]),
                         (1, 4, 100, 2))
        self.assertEqual(inner["driver_ms"], 40 - 24)  # tasks cover 26-50 of 20-60
        self.assertEqual(outer["wall_ms"], 60)  # self time: 100 - 40
        self.assertIsNone(a.owner(150))


class CanonicalHashTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = stats.canonical_hash([(1, "x", 0.5), (2, "y", 1.25)], ["id", "s", "v"])
        b = stats.canonical_hash([("y", 1.25, 2), ("x", 0.5, 1)], ["s", "v", "id"])
        self.assertEqual(a, b)

    def test_values_and_names_matter(self):
        a = stats.canonical_hash([(1, "x")], ["id", "s"])
        self.assertNotEqual(a, stats.canonical_hash([(1, "z")], ["id", "s"]))
        self.assertNotEqual(a, stats.canonical_hash([(1, "x")], ["id", "t"]))
        self.assertNotEqual(a, stats.canonical_hash([(1, "x"), (1, "x")], ["id", "s"]))

    def test_float_noise_below_nine_digits_is_ignored(self):
        a = stats.canonical_hash([(0.1 + 0.2,)], ["v"])
        self.assertEqual(a, stats.canonical_hash([(0.3,)], ["v"]))
        self.assertNotEqual(a, stats.canonical_hash([(math.nan,)], ["v"]))


if __name__ == "__main__":
    unittest.main()
