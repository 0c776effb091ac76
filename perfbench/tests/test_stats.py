"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))
        p, v, n = stats.tail(xs)
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_small_samples_give_a_lower_percentile(self):
        xs = [float(i) for i in range(40)]
        p, v, n = stats.tail(xs)
        self.assertEqual(p, 75)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
        # one percentile higher would leave fewer than ten beyond
        self.assertLess(40 - math.ceil(76 * 40 / 100), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_needs_more_than_ten_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)
        p, v, n = stats.tail([float(i) for i in range(11)])
        self.assertEqual((p, v, n), (9, 0.0, 11))


class QuartileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_module(self):
        xs = [1.0, 2.0, 4.0, 7.0, 11.0, 16.0, 22.0, 29.0, 37.0, 46.0]
        self.assertEqual(list(stats.quartiles(xs)), statistics.quantiles(xs, n=4))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, statistics.median(xs))
        self.assertLess(q1, q2)
        self.assertLess(q2, q3)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 3), (5, 8)]), 5)

    def test_overlapping_children_count_once(self):
        # concurrent jobs overlap; the parent is covered by their union
        self.assertEqual(stats.self_time(0, 10, [(1, 6), (4, 8), (7, 9)]), 2)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time(2, 10, [(0, 4), (9, 12), (20, 30)]), 5)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time(0, 4, [(0, 2), (2, 4)]), 0)


class PairWinTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_clear_gain_is_claimed(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.pair_win(self.parent, change), (True, 10, 10))

    def test_nine_of_ten_wins_is_enough(self):
        change = [x - 1.0 for x in self.parent]
        change[3] = self.parent[3] + 0.5
        self.assertEqual(stats.pair_win(self.parent, change), (True, 9, 10))

    def test_eight_of_ten_wins_is_not(self):
        change = [x - 1.0 for x in self.parent]
        change[3] = self.parent[3] + 0.5
        change[4] = self.parent[4]  # a tie counts for neither side
        self.assertEqual(stats.pair_win(self.parent, change), (False, 8, 10))

    def test_gap_must_exceed_the_parents_quartile_distance(self):
        # wins every pair, but by less than the parent's own spread
        change = [x - 0.01 for x in self.parent]
        claimed, wins, n = stats.pair_win(self.parent, change)
        self.assertEqual((claimed, wins), (False, 10))

    def test_higher_is_better(self):
        change = [x + 1.0 for x in self.parent]
        self.assertEqual(stats.pair_win(self.parent, change, better="higher"),
                         (True, 10, 10))
        self.assertFalse(stats.pair_win(self.parent, change, better="lower")[0])

    def test_unpaired_runs_are_refused(self):
        with self.assertRaises(ValueError):
            stats.pair_win([1.0, 2.0], [1.0])


if __name__ == "__main__":
    unittest.main()
