"""Tests of the comparison helper's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, med, q3 = compare.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, statistics.median(xs))

    def test_single_value(self):
        self.assertEqual(compare.quartiles([2.5]), (2.5, 2.5, 2.5))


class WinsTest(unittest.TestCase):
    def test_direction_and_ties(self):
        parent = [10, 10, 10, 10]
        change = [9, 10, 11, 8]
        self.assertEqual(compare.wins(parent, change, "lower"), 2)
        self.assertEqual(compare.wins(parent, change, "higher"), 1)


class VerdictTest(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_nine_of_ten_wins_beyond_spread_is_better(self):
        change = [90, 91, 89, 90, 92, 88, 90, 91, 89, 101]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1),
                         "better")

    def test_eight_of_ten_is_not_a_gain(self):
        change = [90, 91, 89, 90, 92, 88, 90, 91, 105, 101]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1),
                         "unchanged")

    def test_a_win_inside_the_parent_spread_is_not_a_gain(self):
        change = [p - 0.5 for p in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1),
                         "unchanged")

    def test_beyond_the_bound_is_worse(self):
        change = [p * 1.2 for p in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1),
                         "worse")
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1),
                         "better")

    def test_more_failures_withhold_a_gain(self):
        change = [90, 91, 89, 90, 92, 88, 90, 91, 89, 101]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1,
                                         parent_failed=1, change_failed=2),
                         "flagged")
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1,
                                         parent_failed=2, change_failed=2),
                         "better")

    def test_more_failures_leave_a_loss_a_loss(self):
        change = [p * 1.2 for p in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1,
                                         parent_failed=0, change_failed=5),
                         "worse")

    def test_a_noisy_parent_leaves_the_metric_unresolved(self):
        noisy = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        change = [n * 0.95 for n in noisy]
        self.assertEqual(compare.verdict(noisy, change, "lower", 0.1),
                         "unresolved")


class ScheduleTest(unittest.TestCase):
    def test_ten_pairs_alternate_first_side_with_fixed_seeds(self):
        s = compare.schedule()
        self.assertEqual(len(s), 10)
        self.assertEqual(s[:4], [(1000, "parent"), (1001, "change"),
                                 (1002, "parent"), (1003, "change")])
        self.assertEqual(s, compare.schedule())


if __name__ == "__main__":
    unittest.main()
