#!/usr/bin/env python3
"""Self-test for tools/perf_ab.py's verdict logic (no JVM, no runs).

Usage: python3 tools/test_perf_ab.py   (exit 0 = all assertions pass)
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from perf_ab import bound_verdict, gain_verdict, order, quartiles, wins  # noqa: E402


class PerfAbTest(unittest.TestCase):
    PARENT = [1000, 1010, 990, 1005, 995, 1020, 980, 1000, 1015, 985]

    def test_quartiles(self):
        self.assertEqual(quartiles([1, 2, 3, 4, 5]), (2, 3, 4))
        self.assertEqual(quartiles([7]), (7, 7, 7))

    def test_ties_count_for_neither(self):
        self.assertEqual(wins([1, 2, 3], [1, 1, 4], "lower"), (1, 1))
        self.assertEqual(wins([1, 2, 3], [1, 1, 4], "higher"), (1, 1))

    def test_clear_gain(self):
        change = [x * 0.65 for x in self.PARENT]
        v = gain_verdict(self.PARENT, change, "lower")
        self.assertTrue(v["gain"], v)
        self.assertEqual(v["won"], 10)

    def test_eight_of_ten_is_not_a_gain(self):
        change = [x * 0.65 for x in self.PARENT]
        change[0] = change[1] = 5000
        self.assertFalse(gain_verdict(self.PARENT, change, "lower")["gain"])

    def test_nine_of_ten_is_a_gain(self):
        change = [x * 0.65 for x in self.PARENT]
        change[0] = 5000
        self.assertTrue(gain_verdict(self.PARENT, change, "lower")["gain"])

    def test_a_tie_does_not_count_as_a_win(self):
        change = [x * 0.65 for x in self.PARENT]
        change[0] = self.PARENT[0]
        v = gain_verdict(self.PARENT, change, "lower")
        self.assertEqual(v["won"], 9)
        self.assertTrue(v["gain"])
        change[1] = self.PARENT[1]
        self.assertFalse(gain_verdict(self.PARENT, change, "lower")["gain"])

    def test_win_inside_the_parent_spread_is_not_a_gain(self):
        # every pair won by 1, but the parent's IQR is ~20
        change = [x - 1 for x in self.PARENT]
        v = gain_verdict(self.PARENT, change, "lower")
        self.assertEqual(v["won"], 10)
        self.assertFalse(v["gain"], v)

    def test_direction_follows_better(self):
        up = [x * 1.5 for x in self.PARENT]
        self.assertTrue(gain_verdict(self.PARENT, up, "higher")["gain"])
        self.assertFalse(gain_verdict(self.PARENT, up, "lower")["gain"])

    def test_uneven_sides_are_refused(self):
        with self.assertRaises(ValueError):
            gain_verdict([1, 2], [1], "lower")

    def test_bound(self):
        self.assertEqual(bound_verdict([100, 100], [124, 124], "lower", 0.25), "ok")
        self.assertEqual(bound_verdict([100, 100], [126, 126], "lower", 0.25), "WORSE")
        self.assertEqual(bound_verdict([100, 100], [74, 74], "higher", 0.25), "WORSE")
        self.assertEqual(bound_verdict([100, 100], [200, 200], "higher", 0.25), "ok")

    def test_order_alternates(self):
        self.assertEqual([order(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])


if __name__ == "__main__":
    unittest.main()
