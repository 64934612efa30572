"""Tests of tools/perf_ab.py's pair and quartile arithmetic.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_ab  # noqa: E402


class SummaryTest(unittest.TestCase):
    def test_quartiles_interpolate_between_ranks(self):
        self.assertEqual(perf_ab.summary([4.0, 1.0, 3.0, 2.0]), (1.75, 2.5, 3.25))

    def test_odd_sample_median_is_the_middle_value(self):
        self.assertEqual(perf_ab.summary([5, 1, 3, 2, 4]), (2.0, 3.0, 4.0))

    def test_single_value(self):
        self.assertEqual(perf_ab.summary([7.0]), (7.0, 7.0, 7.0))


class PairTest(unittest.TestCase):
    def test_order_alternates_with_base_first_on_even_pairs(self):
        self.assertEqual([perf_ab.base_runs_first(i) for i in range(4)],
                         [True, False, True, False])

    def test_direction_decides_the_winner(self):
        pairs = [(1.0, 2.0), (2.0, 1.0), (3.0, 3.0)]
        self.assertEqual(perf_ab.tally(pairs, "higher"), (1, 1, 1))
        self.assertEqual(perf_ab.tally(pairs, "lower"), (1, 1, 1))
        self.assertEqual(perf_ab.tally([(1.0, 2.0)], "lower"), (0, 1, 0))

    def test_failed_side_counts_for_neither(self):
        self.assertEqual(perf_ab.tally([(None, 2.0), (1.0, None)], "higher"), (0, 0, 0))

    def test_order_split_shows_an_order_effect(self):
        # the change wins every pair where it runs second (base first) and
        # loses every pair where it runs first
        pairs = [(1.0, 2.0), (2.0, 1.0)] * 5
        self.assertEqual(perf_ab.tally_by_order(pairs, "higher"), ((5, 0, 0), (0, 5, 0)))
        self.assertEqual(perf_ab.tally(pairs, "higher"), (5, 5, 0))


class GainRuleTest(unittest.TestCase):
    def test_holds_when_nine_of_ten_won_beyond_the_base_spread(self):
        base = [1.0, 1.1, 1.2, 1.0, 1.1, 1.2, 1.0, 1.1, 1.2, 1.1]
        change = [b + 0.5 for b in base[:9]] + [base[9] - 0.01]
        self.assertTrue(perf_ab.gain_holds(list(zip(base, change)), "higher"))

    def test_fails_with_eight_wins_of_ten(self):
        base = [1.0] * 10
        change = [2.0] * 8 + [0.5, 0.5]
        self.assertFalse(perf_ab.gain_holds(list(zip(base, change)), "higher"))

    def test_ties_count_for_neither_side(self):
        # nine wins and one tie: 9 of 10 pairs run, so the rule can hold
        base = [1.0] * 10
        self.assertTrue(perf_ab.gain_holds(list(zip(base, [2.0] * 9 + [1.0])), "higher"))
        # eight wins and two ties: 8 of 10, the ties do not help
        self.assertFalse(perf_ab.gain_holds(list(zip(base, [2.0] * 8 + [1.0] * 2)), "higher"))

    def test_fails_when_the_median_shift_is_inside_the_base_spread(self):
        base = [1.0, 2.0, 3.0, 4.0, 5.0, 1.0, 2.0, 3.0, 4.0, 5.0]  # quartile distance 2
        change = [b + 1.0 for b in base]  # every pair won, median moves by 1
        self.assertFalse(perf_ab.gain_holds(list(zip(base, change)), "higher"))

    def test_lower_is_better(self):
        base = [10.0] * 10
        self.assertTrue(perf_ab.gain_holds(list(zip(base, [8.0] * 10)), "lower"))
        self.assertFalse(perf_ab.gain_holds(list(zip(base, [12.0] * 10)), "lower"))

    def test_a_failed_pair_still_counts_as_run(self):
        base = [1.0] * 10
        change = [2.0] * 9 + [None]
        self.assertTrue(perf_ab.gain_holds(list(zip(base, change)), "higher"))
        change = [2.0] * 8 + [None, None]
        self.assertFalse(perf_ab.gain_holds(list(zip(base, change)), "higher"))


class ReportTest(unittest.TestCase):
    def test_rows_read_each_side_of_each_pair(self):
        def run(v):
            return {"metrics": {"m": {"value": v}}}
        results = [(run(1.0), run(2.0)), (run(1.0), run(2.0)), (None, run(3.0))]
        row, = perf_ab.report([{"name": "m", "better": "higher"}], results)
        self.assertEqual(row["base"], (1.0, 1.0, 1.0))
        self.assertEqual(row["change"][1], 2.0)
        self.assertEqual((row["won"], row["lost"], row["tied"], row["pairs"]), (2, 0, 0, 3))
        # pairs 0 and 2 ran base first, pair 1 change first; pair 2 failed
        self.assertEqual((row["base_first"], row["change_first"]), ((1, 0, 0), (1, 0, 0)))
        self.assertFalse(row["gain"])  # 2 of 3 pairs won


if __name__ == "__main__":
    unittest.main()
