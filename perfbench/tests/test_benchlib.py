"""Tests of the benchmark's own metric code: python3 -m unittest discover perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import benchlib  # noqa: E402
import compare  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_chosen_percentile(self):
        for n in (22, 31, 36, 100):
            i = benchlib.tail_index(n)
            self.assertEqual(n - 1 - i, 10)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(benchlib.tail_index(11), 5)
        self.assertEqual(benchlib.tail_index(1), 0)

    def test_tail_reports_percentile_and_value(self):
        pct, v = benchlib.tail([float(x) for x in range(1, 101)])
        self.assertEqual((pct, v), (90.0, 90.0))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(benchlib.union_length([(5, 6), (0, 2), (1, 3)]), 4)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_driver_gap_is_window_minus_clipped_job_union(self):
        jobs = [(1, 3), (2, 4), (8, 12)]
        self.assertEqual(benchlib.driver_gap((0, 10), jobs), 10 - 3 - 2)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(benchlib.driver_gap((5, 9), []), 4)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "kind": "query", "start": 0, "end": 10, "parent": None},
            {"id": 1, "kind": "build", "start": 0, "end": 4, "parent": 0},
            {"id": 2, "kind": "execute", "start": 4, "end": 10, "parent": 0},
            {"id": 3, "kind": "job", "start": 5, "end": 7, "parent": 2},
            {"id": 4, "kind": "job", "start": 6, "end": 8, "parent": 2},
        ]
        self.assertEqual(benchlib.self_times(spans),
                         {"query": 0, "build": 4, "execute": 3, "job": 4})


class CheckTest(unittest.TestCase):
    ok = {"error": None, "sha256": "abc", "rows": 3}

    def test_oracle_fingerprint(self):
        self.assertIsNone(benchlib.check_result(self.ok, {"sha256": "abc", "rows": 3}))
        self.assertIn("differs", benchlib.check_result(self.ok, {"sha256": "x", "rows": 3}))

    def test_rows_only(self):
        self.assertIsNone(benchlib.check_result(self.ok, {"rows": 3}))
        self.assertIn("expected 4", benchlib.check_result(self.ok, {"rows": 4}))
        self.assertIsNone(benchlib.check_result(self.ok, {"rows_min": 1, "rows_max": 3}))
        self.assertIn("outside", benchlib.check_result(self.ok, {"rows_min": 4, "rows_max": 9}))

    def test_errors_and_missing_references_fail(self):
        self.assertIn("boom", benchlib.check_result(dict(self.ok, error="boom"), {"rows": 3}))
        self.assertEqual(benchlib.check_result(self.ok, None), "no reference result")


class VerdictTest(unittest.TestCase):
    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_spread(self):
        base = [10.0, 10.2, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(base, [8.0, 8.1, 7.9, 8.0, 8.2], "lower", 0.1), "gain")
        self.assertEqual(compare.verdict(base, [10.0, 9.9, 10.1, 10.2, 10.0], "lower", 0.1),
                         "within bound")

    def test_regression_and_unresolved(self):
        base = [10.0, 10.2, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(base, [12.0, 12.1, 11.9, 12.2, 12.0], "lower", 0.1),
                         "regression")
        wide = [5.0, 10.0, 15.0, 7.0, 13.0]
        self.assertEqual(compare.verdict(wide, [9.0, 11.0, 10.0, 12.0, 8.0], "lower", 0.1),
                         "unresolved")

    def test_pair_shares(self):
        self.assertEqual(compare.pair_wins([1, 2], [3, 2], "lower"), (0.75, 0.0))


if __name__ == "__main__":
    unittest.main()
