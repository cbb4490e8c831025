"""Self-tests for the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, n), (2.0, 12))
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_too_few_samples_fall_back_to_median(self):
        value, pct, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, pct, n), (2.0, 50.0, 3))


class MedianTest(unittest.TestCase):
    def test_beta_cdf(self):
        # Beta(2, 2): I_x = 3x^2 - 2x^3
        for x in (0.1, 1 / 3, 0.5, 0.9):
            self.assertAlmostEqual(metrics.beta_cdf(x, 2, 2), 3 * x * x - 2 * x ** 3)
        self.assertAlmostEqual(metrics.beta_cdf(0.3, 1, 1), 0.3)

    def test_harrell_davis(self):
        # n = 3: weights I(1/3), I(2/3) - I(1/3), 1 - I(2/3) of Beta(2, 2)
        # are 7/27, 13/27, 7/27
        self.assertAlmostEqual(metrics.harrell_davis([10.0, 1.0, 2.0]), 103 / 27)
        self.assertAlmostEqual(metrics.harrell_davis([4.0]), 4.0)
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
        self.assertAlmostEqual(metrics.harrell_davis(xs), 3.5)
        self.assertLess(metrics.harrell_davis(xs, 0.25), 3.5)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertAlmostEqual(
            metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(1, 1), (3, 2)]), 0.0)

    def test_driver_gap(self):
        # a 10 s step with jobs covering 2..5 and 4..7 and one job that
        # straddles its end: the gap is 10 - (5 + 1) = 4
        step = (0.0, 10.0)
        jobs = [(2, 5), (4, 7), (9, 12)]
        covered = metrics.union_length(metrics.clip(jobs, *step))
        self.assertAlmostEqual((step[1] - step[0]) - covered, 4.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3.0)

    def test_tree(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 6.0},
            {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
            {"id": 3, "parent": 1, "start": 2.5, "end": 4.0},
            {"id": 4, "parent": 0, "start": 7.0, "end": 8.0},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 5 - 1)
        self.assertAlmostEqual(st[1], 5 - 2)
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(st[4], 1.0)


class CheckOutputsTest(unittest.TestCase):
    steps = [{"name": "q1", "sf": "sf0.1"}, {"name": "q2", "sf": "sf0.1"},
             {"name": "q3", "sf": "sf0.1"}]
    expected = {"sf0.1/q1": {"n_rows": 3, "row_hash": 7},
                "sf0.1/q2": {"n_rows": 5, "row_hash": 9,
                             "rows_only": "order-dependent doubles"}}

    def att(self, step, n, h, ok=True):
        return {"step": step, "ok": ok, "n_rows": n, "row_hash": h}

    def test_match_and_mismatch(self):
        wrong = metrics.check_outputs(
            [self.att("q1", 3, 7), self.att("q1", 3, 8), self.att("q2", 5, 1)],
            [], self.steps, self.expected)
        self.assertEqual(set(wrong), {"q1"})
        self.assertIn("row hash", wrong["q1"])

    def test_row_count_and_missing_expectation(self):
        wrong = metrics.check_outputs(
            [self.att("q2", 4, 9), self.att("q3", 1, 1)], [], self.steps, self.expected)
        self.assertEqual(set(wrong), {"q2", "q3"})

    def test_failed_attempts_are_not_wrong(self):
        failed = {"step": "q1", "ok": False, "error": "boom"}
        self.assertEqual(metrics.check_outputs([failed], [], self.steps, self.expected), {})

    def test_self_verdicts(self):
        checks = [{"step": "refresh", "ok": False, "detail": "served != gold"},
                  {"step": "other", "ok": True, "detail": ""}]
        self.assertEqual(metrics.check_outputs([], checks, self.steps, self.expected),
                         {"refresh": "served != gold"})


if __name__ == "__main__":
    unittest.main()
