"""Tests for the benchmark's own statistics.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailQuantileTest(unittest.TestCase):
    def test_p90_when_at_least_100_samples(self):
        xs = list(range(1, 201))
        value, q, n = stats.tail_quantile(xs)
        self.assertEqual((value, q, n), (180, 0.9, 200))

    def test_exactly_100_samples_keeps_p90_with_10_beyond(self):
        value, q, _ = stats.tail_quantile(list(range(1, 101)))
        self.assertEqual((value, q), (90, 0.9))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_fewer_samples_lower_the_percentile_to_keep_10_beyond(self):
        xs = [float(x) for x in range(1, 51)]
        value, q, n = stats.tail_quantile(xs)
        self.assertEqual((value, q, n), (40.0, 0.8, 50))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(stats.tail_quantile([5, 1, 4, 2, 3] * 10),
                         stats.tail_quantile(sorted([5, 1, 4, 2, 3] * 10)))

    def test_tiny_and_empty_samples(self):
        self.assertEqual(stats.tail_quantile([7.0, 3.0])[0], 3.0)
        self.assertEqual(stats.tail_quantile([]), (0.0, 0.0, 0))


class FailureCountTest(unittest.TestCase):
    OPS = [{"check": "a", "error": None}, {"check": "a", "error": None},
           {"check": "b", "error": "boom"}, {"check": "c", "error": None}]

    def test_counts_thrown_and_failed_checks_against_attempts(self):
        checks = {"a": {"ok": True}, "b": {"ok": True}, "c": {"ok": False}}
        self.assertEqual(stats.failure_count(self.OPS, checks), 2)

    def test_a_failed_check_fails_every_op_it_judges(self):
        checks = {"a": {"ok": False}, "b": {"ok": True}, "c": {"ok": True}}
        self.assertEqual(stats.failure_count(self.OPS, checks), 3)

    def test_an_op_without_a_check_counts_as_failed(self):
        self.assertEqual(stats.failure_count(self.OPS, {"a": {"ok": True}}), 2)
        self.assertEqual(stats.failure_count(self.OPS, {}), 4)

    def test_all_good(self):
        checks = {k: {"ok": True} for k in "abc"}
        ops = [dict(op, error=None) for op in self.OPS]
        self.assertEqual(stats.failure_count(ops, checks), 0)


class SpanArithmeticTest(unittest.TestCase):
    def test_union_length_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 4), (2, 6)], lo=1, hi=5), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_is_span_minus_children(self):
        spans = [{"kind": "construct", "t0": 0, "t1": 30},
                 {"kind": "execute", "t0": 30, "t1": 90},
                 {"kind": "job", "t0": 40, "t1": 80},
                 {"kind": "stage", "t0": 45, "t1": 75}]
        self.assertEqual(stats.self_times(0, 100, spans),
                         {"construct": 30, "execute": 20, "job": 10, "stage": 30, "op": 10})

    def test_self_times_add_up_to_the_op_wall_with_overlapping_siblings(self):
        spans = [{"kind": "execute", "t0": 5, "t1": 95},
                 {"kind": "stage", "t0": 10, "t1": 50},
                 {"kind": "stage", "t0": 30, "t1": 70},
                 {"kind": "fetch", "t0": 20, "t1": 25},
                 {"kind": "fetch", "t0": 22, "t1": 27}]
        out = stats.self_times(0, 100, spans)
        self.assertAlmostEqual(sum(out.values()), 100)
        self.assertEqual(out["stage"], 60 - 7)
        self.assertEqual(out["fetch"], 7)
        self.assertEqual(out["op"], 10)

    def test_spans_outside_the_op_are_clipped(self):
        spans = [{"kind": "job", "t0": -50, "t1": 10}, {"kind": "job", "t0": 120, "t1": 130}]
        self.assertEqual(stats.self_times(0, 100, spans), {"job": 10, "op": 90})

    def test_owner_matches_by_time_with_millisecond_slack(self):
        ops = [{"id": 1, "t0": 0.4, "t1": 10.2}, {"id": 2, "t0": 12.0, "t1": 20.0}]
        self.assertEqual(stats.owner(0, ops), 1)
        self.assertEqual(stats.owner(11.5, ops), 2)
        self.assertIsNone(stats.owner(40, ops))


class SpreadTest(unittest.TestCase):
    def test_iqr_spread_is_relative_to_the_median(self):
        self.assertAlmostEqual(stats.iqr_spread([10.0] * 10), 0.0)
        values = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0]
        self.assertAlmostEqual(stats.iqr_spread(values), (10.125 - 9.875) / 10.0)


if __name__ == "__main__":
    unittest.main()
