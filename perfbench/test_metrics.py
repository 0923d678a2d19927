"""Tests of the benchmark's own math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        vals = list(range(1, 101))  # p90 rank 90 leaves exactly 10 beyond
        self.assertEqual(metrics.percentile(vals, 0.9), 90)
        self.assertIsNone(metrics.percentile(vals[:99], 0.9))  # 9 beyond

    def test_median_nearest_rank(self):
        self.assertEqual(metrics.percentile(list(range(1, 22)), 0.5), 11)
        self.assertIsNone(metrics.percentile([1, 2, 3], 0.5))

    def test_weighted_equals_expanded(self):
        vals, weights = [5.0, 1.0, 3.0], [10, 20, 30]
        expanded = [1.0] * 20 + [3.0] * 30 + [5.0] * 10
        for q in (0.25, 0.5, 0.8):
            self.assertEqual(metrics.percentile(vals, q, weights),
                             metrics.percentile(expanded, q))


class AttributionTest(unittest.TestCase):
    def test_ticks_land_in_first_covering_batch(self):
        ticks = [{"offsets": [0, -1, -1]}, {"offsets": [0, 0, -1]},
                 {"offsets": [1, 0, 0]}, {"offsets": [2, 1, 1]}]
        batches = [{"batch_id": 1, "offsets": [1, 0, 0]},
                   {"batch_id": 0, "offsets": [0, -1, -1]},
                   {"batch_id": 2, "offsets": [1, 0, 0]}]  # no-data trigger
        got = [b and b["batch_id"] for b in metrics.attribute(ticks, batches)]
        self.assertEqual(got, [0, 1, 1, None])

    def test_every_source_must_reach_the_tick(self):
        self.assertFalse(metrics.covers([5, 5, 3], [4, 4, 4]))
        self.assertTrue(metrics.covers([5, 5, 4], [4, 4, 4]))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [{"id": "p", "parent": None, "start_ms": 0, "end_ms": 100},
                 {"id": "a", "parent": "p", "start_ms": 10, "end_ms": 50},
                 {"id": "b", "parent": "p", "start_ms": 30, "end_ms": 70},  # overlaps a
                 {"id": "c", "parent": "p", "start_ms": 90, "end_ms": 120}]  # clipped
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["p"], 100 - 60 - 10)
        self.assertAlmostEqual(st["a"], 40)
        self.assertAlmostEqual(st["c"], 30)

    def test_grandchildren_do_not_count_against_grandparent(self):
        spans = [{"id": "p", "parent": None, "start_ms": 0, "end_ms": 10},
                 {"id": "c", "parent": "p", "start_ms": 2, "end_ms": 4},
                 {"id": "g", "parent": "c", "start_ms": 2, "end_ms": 9}]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["p"], 8)
        self.assertAlmostEqual(st["c"], 0)


class LagTest(unittest.TestCase):
    ticks = [{"due_ms": 100.0 * k, "rows": 10} for k in range(5)]

    def test_lag_is_due_gap_to_newest_consumed(self):
        consumed = [50.0, 150.0, None, None, None]
        self.assertEqual(metrics.lag_at(450.0, self.ticks, consumed), 400 - 100)
        self.assertEqual(metrics.lag_at(120.0, self.ticks, consumed), 100 - 0)

    def test_nothing_consumed_measures_from_schedule_start(self):
        none = [None] * 5
        self.assertEqual(metrics.lag_at(250.0, self.ticks, none), 200)
        self.assertEqual(metrics.lag_at(-1.0, self.ticks, none), 0.0)

    def test_backlog_counts_due_unread_rows(self):
        consumed = [50.0, 150.0, None, None, None]
        self.assertEqual(metrics.backlog_at(320.0, self.ticks, consumed), 20)
        self.assertEqual(metrics.backlog_at(120.0, self.ticks, consumed), 10)


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        med, q1, q3, rel = metrics.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(rel, 1.0)


if __name__ == "__main__":
    unittest.main()
