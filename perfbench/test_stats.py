"""Tests of the benchmark's own statistics: python3 perfbench/test_stats.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(999)), 99))
        self.assertEqual(stats.percentile(list(range(1000)), 99), 989)
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 22)), 50), 11)

    def test_order_does_not_matter(self):
        xs = [(i * 7919) % 2000 for i in range(2000)]
        self.assertEqual(stats.percentile(xs, 99), stats.percentile(sorted(xs), 99))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class DueTimeTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # one slow reply holds up the next two requests on the connection:
        # they are sent late, and the wait counts against them
        due = [0, 10, 20, 30]
        sent = [0, 50, 60, 30]
        done = [50, 60, 70, 35]
        self.assertEqual(stats.due_latencies(due, done), [50, 50, 50, 5])
        self.assertNotEqual(stats.due_latencies(due, done),
                            [d1 - d0 for d0, d1 in zip(sent, done)])


class BacklogTest(unittest.TestCase):
    def test_steady_service_is_not_growing(self):
        due = list(range(0, 1000, 10))
        done = [d + 5 for d in due]
        self.assertFalse(stats.backlog_growing(due, done, 0, 1000, slack=2))

    def test_falling_behind_is_growing(self):
        # requests due every 10 ticks, served one per 20 ticks
        due = list(range(0, 1000, 10))
        done = [20 * (i + 1) for i in range(len(due))]
        self.assertTrue(stats.backlog_growing(due, done, 0, 1000, slack=2))

    def test_constant_queue_is_not_growing(self):
        # a fixed lag of 5 requests, the same at the start and the end
        due = list(range(0, 1000, 10))
        done = [d + 50 for d in due]
        self.assertFalse(stats.backlog_growing(due, done, 0, 1000, slack=2))

    def test_short_pause_is_not_growing(self):
        # a 30-tick stall near the end delays ~3 requests, then clears
        due = list(range(0, 1000, 10))
        done = [d + 5 if not 900 <= d < 930 else 935 for d in due]
        self.assertFalse(stats.backlog_growing(due, done, 0, 1000, slack=2))

    def test_backlog_at(self):
        self.assertEqual(stats.backlog([0, 10, 20], [5, 30, 40], 20), 2)


if __name__ == "__main__":
    unittest.main()
