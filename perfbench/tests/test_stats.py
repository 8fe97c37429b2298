"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_wanted_percentile_when_sample_supports_it(self):
        self.assertEqual(stats.supported_percentile(1000, 0.95), 0.95)
        self.assertEqual(stats.supported_percentile(200, 0.95), 0.95)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertAlmostEqual(stats.supported_percentile(100, 0.95), 0.90)
        self.assertAlmostEqual(stats.supported_percentile(40, 0.95), 0.75)

    def test_no_tail_below_the_median(self):
        self.assertAlmostEqual(stats.supported_percentile(20, 0.95), 0.5)
        self.assertIsNone(stats.supported_percentile(19, 0.95))
        self.assertIsNone(stats.supported_percentile(0, 0.95))

    def test_tail_value_leaves_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, p, n = stats.tail(xs)
        self.assertEqual((value, n), (90, 100))
        self.assertAlmostEqual(p, 0.90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_at_p95_with_enough_samples(self):
        value, p, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((value, p), (950, 0.95))

    def test_tail_of_small_sample_is_median(self):
        self.assertEqual(stats.tail([3, 1, 2]), (2, 0.5, 3))


class OpenLoopLatency(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        reqs = [{"due_ms": 0, "sent_ms": 0, "done_ms": 50},
                # generator ran 200 ms late: the wait is part of the latency
                {"due_ms": 100, "sent_ms": 300, "done_ms": 350}]
        lat, late = stats.due_latencies(reqs)
        self.assertEqual(lat, [50, 250])
        self.assertEqual(late, [0, 200])

    def test_early_send_is_not_negative_lateness(self):
        _, late = stats.due_latencies([{"due_ms": 10, "sent_ms": 9, "done_ms": 20}])
        self.assertEqual(late, [0])


class Outcomes(unittest.TestCase):
    def test_unsent_and_wrong_answers_fail(self):
        reqs = [{"sent_ms": 0, "ok": True}, {"sent_ms": 5, "ok": False},
                {"sent_ms": None, "ok": False}]
        self.assertEqual(stats.outcomes(reqs), (3, 2))


class ClosedThroughput(unittest.TestCase):
    def test_answers_per_busy_second_per_connection(self):
        # four connections, two rounds of 1 s each: 8 answers in 2 s
        reqs = [{"sent_ms": 1000.0 * (i // 4), "done_ms": 1000.0 * (i // 4 + 1), "ok": True}
                for i in range(8)]
        self.assertAlmostEqual(stats.closed_throughput(reqs, 4), 4.0)

    def test_idle_connections_at_the_end_do_not_count(self):
        # a ninth request runs alone for 1 s while three connections idle
        reqs = [{"sent_ms": 1000.0 * (i // 4), "done_ms": 1000.0 * (i // 4 + 1), "ok": True}
                for i in range(9)]
        self.assertAlmostEqual(stats.closed_throughput(reqs, 4), 4.0)

    def test_not_capped_by_a_schedule(self):
        # a server ten times faster reads ten times higher
        slow = [{"sent_ms": 0.0, "done_ms": 1000.0, "ok": True}] * 4
        fast = [{"sent_ms": 0.0, "done_ms": 100.0, "ok": True}] * 4
        self.assertAlmostEqual(
            stats.closed_throughput(fast, 4) / stats.closed_throughput(slow, 4), 10)

    def test_wrong_answers_take_time_but_do_not_count(self):
        reqs = [{"sent_ms": 0.0, "done_ms": 500.0, "ok": True},
                {"sent_ms": 0.0, "done_ms": 500.0, "ok": False}]
        self.assertAlmostEqual(stats.closed_throughput(reqs, 2), 2.0)


class Backlog(unittest.TestCase):
    def test_steady_service_has_no_growing_backlog(self):
        dues = [i * 100.0 for i in range(100)]
        dones = [d + 150 for d in dues]
        self.assertFalse(stats.backlog_growing(dues, dones, 0, 10000, slack=4))

    def test_service_slower_than_arrivals_grows(self):
        dues = [i * 100.0 for i in range(100)]
        dones = [i * 200.0 + 50 for i in range(100)]  # half the arrival rate
        self.assertTrue(stats.backlog_growing(dues, dones, 0, 10000, slack=4))

    def test_unfinished_requests_count_as_growing(self):
        dues = [i * 100.0 for i in range(10)]
        dones = [d + 10 for d in dues[:-1]] + [None]
        self.assertTrue(stats.backlog_growing(dues, dones, 0, 1000, slack=4))

    def test_series_counts_due_minus_done(self):
        self.assertEqual(stats.backlog_series([0, 0, 0], [10, None, 10], 0, 12, points=2),
                         [3, 1])


class MaxRate(unittest.TestCase):
    def phase(self, rate, lat, growing=False):
        return {"rate": rate, "latencies": lat, "growing": growing}

    def test_highest_rate_meeting_limit(self):
        phases = [self.phase(2, [100] * 50), self.phase(6, [300] * 150),
                  self.phase(18, [5000] * 150)]
        self.assertEqual(stats.max_rate(phases, 1000), 6)

    def test_growing_backlog_disqualifies(self):
        phases = [self.phase(2, [100] * 50), self.phase(6, [300] * 150, growing=True)]
        self.assertEqual(stats.max_rate(phases, 1000), 2)

    def test_failures_count_as_missing_the_limit(self):
        lat = [100] * 80 + [math.inf] * 20
        self.assertIsNone(stats.max_rate([self.phase(4, lat)], 1000))


if __name__ == "__main__":
    unittest.main()
