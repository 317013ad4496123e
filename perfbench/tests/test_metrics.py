"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(xs, 99), 99)
        self.assertEqual(M.percentile(xs, 100), 100)
        self.assertEqual(M.percentile([7.0], 99), 7.0)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(M.beyond(100, 90), 10)
        self.assertEqual(M.beyond(1000, 99), 10)
        self.assertEqual(M.beyond(999, 99), 9)
        self.assertEqual(M.beyond(51, 75), 12)

    def test_requested_percentile_kept_when_supported(self):
        xs = list(range(1000))
        value, used, n = M.supported_percentile(xs, 99)
        self.assertEqual((used, n), (99, 10))
        self.assertEqual(value, M.percentile(xs, 99))

    def test_falls_back_to_highest_supported(self):
        # 999 samples: p99 has 9 beyond, p95 has 49
        self.assertEqual(M.supported_percentile(list(range(999)), 99)[1:], (95, 49))
        # 100 samples: p90 has exactly 10 beyond
        self.assertEqual(M.supported_percentile(list(range(100)), 99)[1:], (90, 10))
        # 51 samples (three dashboard refreshes): p90 has 5, p75 has 12
        self.assertEqual(M.supported_percentile(list(range(51)), 99)[1:], (75, 12))

    def test_too_few_samples_reports_the_median(self):
        value, used, n = M.supported_percentile([5, 1, 3], 99)
        self.assertEqual((value, used, n), (3, 50, 1))

    def test_never_above_the_requested_percentile(self):
        self.assertEqual(M.supported_percentile(list(range(10_000)), 90)[1], 90)


class FreshnessMapping(unittest.TestCase):
    # two mountpoints, period 1000 µs, staggered by half a period
    SCHED = M.live_schedule(1_000_000, 1000.0, ["A", "B"])

    def test_schedule_staggers_mounts(self):
        self.assertEqual(self.SCHED["A"](0), 1_000_000)
        self.assertEqual(self.SCHED["A"](3), 1_003_000)
        self.assertEqual(self.SCHED["B"](0), 1_000_500)

    def test_ack_time_is_the_first_step_reaching_the_frame(self):
        log = [(2_000_000, "A", 2), (2_500_000, "A", 5), (2_100_000, "B", 1)]
        idx = M.ack_index(log)
        self.assertEqual(M.ack_time(idx, "A", 0), 2_000_000)
        self.assertEqual(M.ack_time(idx, "A", 1), 2_000_000)
        self.assertEqual(M.ack_time(idx, "A", 2), 2_500_000)
        self.assertEqual(M.ack_time(idx, "A", 4), 2_500_000)
        self.assertIsNone(M.ack_time(idx, "A", 5))
        self.assertEqual(M.ack_time(idx, "B", 0), 2_100_000)
        self.assertIsNone(M.ack_time(idx, "C", 0))

    def test_counts_must_grow(self):
        with self.assertRaises(ValueError):
            M.ack_index([(1, "A", 3), (2, "A", 3)])

    def test_freshness_per_frame_in_window(self):
        # A's frames 0..3 due at 1.000, 1.001, 1.002, 1.003 s; acked in
        # two steps. B's frame 0 due at 1.0005 s, acked at 1.0105 s
        log = [(1_010_000, "A", 2), (1_020_000, "A", 4), (1_010_500, "B", 1)]
        idx = M.ack_index(log)
        got, missing = M.freshness(idx, self.SCHED, {"A": 4, "B": 2},
                                   (1_000_000, 1_004_000))
        self.assertEqual(sorted(got), sorted([10.0, 9.0, 18.0, 17.0, 10.0]))
        self.assertEqual(missing, [("B", 1)])

    def test_warmup_frames_are_excluded(self):
        log = [(5_000_000, "A", 4)]
        got, missing = M.freshness(M.ack_index(log), {"A": self.SCHED["A"]}, {"A": 4},
                                   (1_002_000, 1_004_000))
        self.assertEqual(sorted(got), [3997.0, 3998.0])  # frames 2 and 3 only
        self.assertEqual(missing, [])

    def test_rate_between_acknowledgements(self):
        events = [(0, 0), (1_000_000, 100), (2_000_000, 300), (3_000_000, 400), (9_000_000, 999)]
        # inside [0.5 s, 4 s): first event 1 s (100), last 3 s (400)
        self.assertAlmostEqual(M.rate_between(events, (500_000, 4_000_000)), 150.0)
        self.assertEqual(M.rate_between(events, (0, 900_000)), 0.0)

    def test_total_events_sums_mounts(self):
        log = [(1, "A", 2), (2, "B", 3), (3, "A", 5)]
        self.assertEqual(M.total_events(log), [(1, 2), (2, 5), (3, 8)])


if __name__ == "__main__":
    unittest.main()
