"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
from metrics import empty_task_frac, gap_ms, percentile, self_times, skew_max  # noqa: E402


def task(in_rec=0, sr_rec=0, stage=0, sr_bytes=0):
    t = [0] * 14
    t[metrics.T_IN_REC], t[metrics.T_SR_REC] = in_rec, sr_rec
    t[metrics.T_STAGE], t[metrics.T_SR_BYTES] = stage, sr_bytes
    return t


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": name, "tag": ""}


class PercentileTest(unittest.TestCase):
    def test_hundred_samples_leave_ten_beyond_p90(self):
        self.assertEqual(percentile(range(1, 101), 90), (90, 100, 10, True))

    def test_fewer_than_hundred_samples_are_flagged(self):
        value, n, beyond, ok = percentile(range(1, 100), 90)
        self.assertEqual((value, n, beyond, ok), (90, 99, 9, False))
        self.assertEqual(percentile([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 12, 11], 90), (11, 12, 1, False))

    def test_nearest_rank_ignores_input_order(self):
        self.assertEqual(percentile([30, 10, 20], 50, 0), (20, 3, 1, True))
        self.assertEqual(percentile([7], 90), (7, 1, 0, False))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 90)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_at_each_level(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 40, 70), span(4, 3, 45, 50)]
        self.assertEqual(self_times(spans), {1: 50, 2: 20, 3: 25, 4: 5})

    def test_a_span_whose_parent_was_not_recorded_keeps_its_duration(self):
        self.assertEqual(self_times([span(7, 3, 5, 9)]), {7: 4})


class SchedulerRatioTest(unittest.TestCase):
    def test_busy_frac_is_run_time_over_wall_times_cores(self):
        self.assertEqual(metrics.busy_frac([100, 300], 100, 4), 1.0)
        self.assertEqual(metrics.busy_frac([50, 50], 100, 4), 0.25)
        self.assertEqual(metrics.busy_frac([50], 0, 4), 0.0)

    def test_empty_task_reads_no_input_and_no_shuffle_record(self):
        tasks = [task(), task(in_rec=3), task(sr_rec=2), task()]
        self.assertEqual(empty_task_frac(tasks), 0.5)
        self.assertEqual(empty_task_frac([]), 0.0)

    def test_skew_is_largest_task_over_stage_mean(self):
        tasks = [task(stage=1, sr_bytes=10), task(stage=1, sr_bytes=30),
                 task(stage=2, sr_bytes=0), task(stage=2, sr_bytes=0), task(stage=3, sr_bytes=99)]
        self.assertEqual(skew_max(tasks), 1.5)


class DriverGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(gap_ms([(10, 20), (15, 30), (50, 60)], 0, 100), 70)

    def test_nested_and_touching_jobs(self):
        self.assertEqual(gap_ms([(10, 50), (20, 30), (50, 60)], 0, 100), 50)

    def test_jobs_are_clipped_to_the_region(self):
        self.assertEqual(gap_ms([(-5, 5), (95, 120), (200, 300)], 0, 100), 90)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(gap_ms([], 0, 100), 100)


class RecordTest(unittest.TestCase):
    def test_records_with_different_core_counts_are_refused(self):
        import run
        a = {"nproc": 4, "master": "local[4]", "seed": 1}
        self.assertIsNone(run.comparable(a, dict(a)))
        self.assertIn("nproc", run.comparable(a, dict(a, nproc=32, master="local[32]")))


if __name__ == "__main__":
    unittest.main()
