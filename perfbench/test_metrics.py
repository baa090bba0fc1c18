"""Tests of the benchmark's own arithmetic. Run: python3 -m unittest discover perfbench"""

import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(99, 90), 9)
        self.assertEqual(metrics.beyond(1, 50), 0)

    def test_highest_percentile_with_ten_beyond(self):
        # p90 needs 100 samples, p99 needs 1000; p50 needs 20
        self.assertEqual(metrics.highest_resolved(100), 90)
        self.assertEqual(metrics.highest_resolved(99), 75)
        self.assertEqual(metrics.highest_resolved(1000), 99)
        self.assertEqual(metrics.highest_resolved(20), 50)
        self.assertIsNone(metrics.highest_resolved(19))


class IntervalTest(unittest.TestCase):
    def test_merge_overlapping_and_nested(self):
        self.assertEqual(metrics.merge([(5, 7), (0, 2), (1, 3), (6, 6.5)]),
                         [(0, 3), (5, 7)])
        self.assertEqual(metrics.merge([(0, 1), (1, 2)]), [(0, 2)])
        self.assertEqual(metrics.merge([(2, 2)]), [])

    def test_covered_clips_to_window(self):
        self.assertEqual(metrics.covered([(0, 10)], 2, 5), 3)
        self.assertEqual(metrics.covered([(0, 3), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(metrics.covered([], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [
            (1, "bench.pass", 0, 0.0, 100.0),
            (2, "ops.append", 1, 10.0, 40.0),
            (3, "ops.read_tip", 1, 30.0, 60.0),   # overlaps span 2 by 10
            (4, "ops.expire", 1, 90.0, 120.0),    # runs past its parent
            (5, "llm.clean", 2, 15.0, 20.0),
        ]
        s = metrics.self_times(spans)
        self.assertEqual(s[1], 100 - (50 + 10))
        self.assertEqual(s[2], 30 - 5)
        self.assertEqual(s[3], 30)
        self.assertEqual(s[5], 5)


class InJobTest(unittest.TestCase):
    def test_merged_in_job_wall(self):
        spans = [(1, "llm.components", 0, 0.0, 100.0),
                 (2, "llm.keep_best", 0, 100.0, 150.0)]
        jobs = [
            (0, 1, 10.0, 30.0, True, 1),
            (1, 1, 20.0, 40.0, True, 1),   # concurrent with job 0
            (2, 1, 90.0, 110.0, True, 1),  # ends after its span
            (3, 2, 120.0, 130.0, True, 1),
        ]
        split = metrics.job_split(spans, jobs)
        self.assertEqual(split[1], (40.0, 60.0))
        self.assertEqual(split[2], (10.0, 40.0))


if __name__ == "__main__":
    unittest.main()
