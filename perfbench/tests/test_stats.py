"""Percentile rule, job-interval union and self-time arithmetic.

Run: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertTrue(stats.supports(100, 0.9))
        self.assertFalse(stats.supports(99, 0.9))
        self.assertTrue(stats.supports(20, 0.5))
        self.assertFalse(stats.supports(19, 0.5))

    def test_tail_refuses_a_thin_sample(self):
        self.assertIsNone(stats.tail(list(range(99)), 0.9))
        # nearest rank: the 90th of 1..100 is 90, and 10 samples lie beyond
        self.assertEqual(stats.tail(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 0.5), 3)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2)
        self.assertEqual(stats.percentile([7], 0.9), 7)


class JobUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 25)]), 20)

    def test_driver_only_is_wall_minus_union(self):
        op = (100, 200)
        jobs = [(110, 130), (120, 150), (170, 180)]
        self.assertEqual(stats.driver_only(op, jobs), 100 - 40 - 10)

    def test_jobs_outside_the_operation_are_clipped(self):
        self.assertEqual(stats.driver_only((100, 200), [(50, 120), (190, 300)]), 70)
        self.assertEqual(stats.driver_only((100, 200), []), 100)

    def test_touching_intervals_merge(self):
        self.assertEqual(stats.union([(0, 5), (5, 8)]), [(0, 8)])


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (15, 30), (90, 120)]), 100 - 20 - 10)

    def test_layers_add_up_to_the_wall(self):
        op = (0, 100)
        phases = [(0, 10), (10, 30)]   # planner phases
        jobs = [(20, 50), (60, 70)]    # a job starts inside planning
        st = stats.layer_self_times(op, phases, jobs)
        self.assertEqual(st["execution"], 40)
        self.assertEqual(st["planning"], 20)  # 0..20; 20..30 is the job's
        self.assertEqual(st["op"], 40)
        self.assertEqual(sum(st.values()), 100)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(stats.quartile_spread([8, 9, 10, 11, 12]), 0.2)


if __name__ == "__main__":
    unittest.main()
