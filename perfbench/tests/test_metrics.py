"""Tests of the benchmark's own metric code.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(999), 95)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(20), 50)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertIsNone(metrics.tail_percentile(0))

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)


class QuietRounds(unittest.TestCase):

    @staticmethod
    def rounds(*steals):
        return [{"round": i, "steal": x} for i, x in enumerate(steals)]

    def test_every_quiet_round_is_kept(self):
        kept = metrics.quiet_rounds(self.rounds(0.0, 0.01, 0.2, 0.03, 0.0), 0.03)
        self.assertEqual(sorted(r["round"] for r in kept), [0, 1, 3, 4])

    def test_quietest_half_when_too_few_are_quiet(self):
        kept = metrics.quiet_rounds(self.rounds(0.2, 0.1, 0.04, 0.3, 0.01), 0.03)
        self.assertEqual(sorted(r["round"] for r in kept), [1, 2, 4])
        kept = metrics.quiet_rounds(self.rounds(0.2, 0.1), 0.03)
        self.assertEqual([r["round"] for r in kept], [1])


class SelfTime(unittest.TestCase):

    def test_overlapping_children_count_once(self):
        # children [10, 40] and [30, 60] overlap on [30, 40]: they cover 50
        self.assertEqual(metrics.self_time(0, 100, [(10, 40), (30, 60)]), 50)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(metrics.self_time(0, 100, [(10, 50), (20, 30), (70, 80)]), 50)

    def test_children_clipped_to_the_span(self):
        # a job that outlives its call only covers the call's part
        self.assertEqual(metrics.self_time(0, 100, [(-20, 10), (90, 150)]), 80)
        self.assertEqual(metrics.self_time(0, 100, [(120, 150)]), 100)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(5, 25, []), 20)


class Attribution(unittest.TestCase):

    calls = [{"id": "r1c0", "t0": 100.0, "t3": 200.0},
             {"id": "r1c1", "t0": 200.5, "t3": 400.0}]

    def test_group_wins_over_time(self):
        jobs = [{"id": 1, "group": "r1c1", "start": 150, "end": 160}]
        got = metrics.attribute_jobs(jobs, self.calls)
        self.assertEqual([j["id"] for j in got["r1c1"]], [1])
        self.assertEqual(got["r1c0"], [])

    def test_jobs_without_group_go_to_the_running_call(self):
        jobs = [{"id": 1, "group": None, "start": 120, "end": 130},
                {"id": 2, "start": 250, "end": 260},
                {"id": 3, "group": "a-stream-run-id", "start": 399, "end": 420}]
        got = metrics.attribute_jobs(jobs, self.calls)
        self.assertEqual([j["id"] for j in got["r1c0"]], [1])
        self.assertEqual([j["id"] for j in got["r1c1"]], [2, 3])

    def test_job_outside_every_call_is_not_attributed(self):
        jobs = [{"id": 1, "group": None, "start": 500, "end": 510}]
        got = metrics.attribute_jobs(jobs, self.calls)
        self.assertEqual(got, {"r1c0": [], "r1c1": []})

    def test_skipped_stage_belongs_to_the_job_that_ran_it(self):
        jobs = [{"id": 1, "start": 10, "end": 20, "stages": [0, 1]},
                {"id": 2, "start": 30, "end": 40, "stages": [1, 2]}]
        stages = [{"id": 0}, {"id": 1}, {"id": 2}]
        got = metrics.stages_by_job(jobs, stages)
        self.assertEqual([s["id"] for s in got[1]], [0, 1])
        self.assertEqual([s["id"] for s in got[2]], [2])


if __name__ == "__main__":
    unittest.main()
