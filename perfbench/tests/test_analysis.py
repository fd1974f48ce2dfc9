"""Self-tests of the benchmark's tracing arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def job(i, submit, end, tasks=1, cpu_ms=1.0):
    return {"id": i, "submit": submit, "end": end, "tasks": tasks, "cpu_ms": cpu_ms,
            "shuffle_write": 0, "spill": 0}


class TailTest(unittest.TestCase):
    def test_forty_samples_give_p75_with_ten_beyond(self):
        value, pct, n = analysis.tail(list(range(1, 41)))
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for x in range(1, 41) if x > value), 10)

    def test_unsorted_input(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        value, pct, n = analysis.tail(xs)
        self.assertEqual(value, 2.0)
        self.assertEqual(n, 12)
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_too_few_samples(self):
        self.assertIsNone(analysis.tail(list(range(10))))
        self.assertEqual(analysis.tail(list(range(11)))[0], 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = [span(0, -1, "cli.day1", 0.0, 100.0),
                 span(1, 0, "text.exact_dedup", 10.0, 30.0),
                 span(2, 0, "text.minhash_pairs_build", 25.0, 50.0),
                 span(3, 0, "io.seen_register_write", 90.0, 120.0)]
        kids = analysis.children(spans)
        # children cover [10, 50] and [90, 100] of the parent
        self.assertAlmostEqual(analysis.self_time(spans[0], kids), 50.0)
        self.assertAlmostEqual(analysis.self_time(spans[1], kids), 20.0)

    def test_union_length_clips(self):
        self.assertAlmostEqual(analysis.union_length([(0, 5), (3, 8), (10, 12)], 1, 11), 8.0)
        self.assertEqual(analysis.union_length([], 0, 10), 0.0)


class AttributionTest(unittest.TestCase):
    def setUp(self):
        self.spans = [span(0, -1, "candidate", 0.0, 100.0),
                      span(1, 0, "gen.generate", 0.2, 10.0),
                      span(2, 0, "io.save_csv", 10.4, 40.0),
                      span(3, 0, "eval.distribution", 40.0, 99.0),
                      span(4, -1, "eval.predictive", 100.5, 200.0)]
        self.depths = analysis.depth(self.spans)

    def name_at(self, t):
        s = analysis.attribute(t, self.spans, self.depths)
        return None if s is None else s["name"]

    def test_innermost_open_span_wins(self):
        self.assertEqual(self.name_at(20), "io.save_csv")
        self.assertEqual(self.name_at(99.2), "candidate")

    def test_millisecond_stamp_of_a_job_submitted_just_after_a_span_opened(self):
        # submitted at 10.6, stamped 10: save_csv had opened, generate had closed
        self.assertEqual(self.name_at(10), "io.save_csv")
        # submitted at 100.7, stamped 100: the next top-level span
        self.assertEqual(self.name_at(100), "eval.predictive")

    def test_job_outside_every_span(self):
        self.assertIsNone(self.name_at(250))

    def test_pool_thread_jobs_attribute_by_time_not_thread(self):
        # Par legs submit concurrently from pool threads while one span is open
        jobs = [job(1, 45, 60), job(2, 46, 70), job(3, 47, 65)]
        rows, unattributed = analysis.breakdown(self.spans[:4], jobs, [])
        by = {r["name"]: r for r in rows}
        self.assertEqual(by["eval.distribution"]["jobs"], 3)
        self.assertEqual(unattributed["jobs"], 0)
        # driver-only time: the span minus the union of its jobs [45, 70]
        self.assertAlmostEqual(by["eval.distribution"]["driver_ms"], (99 - 40) - 25)

    def test_queries_follow_the_same_rule(self):
        rows, unattributed = analysis.breakdown(self.spans, [], [{"at": 15, "plan_ms": 3.0},
                                                                 {"at": 300, "plan_ms": 2.0}])
        by = {r["name"]: r for r in rows}
        self.assertEqual(by["io.save_csv"]["plan_ms"], 3.0)
        self.assertEqual(unattributed["plan_ms"], 2.0)



class HostSlowdownTest(unittest.TestCase):
    def test_median_of_the_window_over_the_quiet_probe(self):
        probe = [(0.0, 4.0), (200.0, 8.0), (400.0, 6.0), (600.0, 7.0), (800.0, 100.0)]
        q = analysis.QUIET_PROBE_MS
        self.assertAlmostEqual(analysis.host_slowdown(probe, 100.0, 700.0), 7.0 / q)
        self.assertAlmostEqual(analysis.host_slowdown(probe, 0.0, 0.0), 4.0 / q)

    def test_empty_window_falls_back_to_every_sample(self):
        probe = [(0.0, 4.0), (200.0, 8.0), (400.0, 6.0)]
        self.assertAlmostEqual(analysis.host_slowdown(probe, 900.0, 950.0),
                               6.0 / analysis.QUIET_PROBE_MS)


if __name__ == "__main__":
    unittest.main()
