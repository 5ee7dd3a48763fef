"""Unit checks of the span arithmetic on a hand-built trace.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import spans

# One traced flow run (times in ms): three nodes a -> c <- b on two
# threads; b's Python call starts one Spark job; a runs two jobs, one of
# which overlaps the other.
SPANS = [
    {"id": 1, "name": "flow.run", "trace": "rep0.run", "parent": 0,
     "start": 0.0, "end": 100.0, "attrs": {}},
    {"id": 2, "name": "plans.plan", "trace": "rep0.run", "parent": 1,
     "start": 2.0, "end": 5.0, "attrs": {}},
    {"id": 3, "name": "plans.execute", "trace": "rep0.run", "parent": 1,
     "start": 10.0, "end": 95.0, "attrs": {}},
    {"id": 4, "name": "api.node", "trace": "rep0.run", "parent": 3,
     "start": 10.0, "end": 40.0, "attrs": {"node": "a"}},
    {"id": 5, "name": "api.node", "trace": "rep0.run", "parent": 3,
     "start": 12.0, "end": 60.0, "attrs": {"node": "b"}},
    {"id": 6, "name": "pybridge.call", "trace": "rep0.run", "parent": 5,
     "start": 20.0, "end": 50.0, "attrs": {"node": "b"}},
    {"id": 7, "name": "api.node", "trace": "rep0.run", "parent": 3,
     "start": 65.0, "end": 95.0, "attrs": {"node": "c"}},
]
DEPS = {"a": [], "b": [], "c": ["a", "b"]}
SPARK = {
    "jobs": [
        {"id": 0, "group": "a", "start": 15, "end": 25, "stages": [0]},
        {"id": 1, "group": "a", "start": 20, "end": 30, "stages": [1, 0]},
        {"id": 2, "group": "b", "start": 22, "end": 32, "stages": [2]},
        {"id": 3, "group": "b", "start": 52, "end": 58, "stages": [3]},
        {"id": 4, "group": "", "start": 200, "end": 210, "stages": [4]},
    ],
    "stages": [
        {"id": s, "tasks": 2, "run_ms": 8, "gc_ms": 1, "shuffle_write": 0,
         "shuffle_read": 0, "spill": 0, "written": w}
        for s, w in ((0, 100), (1, 10), (2, 1000), (3, 5), (4, 7))],
}


def by_id(i):
    return next(s for s in SPANS if s["id"] == i)


class SpanArithmetic(unittest.TestCase):

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(spans.covered([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(spans.covered([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(spans.covered([]), 0)

    def test_self_time_subtracts_covered_children(self):
        # flow.run 100 ms; children cover 2-5 and 10-95
        kids = [by_id(2), by_id(3)]
        self.assertAlmostEqual(spans.self_time(by_id(1), kids), 12.0)
        # node b 48 ms minus its 30 ms Python call
        self.assertAlmostEqual(spans.self_time(by_id(5), [by_id(6)]), 18.0)
        totals = spans.self_times(SPANS)
        self.assertAlmostEqual(totals["api.node"], (30 + 18 + 30) / 1000.0)

    def test_sched_wait_is_start_minus_last_dependency_end(self):
        nodes = {"a": (10.0, 40.0), "b": (12.0, 60.0), "c": (65.0, 95.0)}
        w = spans.sched_waits(nodes, DEPS, exec_start=10.0)
        self.assertEqual(w, {"a": 0.0, "b": 2.0, "c": 5.0})

    def test_critical_path_is_longest_busy_chain(self):
        busy = {"a": 30.0, "b": 48.0, "c": 30.0}
        self.assertEqual(spans.critical_path(busy, DEPS), 78.0)
        self.assertEqual(spans.critical_path({"a": 1.0}, {}), 1.0)

    def test_jobs_attribute_by_group_and_window(self):
        jobs = SPARK["jobs"]
        self.assertEqual([j["id"] for j in spans.jobs_of(jobs, "a", 10, 40)],
                         [0, 1])
        # only b's job that starts inside its Python call
        self.assertEqual([j["id"] for j in spans.jobs_of(jobs, "b", 20, 50)],
                         [2])
        # a's two jobs overlap: 15-30 is 15 ms of Spark time, not 20
        self.assertEqual(spans.job_time(spans.jobs_of(jobs, "a", 10, 40),
                                        10, 40), 15)
        # stage 0 is listed by jobs 0 and 1 but ran once, in job 0
        self.assertEqual(spans.stage_owner(jobs)[0], 0)

    def test_flow_trace_metrics(self):
        eng = spans.Engine(SPARK)
        m, smp = spans._flow_trace(SPANS, DEPS, eng, threads=2)
        self.assertAlmostEqual(m["plans.plan_s"], 0.003)
        self.assertAlmostEqual(m["plans.critical_path_s"], 0.078)
        self.assertAlmostEqual(m["plans.pool_busy_frac"], 0.108 / (2 * 0.085))
        self.assertEqual(m["api.jobs_per_node"], 4 / 3)
        # copy = the job inside b's Python call; write = the other node jobs
        self.assertAlmostEqual(m["pybridge.copy_mb"], 1000 / 1e6)
        self.assertAlmostEqual(m["api.write_mb"], (100 + 10 + 5) / 1e6)
        self.assertEqual(m["spark.jobs"], 4)
        self.assertEqual(m["spark.tasks"], 8)
        self.assertEqual(sorted(smp["wait"]), [0.0, 0.002, 0.005])
        # a: 30 ms busy, 15 ms in jobs; b: 48 - 16; c: no jobs
        self.assertEqual(sorted(round(d, 6) for d in smp["driver"]),
                         [0.015, 0.03, 0.032])
        self.assertEqual([round(c, 6) for c in smp["child"]], [0.02])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(spans.pct(xs, 50), 5)
        self.assertEqual(spans.pct(xs, 90), 9)
        self.assertEqual(spans.pct([], 90), 0.0)


if __name__ == "__main__":
    unittest.main()
