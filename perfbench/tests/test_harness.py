"""Tests of the benchmark harness's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class TailLatency(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 125))  # 124 samples
        value, pct, beyond = metrics.tail_latency(xs)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 114 / 124)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(metrics.tail_latency(xs), metrics.tail_latency(sorted(xs)))

    def test_eleven_samples_gives_the_minimum(self):
        value, pct, beyond = metrics.tail_latency(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail_latency([3, 1, 2]), (3, 100.0, 0))
        self.assertEqual(metrics.tail_latency([]), (None, None, 0))


def op(i, ok=True, start=0.0, built=1.0, end=2.0, window="timed", step=-1, layer="query"):
    return {"id": f"op{i}", "name": f"q{i}", "layer": layer, "ok": ok,
            "start": start, "built": built, "end": end, "window": window,
            "step": step, "error": None if ok else "boom"}


class FailureCounting(unittest.TestCase):
    def test_counts_ops_and_checks(self):
        self.assertEqual(metrics.failure_counts([True, False, True, False]), (4, 2))

    def test_failed_operations_are_never_dropped(self):
        res = {"ops": [op(1), op(2, ok=False), op(3, window="traced")],
               "windows": [{"label": "timed", "wall_ms": 1000.0, "gc_ms": 0}],
               "vmhwm_kb": 1024}
        checks = [("q1", True, ""), ("q3", False, "hash mismatch")]
        self.assertEqual(run.counts(res, checks), (5, 2))
        m, detail = run.end_to_end(res, 1.0)
        # a failed op is not a completed query, but its latency still counts
        self.assertAlmostEqual(m["qps"][0], 1.0)
        self.assertEqual(detail["samples"], 2)

    def test_a_failing_query_cannot_make_the_run_faster(self):
        fast = {"ops": [op(1, end=2.0), op(2, end=2.0)],
                "windows": [{"label": "timed", "wall_ms": 4.0, "gc_ms": 0}], "vmhwm_kb": 1}
        broken = {"ops": [op(1, end=2.0), op(2, ok=False, end=0.5)],
                  "windows": [{"label": "timed", "wall_ms": 2.5, "gc_ms": 0}], "vmhwm_kb": 1}
        q_fast = run.end_to_end(fast, 1.0)[0]["qps"][0]
        q_broken = run.end_to_end(broken, 1.0)[0]["qps"][0]
        self.assertLess(q_broken, q_fast)


class SelfTime(unittest.TestCase):
    def test_union_and_clipping(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(metrics.union_length([]), 0)

    def test_nested_spans(self):
        stage = metrics.Span("stage", 25, 85)
        job = metrics.Span("job", 20, 90, [stage])
        exe = metrics.Span("exec", 15, 100, [job])
        build = metrics.Span("build", 0, 10)
        plan = metrics.Span("plan", 10, 15)
        query = metrics.Span("query", 0, 100, [build, plan, exe])
        self.assertEqual(query.self_time(), 0)
        self.assertEqual(exe.self_time(), 15)
        self.assertEqual(job.self_time(), 10)
        self.assertEqual(stage.self_time(), 60)
        selfs = metrics.self_times([query])
        self.assertEqual(sum(selfs.values()), query.duration)

    def test_overlapping_children_count_once(self):
        parent = metrics.Span("exec", 0, 100, [metrics.Span("stage", 10, 60),
                                                metrics.Span("stage", 40, 80)])
        self.assertEqual(parent.self_time(), 30)

    def test_spans_from_trace(self):
        trace = {
            "jobs": [{"id": 1, "group": "op1", "start": 2, "end": 5, "ok": True, "stages": [1]},
                     {"id": 2, "group": "op1", "start": 12, "end": 18, "ok": True, "stages": [2]}],
            "stages": [{"id": 1, "attempt": 0, "job": 1, "submitted": 3, "completed": 5},
                       {"id": 2, "attempt": 0, "job": 2, "submitted": 13, "completed": 17}],
            "plans": {"op1": {"phases": {"optimization": 2}, "exchanges": 1, "fallbacks": 0}},
        }
        (root,) = metrics.op_spans([op(1, start=0, built=10, end=20)], trace)
        build, plan, exe = root.children
        self.assertEqual([c.name for c in root.children], ["build", "plan", "exec"])
        self.assertEqual((plan.start, plan.end), (10, 12))
        self.assertEqual(len(build.children), 1)
        self.assertEqual(build.self_time(), 7)
        self.assertEqual(exe.self_time(), 2)  # 8 ms of exec, 6 in job 2


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.make_plan(w, 7, 10, 0, 4),
                             workloads.make_plan(w, 7, 10, 0, 4))

    def test_other_seed_other_order(self):
        a = workloads.make_plan("olap-sf0.1", 1, 10, 0, 4)["passes"]
        b = workloads.make_plan("olap-sf0.1", 2, 10, 0, 4)["passes"]
        self.assertNotEqual(a, b)
        a = workloads.make_plan("ingest-sf0.01", 1, 10, 0, 4)["ingest"]["steps"]
        b = workloads.make_plan("ingest-sf0.01", 2, 10, 0, 4)["ingest"]["steps"]
        self.assertNotEqual(a, b)

    def test_every_pass_runs_every_query_once(self):
        plan = workloads.make_plan("olap-sf0.1", 3, 10, 0, 4)
        queries = sorted(workloads.WORKLOADS["olap-sf0.1"]["queries"])
        for p in plan["passes"]:
            self.assertEqual(sorted(p), queries)

    def test_ingest_batches_are_disjoint_and_sized_by_cycle(self):
        steps = workloads.make_plan("ingest-sf0.01", 3, 10, 0, 4)["ingest"]["steps"]
        copies = [c for s in steps for c in s["copies"]]
        self.assertEqual(len(copies), len(set(copies)))
        for i in range(0, len(steps) - 2, 3):
            self.assertEqual(sorted(len(s["copies"]) for s in steps[i:i + 3]), [1, 2, 3])
        self.assertTrue(all(len(set(s["years"])) == 2 for s in steps))


class MetricNames(unittest.TestCase):
    """The run prints exactly the metrics BENCHMARK.json declares."""

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end(self):
        res = {"ops": [op(i) for i in range(12)],
               "windows": [{"label": "timed", "wall_ms": 1000.0, "gc_ms": 0}], "vmhwm_kb": 1}
        m = run.end_to_end(res, 1.0)[0]
        self.assertEqual({(k, u) for k, (_, u) in m.items()},
                         {(x["name"], x["unit"]) for x in self.spec["end_to_end"]})

    def test_per_layer(self):
        trace = {"jobs": [], "stages": [], "plans": {}}
        m = metrics.per_layer([op(1)], trace, [], [op(2)], [])
        m.update(run.run_metrics({"setups": [{"session_ms": 1, "corpus_ms": 1, "artifact_ms": 0,
                                              "warmup_ms": 1, "total_ms": 3}],
                                  "vmhwm_kb": 1024}))
        m.update(run.jvm_metrics({"cpu_ms": 1, "jit_ms": 1, "classes": 1}, 1))
        self.assertEqual({(k, u) for k, (_, u) in m.items()},
                         {(x["name"], x["unit"]) for x in self.spec["per_layer"]})


class Tolerance(unittest.TestCase):
    bounds = {"q_agg_ndv:ndv_rel_err": 0.1}

    def test_estimate_within_and_beyond_bound(self):
        cols = ["ndv_part", "exact_part"]
        self.assertTrue(oracle.tolerance_check("q_agg_ndv", cols, [(105, 100)], self.bounds)[0])
        self.assertFalse(oracle.tolerance_check("q_agg_ndv", cols, [(120, 100)], self.bounds)[0])

    def test_missing_bound_fails(self):
        cols = ["pc", "pcsa", "ndv_est", "exact"]
        self.assertFalse(oracle.tolerance_check("q_distinctpc", cols, [(1, 1, 1, 1)], {})[0])

    def test_exact_queries_have_no_bound(self):
        self.assertIsNone(oracle.tolerance_check("q1_agg", [], [], self.bounds))


class ResultHash(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = oracle.result_hash(["x", "y"], [(1, "a"), (2, "b")])
        b = oracle.result_hash(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)

    def test_types_and_values_matter(self):
        base = oracle.result_hash(["x"], [(1,)])
        self.assertNotEqual(base, oracle.result_hash(["x"], [(1.0,)]))
        self.assertNotEqual(base, oracle.result_hash(["x"], [(2,)]))
        self.assertNotEqual(base, oracle.result_hash(["x"], [(1,), (1,)]))


if __name__ == "__main__":
    unittest.main()
