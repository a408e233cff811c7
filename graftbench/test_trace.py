"""Tests of the trace arithmetic and of the per-layer metric set.

Run from the repository root: python3 -m unittest graftbench/test_trace.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the per-layer metrics the benchmark was defined with
NAMED = (
    ["spark.analysis_ms", "spark.optimizer_ms", "spark.planning_ms",
     "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
     "spark.job_ms", "spark.driver_gap_ms", "spark.shuffle_read_bytes",
     "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.task_ms_p50",
     "spark.task_ms_max", "spark.executor_gc_ms",
     "cdc.decode_ms", "cdc.dlq_frac", "cdc.prepare_ms", "cdc.commit_ms",
     "cdc.manifest_read_ms", "cdc.manifest_bytes", "cdc.buckets_touched_frac",
     "cdc.write_amp", "cdc.buckets_read_per_lookup", "cdc.files_per_bucket_max",
     "cdc.compact_ms", "cdc.compact_bytes_rewritten", "cdc.vacuum_ms",
     "cdc.vacuum_files_deleted", "sources.range_plan_ms", "sources.range_exec_ms"]
    + [f"relational.{m}_ms" for m in trace.MODULES] + ["relational.plan_frac"]
    + ["llm.minhash_ms", "llm.nd_edges", "llm.cluster_ms", "llm.sample_split_ms",
       "llm.shards_ms", "llm.ivf_call_ms", "llm.ivf_plan_ms", "llm.ivf_exec_ms"])


def work(**kw):
    w = {"jobs": 0, "stages": 0, "tasks": 0, "queries": 0,
         "job_intervals_ms": [], "task_ms": [], "shuffle_read_bytes": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
         "analysis_ms": 0, "optimizer_ms": 0, "planning_ms": 0}
    w.update(kw)
    return w


def span(id, parent, name, start, end, op=1, attrs=None, **spark):
    return {"id": id, "op": op, "parent": parent, "name": name,
            "start_ns": start, "end_ns": end, "attrs": attrs or {},
            "spark": work(**spark)}


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(trace.union_length([]), 0)
        self.assertEqual(trace.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(trace.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_children_coverage(self):
        # op [0, 100] with children [10, 30] and [20, 50] (overlapping) and
        # [90, 120] (running past its parent: only [90, 100] counts);
        # the first child has a grandchild [12, 18]
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "a", 10, 30), span(3, 1, "b", 20, 50),
                 span(4, 1, "c", 90, 120), span(5, 2, "a.x", 12, 18)]
        st = trace.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 6)

    def test_layer_metrics_use_self_time_and_job_union(self):
        ms = 1_000_000
        spans = [
            span(1, 0, "cdc.merge", 0, 100 * ms, attrs={"envelopes": 30, "dlq_rows": 3},
                 jobs=1, job_intervals_ms=[[0, 20]]),
            span(2, 1, "cdc.prepare", 10 * ms, 60 * ms, jobs=2,
                 job_intervals_ms=[[15, 40], [30, 50]], tasks=3, task_ms=[1, 2, 9]),
            span(3, 2, "cdc.manifest_read", 10 * ms, 20 * ms),
        ]
        m, _ = trace.per_layer(spans)
        self.assertAlmostEqual(m["cdc.prepare_ms"], 40.0)
        self.assertAlmostEqual(m["cdc.manifest_read_ms"], 10.0)
        self.assertAlmostEqual(m["cdc.dlq_frac"], 0.1)
        self.assertAlmostEqual(m["spark.jobs_per_op"], 3)
        self.assertAlmostEqual(m["spark.job_ms"], 50.0)
        self.assertAlmostEqual(m["spark.driver_gap_ms"], 50.0)
        self.assertEqual(m["spark.task_ms_p50"], 2)
        self.assertEqual(m["spark.task_ms_max"], 9)

    def test_overhead(self):
        s = {"merge": [1, 2], "merge_traced": [1.1, 1.3], "merge_untraced": [1.0, 1.0]}
        self.assertAlmostEqual(trace.overhead_pct(s), 20.0)


def cdc_tree():
    """One traced operation of each kind `cdc_upsert` runs, with the
    spans and attributes its driver records."""
    ms = 1_000_000
    task = dict(jobs=1, stages=1, tasks=1, queries=1, job_intervals_ms=[[1, 2]],
                task_ms=[1])
    return [
        span(1, 0, "cdc.merge", 0, 90 * ms, op=1,
             attrs={"envelopes": 30, "dlq_rows": 0, "buckets_touched": 20,
                    "buckets": 64, "staged_bytes": 9e5, "input_bytes": 9e3,
                    "manifest_bytes": 4e3, "files_per_bucket_max": 2}),
        span(2, 1, "cdc.decode", 0, 1 * ms, op=1),
        span(3, 1, "cdc.manifest_read", 1 * ms, 4 * ms, op=1),
        span(4, 1, "cdc.prepare", 4 * ms, 80 * ms, op=1, **task),
        span(5, 1, "cdc.commit", 80 * ms, 90 * ms, op=1),
        span(6, 0, "cdc.lookup", 100 * ms, 120 * ms, op=6, attrs={"buckets_read": 7}),
        span(7, 6, "cdc.read_for_keys", 100 * ms, 110 * ms, op=6),
        span(8, 6, "cdc.lookup_exec", 110 * ms, 120 * ms, op=6, **task),
        span(9, 0, "sources.range", 130 * ms, 150 * ms, op=9),
        span(10, 9, "sources.range_plan", 130 * ms, 140 * ms, op=9),
        span(11, 9, "sources.range_exec", 140 * ms, 150 * ms, op=9, **task),
        span(12, 0, "cdc.compact", 160 * ms, 170 * ms, op=12,
             attrs={"bytes_rewritten": 1e5}),
        span(13, 0, "cdc.vacuum", 170 * ms, 175 * ms, op=13, attrs={"files_deleted": 8}),
    ]


class MetricSetTest(unittest.TestCase):
    def declared(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return [m["name"] for m in json.load(f)["per_layer"]]

    def test_every_named_per_layer_metric_is_emitted(self):
        emitted = set(trace.per_layer([])[0]) | {"trace.overhead_pct"}
        self.assertEqual(set(self.declared()), emitted)
        self.assertTrue(set(NAMED) <= emitted)

    def test_empty_trace_measures_nothing(self):
        self.assertEqual(trace.per_layer([])[1], set())
        self.assertIn("cdc.commit_ms",
                      trace.unmeasured("cdc_upsert", set(), self.declared()))

    def test_full_cdc_tree_measures_every_required_metric(self):
        _, measured = trace.per_layer(cdc_tree())
        self.assertEqual(trace.unmeasured("cdc_upsert", measured, self.declared()), [])

    def test_a_layer_left_out_of_the_tree_is_reported(self):
        # no commit span, no range read, no compaction attribute
        spans = [s for s in cdc_tree()
                 if s["name"] not in ("cdc.commit", "sources.range_exec")]
        next(s for s in spans if s["name"] == "cdc.compact")["attrs"] = {}
        _, measured = trace.per_layer(spans)
        self.assertEqual(
            trace.unmeasured("cdc_upsert", measured, self.declared()),
            ["cdc.commit_ms", "cdc.compact_bytes_rewritten", "sources.range_exec_ms"])
        # a metric reading 0 is still measured when its span exists
        self.assertIn("cdc.dlq_frac", measured)


if __name__ == "__main__":
    unittest.main()
