"""Self-tests of the benchmark harness (no JVM needed): the percentile
rule and sample counts, span self time and the wall-time breakdown,
metric names against BENCHMARK.json, and generator determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import explain  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import trace as tr  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(tr.percentile(xs, 50), 50)
        self.assertEqual(tr.percentile(xs, 90), 90)
        self.assertEqual(tr.percentile(xs, 99), 99)
        self.assertEqual(tr.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(tr.tail_percentile(1000), 99)   # 10 beyond p99
        self.assertEqual(tr.tail_percentile(999), 90)    # only 9 beyond p99
        self.assertEqual(tr.tail_percentile(100), 90)    # 10 beyond p90
        self.assertEqual(tr.tail_percentile(99), 50)
        self.assertEqual(tr.tail_percentile(10), 50)     # nothing qualifies: the median

    def test_summary_reports_counts(self):
        s = tr.summarize([float(x) for x in range(1000)])
        self.assertEqual((s["n"], s["tail_pct"], s["beyond_tail"]), (1000, 99, 10))
        self.assertEqual(s["p50"], 499.5)  # even count: between the middle two
        self.assertEqual(s["tail"], 989.0)


class SpanSelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        spans = [
            {"id": "p", "parent": None, "start": 0, "end": 10},
            {"id": "a", "parent": "p", "start": 1, "end": 3},
            {"id": "b", "parent": "p", "start": 2, "end": 5},   # overlaps a
            {"id": "c", "parent": "p", "start": 8, "end": 12},  # runs past p
            {"id": "d", "parent": "a", "start": 1, "end": 2},
        ]
        s = tr.self_times(spans)
        self.assertEqual(s["p"], 10 - (4 + 2))
        self.assertEqual(s["a"], 1)
        self.assertEqual(s["c"], 4)

    def test_trace_and_parents_from_records(self):
        recs = [
            {"kind": "span", "id": 1, "name": "query", "trace": "q#0", "parent": 0, "start": 0, "end": 100},
            {"kind": "span", "id": 2, "name": "build", "trace": "q#0", "parent": 1, "start": 0, "end": 40},
            {"kind": "exec_start", "exec": 7, "time": 50, "root": 7, "description": "save at X.scala:1"},
            {"kind": "exec_end", "exec": 7, "time": 90, "ok": True, "analysis_ms": 1,
             "optimization_ms": 2, "planning_ms": 3, "operator_rows": 10, "writes": 0,
             "write_bytes": 0, "write_files": 0},
            {"kind": "job_start", "job": 3, "time": 55, "stages": [4], "span": "1", "exec": "7",
             "callsite": "x", "batch": None, "query": None},
            {"kind": "job_end", "job": 3, "time": 85, "ok": True},
            {"kind": "stage", "stage": 4, "attempt": 0, "name": "x", "tasks": 4, "submit": 56,
             "end": 84, "run_ms": 80, "gc_ms": 0, "shuffle_write": 5, "shuffle_read": 5,
             "spill": 0, "scan_bytes": 100, "scan_rows": 10},
            {"kind": "task", "stage": 4, "launch": 58, "finish": 84, "ok": True},
            {"kind": "ddl", "op": "CreateTable", "start": 10, "end": 12, "span": "2"},
        ]
        spans = tr.build_spans(recs)
        by = {s["id"]: s for s in spans}
        self.assertEqual(by["x7"]["parent"], "h1")
        self.assertEqual(by["j3"]["parent"], "x7")
        self.assertEqual(by["s4.0"]["parent"], "j3")
        self.assertEqual(by["d0"]["parent"], "h2")
        self.assertTrue(all(s["trace"] == "q#0" for s in spans))
        m = tr.trace_layers(spans)["q#0"]
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.sched_wait_ms"], 2)
        self.assertEqual(m["catalog.ddl_ops"], 1)
        self.assertEqual(m["queries.planning_ms"], 3)
        self.assertEqual(by["j3"]["attrs"]["callsite"], "save at X.scala:1")  # the execution's call site
        self.assertEqual(by["h1"]["self_ms"], 100 - 40 - 40)


    def test_streaming_jobs_under_cdc_table_timer_count_as_cdc_table(self):
        recs = [
            {"kind": "span", "id": 1, "name": "foreachBatch", "trace": "cdc#4", "parent": 0,
             "start": 0, "end": 50, "query": "cdc", "batch": 4},
            {"kind": "span", "id": 2, "name": "cdc_table.upsert", "trace": "cdc#4", "parent": 1,
             "start": 1, "end": 40},
            {"kind": "job_start", "job": 9, "time": 5, "stages": [], "span": "2", "exec": None,
             "callsite": "start at Q.scala:1", "batch": "4", "query": None},
            {"kind": "job_end", "job": 9, "time": 30, "ok": True},
        ]
        m = tr.trace_layers(tr.build_spans(recs))["cdc#4"]
        self.assertEqual(m["operators.CdcTable.jobs"], 1)
        self.assertEqual(m["operators.cdc_table.upsert_calls"], 1)


class WallBreakdown(unittest.TestCase):
    def test_partition_does_not_double_count_parallel_stages(self):
        spans = [
            {"id": "q", "name": "query", "parent": None, "start": 0, "end": 10},
            {"id": "j", "name": "job", "parent": "q", "start": 2, "end": 8},
            {"id": "s1", "name": "stage", "parent": "j", "start": 3, "end": 7},
            {"id": "s2", "name": "stage", "parent": "j", "start": 4, "end": 6},
        ]
        t = explain.timeline(spans)
        self.assertEqual(dict(t), {"query": 4, "job": 2, "stage": 4})
        self.assertEqual(sum(t.values()), 10)


class MetricNames(unittest.TestCase):
    def test_declared_names(self):
        b = bench()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])

    def test_printed_end_to_end_names_are_declared(self):
        b = bench()
        lat = tr.summarize([1.0, 2.0])
        e2e = run.end_to_end(1.0, 2.0, lat, 3.0)
        self.assertEqual(set(e2e), {m["name"] for m in b["end_to_end"]})

    def test_layer_names_produced_are_declared(self):
        declared = {m["name"] for m in bench()["per_layer"]}
        produced = set(run.BATCH_LAYERS) | set(run.STREAM_LAYERS) | {"trace.overhead_pct"}
        self.assertEqual(produced, declared)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        cfg = gen.load_config()
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.generate("cdc_stream", 5, 1, a, cfg)
            gen.generate("cdc_stream", 5, 1, b, cfg)
            gen.generate("cdc_stream", 6, 1, c, cfg)
            self.assertTrue(run.same_tree(a, b))
            self.assertFalse(run.same_tree(a, c))

    def test_feed_start_separates_late_events_at_any_length(self):
        # 16 s of feed is more than 2 hours of event time (250 ms apart),
        # long enough that "creation - 2 h" would land after the start
        cfg = gen.load_config()
        with tempfile.TemporaryDirectory() as t:
            gen.generate("cdc_stream", 5, 16, t, cfg)
            with open(os.path.join(t, "manifest.json")) as f:
                man = json.load(f)
            start = gen.fmt_ts(man["feed_start_ms"])
            late, on_time = [], []
            for name in sorted(os.listdir(os.path.join(t, "feed"))):
                with open(os.path.join(t, "feed", name)) as f:
                    for e in map(json.loads, f):
                        (late if e["ts_ms"] < man["feed_start_ms"] else on_time).append(e)
            self.assertEqual(sum(e["after"] is not None for e in late), man["beyond_tolerance_rows"])
            self.assertGreater(man["beyond_tolerance_rows"], 0)
            for e in late:
                self.assertLess(max(i["ts"] for i in (e["before"], e["after"]) if i), start)
            for e in on_time:  # a before-image may be older: only after-images reach the sales view
                if e["after"] is not None:
                    self.assertGreaterEqual(e["after"]["ts"], start)


if __name__ == "__main__":
    unittest.main()
