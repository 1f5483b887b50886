"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

from benchlib import entries, inputs, report  # noqa: E402
from benchlib.metrics import (beyond, file_commits, file_latencies, module_of,  # noqa: E402
                              percentile, self_times, source_lag_files, tail_percentile,
                              union_length)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 99), 99)
        self.assertEqual(percentile([7], 99), 7)

    def test_p90_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))
        p = tail_percentile(xs, 90)
        self.assertEqual(p, 90)
        self.assertEqual(beyond(xs, p), 10)

    def test_p90_with_too_few_samples_falls_back_to_ten_beyond(self):
        xs = list(range(1, 51))  # p90 = 45 would leave only 5 beyond
        p = tail_percentile(xs, 90)
        self.assertEqual(p, 40)
        self.assertEqual(beyond(xs, p), 10)

    def test_tail_of_ten_or_fewer_samples_is_the_plain_percentile(self):
        self.assertEqual(tail_percentile([3, 1, 2], 90), 3)
        self.assertEqual(tail_percentile([], 90), 0.0)

    def test_ties_do_not_count_as_beyond(self):
        xs = [1] * 50 + [2] * 50
        self.assertEqual(beyond(xs, percentile(xs, 90)), 0)
        self.assertEqual(tail_percentile(xs, 90), 2)


class SpanTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_children(self):
        spans = [
            dict(id="q", parent=None, start=0, end=100),
            dict(id="c", parent="q", start=0, end=30),
            dict(id="a", parent="q", start=30, end=100),
            dict(id="j1", parent="a", start=40, end=70),
            dict(id="j2", parent="a", start=60, end=90),  # overlaps j1
        ]
        s = self_times(spans)
        self.assertEqual(s["q"], 0)
        self.assertEqual(s["c"], 30)
        self.assertEqual(s["a"], 20)   # 70 minus the union 40..90
        self.assertEqual(s["j1"], 30)
        self.assertEqual(s["j2"], 30)
        # self times partition the root's duration
        self.assertEqual(s["q"] + s["c"] + s["a"] + union_length([(40, 70), (60, 90)]), 100)

    def test_children_are_clipped_to_the_parent(self):
        spans = [dict(id="p", parent=None, start=10, end=20),
                 dict(id="c", parent="p", start=0, end=15)]
        self.assertEqual(self_times(spans)["p"], 5)


class LatencyTest(unittest.TestCase):
    def test_latency_is_measured_from_due_time(self):
        # files due every 10 ms; the generator stalls 500 ms before f3, so
        # f3..f5 are published late and all land in one batch at 620 ms
        due = {f"f{i}": 10.0 * i for i in range(6)}
        commits = {("q", "f0"): 50, ("q", "f1"): 50, ("q", "f2"): 50,
                   ("q", "f3"): 620, ("q", "f4"): 620, ("q", "f5"): 620}
        lat = sorted(file_latencies(due, commits))
        self.assertEqual(lat[:3], [30, 40, 50])
        # each queued file is charged the stall, measured from when it was due
        self.assertEqual(lat[3:], [570, 580, 590])

    def test_file_commits_map_source_offsets_to_batches(self):
        file_log = {("q", "a"): 0, ("q", "b"): 1, ("q", "c"): 1, ("q", "d"): 2}
        # batch 0 covered log offset 0; a no-data batch repeats offset 0;
        # batch 2 covered offset 1; offset 2 was never committed
        progress = {"q": [(0, 100), (0, 150), (1, 300)]}
        c = file_commits(file_log, progress)
        self.assertEqual(c, {("q", "a"): 100, ("q", "b"): 300, ("q", "c"): 300})

    def test_source_lag_counts_published_uncommitted_files(self):
        published = {"a": 0, "b": 10, "c": 200}
        commits = {("q", "a"): 100, ("q", "b"): 300, ("q", "c"): 300}
        self.assertEqual(source_lag_files(published, commits, [("q", 50)]), 2)
        self.assertEqual(source_lag_files(published, commits, [("q", 150), ("q", 250)]), 1.5)


class AttributionTest(unittest.TestCase):
    def frames(self, *lines):
        return "\n".join(lines)

    def test_innermost_graft_frame_decides(self):
        cs = self.frames(
            "org.apache.spark.sql.Dataset.count(Dataset.scala:3500)",
            "graft.dedup.Dedup$.resolve(Dedup.scala:812)",
            "graft.queries.PipelineQueries$.$anonfun$all$7(PipelineQueries.scala:40)",
            "graftbench.BatchWorkload$.run(Main.scala:100)")
        self.assertEqual(module_of(cs), "dedup")

    def test_table_loader_is_graft(self):
        cs = self.frames(
            "org.apache.spark.sql.DataFrameReader.parquet(DataFrameReader.scala:1)",
            "graft.Graft$.table(Graft.scala:60)",
            "graft.queries.CoreQueries$.$anonfun$x$1(CoreQueries.scala:10)")
        self.assertEqual(module_of(cs), "graft")

    def test_entry_registry_is_queries(self):
        self.assertEqual(module_of("graft.SparkEntry$.x(SparkEntry.scala:3)"), "queries")
        self.assertEqual(module_of(
            "graft.queries.CoreQueries$.$anonfun$a$2(CoreQueries.scala:9)"), "queries")

    def test_no_graft_frame_is_the_bench_action(self):
        cs = self.frames(
            "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:1)",
            "graftbench.BatchWorkload$.run(Main.scala:116)")
        self.assertEqual(module_of(cs), "bench")

    def test_every_module_package(self):
        for m in ("ann", "functions", "operators", "streaming", "graph", "sources",
                  "multimodal"):
            self.assertEqual(module_of(f"graft.{m}.X$.f(X.scala:1)"), m)


class ReportTest(unittest.TestCase):
    def test_pool_thread_jobs_take_their_sql_execution_call_site(self):
        run = report.Run([
            {"kind": "job_start", "job": 1, "t": 0, "qid": "p1:x", "phase": "construct",
             "stages": [], "sql": "7",
             "callsite": "java.util.concurrent.FutureTask.run(FutureTask.java:264)"},
            {"kind": "job_end", "job": 1, "t": 5, "ok": True},
            {"kind": "sql_exec", "id": "7",
             "callsite": "graft.graph.Graph$.pageRank(Graph.scala:120)"}])
        self.assertEqual(report._jobs(run)[0]["module"], "graph")

    def test_warm_passes_are_not_timed(self):
        run = report.Run(
            [{"kind": "query", "pass": p, "entry": "e", "ok": True, "start": 0, "end": 10}
             for p in (-2, -1, 0, 1)])
        self.assertEqual([q["pass"] for q in report.timed_queries(run)], [0, 1])

    def test_cold_start_runs_to_the_first_timed_operation(self):
        batch = report.Run([{"kind": "pass", "pass": 0, "start": 9500.0, "end": 12000.0}])
        self.assertEqual(report.cold_start_s(batch, 1500.0), 8.0)
        stream = report.Run([{"kind": "open_loop", "start": 4000.0, "end": 9000.0}])
        self.assertEqual(report.cold_start_s(stream, 1500.0), 2.5)


class InputsTest(unittest.TestCase):
    def test_stream_generator_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            plan = (3, 2, 30, 50.0, 2, 5)
            inputs.stream_files(os.path.join(d, "a"), *plan)
            inputs.stream_files(os.path.join(d, "b"), *plan)
            inputs.stream_files(os.path.join(d, "c"), 4, *plan[1:])
            self.assertEqual(inputs.tree_digest(os.path.join(d, "a")),
                             inputs.tree_digest(os.path.join(d, "b")))
            self.assertNotEqual(inputs.tree_digest(os.path.join(d, "a")),
                                inputs.tree_digest(os.path.join(d, "c")))

    def test_stream_schedule_and_lateness(self):
        with tempfile.TemporaryDirectory() as d:
            inputs.stream_files(d, 11, 2, 40, 25.0, 1, 10)
            with open(os.path.join(d, "manifest.csv")) as fh:
                rows = [line.strip().split(",") for line in fh][1:]
            opens = [r for r in rows if r[1] == "open"]
            self.assertEqual(len(opens), 40)
            self.assertEqual([float(r[2]) for r in opens[:3]], [0.0, 25.0, 50.0])
            # no event is later than the grace allows relative to its file
            for i, r in enumerate(rows):
                base = inputs.EPOCH_MS + i * inputs.FILE_SPAN_MS
                with open(os.path.join(d, "events", r[0])) as fh:
                    for line in fh:
                        t = int(line.split(",")[3])
                        self.assertLess(t, base + inputs.FILE_SPAN_MS)
                        self.assertGreater(t, base - 5 * inputs.FILE_SPAN_MS
                                           - inputs.LATE_MAX_MS - 1)

    def test_relayout_keeps_content(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "src")
            os.makedirs(src)
            for i, name in enumerate(inputs.TABLES):
                t = pa.table({"id": list(range(i, i + 23)), "s": [f"v{j % 5}" for j in range(23)]})
                pq.write_table(t, os.path.join(src, f"{name}.parquet"))
            inputs.relayout(src, os.path.join(d, "a"), 5)
            for name in inputs.TABLES:
                self.assertEqual(inputs.content_digest(inputs.read_table(src, name)),
                                 inputs.content_digest(inputs.read_table(os.path.join(d, "a"),
                                                                         name)))
            self.assertEqual(len(os.listdir(os.path.join(d, "a", "orders.parquet"))),
                             inputs.FILES_PER_TABLE)


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_matches_the_report(self):
        with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
            d = json.load(fh)
        self.assertEqual([w["name"] for w in d["workloads"]], ["query_suite", "stream_open_loop"])
        self.assertEqual([m["name"] for m in d["end_to_end"]], list(report.END_TO_END))
        self.assertEqual([m["name"] for m in d["per_layer"]], list(report.PER_LAYER))
        for m in d["end_to_end"] + d["per_layer"]:
            self.assertEqual(m["unit"], report.unit_of(m["name"]), m["name"])

    def test_entry_lists(self):
        self.assertEqual(len(entries.HEADLINE), 177)
        self.assertEqual(len(set(entries.HEADLINE)), 177)
        for name in entries.SUITE:
            self.assertIn(name, entries.HEADLINE)


if __name__ == "__main__":
    unittest.main()
