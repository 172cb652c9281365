"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def site(*frames):
    """A long-form call site: the last Spark method, then user frames."""
    return "\n".join(("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",)
                     + frames)


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(layers.tail_percentile(0))
        self.assertIsNone(layers.tail_percentile(10))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(layers.tail_percentile(100), 90)
        self.assertEqual(layers.tail_percentile(1000), 99)
        self.assertEqual(layers.tail_percentile(11), 9)
        for n in range(11, 400):
            p = layers.tail_percentile(n)
            beyond = n - (-(-p * n // 100))
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher would leave fewer than ten beyond
            self.assertLess(n - (-(-(p + 1) * n // 100)), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(layers.percentile(xs, 90), 90)
        self.assertEqual(layers.percentile(xs, 50), 50)
        self.assertEqual(layers.percentile([7], 99), 7)
        self.assertEqual(run.tail([5.0] * 3 + [9.0]), (100, 9.0))


class SelfTime(unittest.TestCase):
    def test_nested_children(self):
        self.assertEqual(layers.self_time(0, 100, [(10, 20), (12, 18)]), 90)

    def test_overlapping_children_count_once(self):
        self.assertEqual(layers.self_time(0, 100, [(10, 30), (20, 40)]), 70)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(layers.self_time(0, 100, [(-5, 10), (90, 120)]), 80)

    def test_no_children(self):
        self.assertEqual(layers.self_time(3, 7, []), 4)

    def test_union_length(self):
        self.assertEqual(layers.union_length([(0, 1), (1, 2), (5, 6)]), 3)


class CallSiteModule(unittest.TestCase):
    def test_innermost_engine_frame(self):
        s = site("graft.etl.StatsIndex$.buildRows(StatsIndex.scala:120)",
                 "graft.etl.Snapshots$.merge(Snapshots.scala:2850)",
                 "perfbench.CdcMedallion.cycle(CdcMedallion.scala:94)")
        self.assertEqual(layers.module_of_site(s), "etl.stats_index")

    def test_snapshot_operation_is_the_public_entry(self):
        s = site("graft.etl.Snapshots$.$anonfun$dvOf$1(Snapshots.scala:900)",
                 "scala.Option.map(Option.scala:242)",
                 "graft.etl.Snapshots$.mergeBody(Snapshots.scala:2900)",
                 "graft.etl.Snapshots$.merge(Snapshots.scala:2850)",
                 "perfbench.CdcMedallion.cycle(CdcMedallion.scala:94)")
        self.assertEqual(layers.module_of_site(s), "etl.snapshots.merge")
        s = site("graft.etl.Snapshots$.deleteWhere(Snapshots.scala:2100)",
                 "perfbench.CdcMedallion.cycle(CdcMedallion.scala:101)")
        self.assertEqual(layers.module_of_site(s), "etl.snapshots.delete")

    def test_sink_inside_ingest(self):
        s = site("graft.etl.Load$.upsert(Load.scala:98)",
                 "graft.etl.ParquetUpsertSink.upsert(Sinks.scala:23)",
                 "graft.streaming.Ingest$.ingestBatch(Ingest.scala:168)")
        self.assertEqual(layers.module_of_site(s), "etl.load")

    def test_benchmark_frame_first_means_no_engine_module(self):
        s = site("perfbench.LlmCuration.cycle(LlmCuration.scala:55)",
                 "graft.llm.Pq$.indexTopK(Pq.scala:270)")
        self.assertIsNone(layers.module_of_site(s))
        self.assertIsNone(layers.module_of_site(""))

    def test_job_falls_back_to_execution_site_then_span(self):
        broadcast = site("java.base/java.lang.Thread.run(Thread.java:840)")
        job = {"site": broadcast, "span": 7,
               "exec_site": site("graft.llm.SemDedup$.kmeansAssign(SemDedup.scala:200)")}
        self.assertEqual(layers.job_module(job, {7: "llm.pq"}), "llm.semdedup")
        job["exec_site"] = ""
        self.assertEqual(layers.job_module(job, {7: "llm.pq"}), "llm.pq")

    def test_every_mapped_module_is_known(self):
        self.assertLessEqual(set(layers.CLASS_MODULE.values()), set(layers.MODULES))
        for op in set(layers.SNAPSHOT_OPS.values()):
            self.assertIn(f"etl.snapshots.{op}", layers.MODULES)


class LayerMetrics(unittest.TestCase):
    def test_span_with_own_and_delegated_jobs(self):
        spans = [{"id": 0, "parent": -1, "name": "op.write", "start": 0, "end": 100},
                 {"id": 1, "parent": 0, "name": "etl.snapshots.merge", "start": 0, "end": 100}]
        own = site("graft.etl.Snapshots$.merge(Snapshots.scala:1)")
        stats = site("graft.etl.StatsIndex$.build(StatsIndex.scala:1)",
                     "graft.etl.Snapshots$.merge(Snapshots.scala:1)")
        zero = dict(task_ms=0, shuffle_bytes=0, spill_bytes=0, bytes_written=0, rows_out=0)
        jobs = [dict(span=1, start=10, end=30, site=own, exec_site="", **zero),
                dict(span=1, start=50, end=70, site=stats, exec_site="", **zero)]
        jobs[0]["task_ms"] = 40
        m = layers.layer_metrics(spans, jobs, cycles=2)
        self.assertEqual(m["etl.snapshots.merge.wall_ms"], 50)
        self.assertEqual(m["etl.snapshots.merge.self_ms"], 40)   # (100 - 20) / 2
        self.assertEqual(m["etl.snapshots.merge.driver_gap_ms"], 30)  # (100 - 40) / 2
        self.assertEqual(m["etl.snapshots.merge.jobs"], 0.5)
        self.assertEqual(m["etl.snapshots.merge.task_ms"], 20)
        self.assertEqual(m["etl.stats_index.jobs"], 0.5)
        self.assertEqual(m["etl.stats_index.wall_ms"], 10)


class MetricNames(unittest.TestCase):
    def test_names(self):
        self.assertTrue(layers.valid_name("etl.snapshots.merge.jobs"))
        for bad in ("", "a b", "x/y", ".lead", "a" * 65, "p50:ms"):
            self.assertFalse(layers.valid_name(bad), bad)

    def test_layer_keys_are_valid(self):
        for k in run.LAYER_KEYS:
            self.assertTrue(layers.valid_name(k), k)

    def test_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
                [w["name"] for w in b["workloads"]]
        for n in names:
            self.assertTrue(layers.valid_name(n), n)
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(b["per_layer"]), 128)
        self.assertEqual(set(run.LAYER_KEYS) | set(run.EXTRA_LAYER_KEYS),
                         {m["name"] for m in b["per_layer"]})


if __name__ == "__main__":
    unittest.main()
