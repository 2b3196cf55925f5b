"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import json
import math
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_linear_interpolation_between_closest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 3.7)

    def test_odd_count_median_is_the_middle_value(self):
        self.assertEqual(metrics.median([5.0, 1.0, 3.0]), 3.0)

    def test_single_and_empty(self):
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertIsNone(metrics.percentile([], 50))

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)

    def test_union_length_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


def classify(row, names):
    """The pipeline's first-error-wins validation cascade, re-stated over
    one parsed row (None = null)."""
    v = dict(zip(names, row))
    for key in gen.KEY_FIELDS:
        if v[key] is None:
            return "null_key"
    t = float(v["temperature_C"])
    if math.isnan(t):
        return "numeric"
    if not -50.0 <= t <= 50.0:
        return "range"
    if sum(x is None for x in row) >= int(len(names) * 0.5):
        return "heavy_null"
    return None


class GeneratorGroundTruth(unittest.TestCase):
    def parse(self, path):
        names = [c for c, _ in gen.SENSOR_COLUMNS]
        with open(path) as f:
            if path.endswith(".csv"):
                rows = list(csv.reader(f))
                self.assertEqual(rows[0], names)
                return names, [[x if x != "" else None for x in r] for r in rows[1:]]
            recs = [json.loads(line) for line in f]
            return names, [[r[c] for c in names] for r in recs]

    def test_planted_families_match_the_reported_counts(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.write_sensor_files(d, seed=7, n_files=4, rows=300, rate=2.0)
            self.assertEqual(truth["totals"]["files"], 4)
            for f in truth["files"]:
                names, rows = self.parse(os.path.join(d, f["name"]))
                self.assertEqual(len(rows), f["rows"])
                fams = [classify(r, names) for r in rows]
                for fam, k in gen.bad_counts(300).items():
                    self.assertEqual(fams.count(fam), k, (f["name"], fam))
                self.assertEqual(sum(x is not None for x in fams), f["bad"])
            t = truth["totals"]
            self.assertEqual(t["good"] + t["bad"], t["rows"])
            self.assertEqual(t["bad"], sum(t[fam] for fam in gen.FAMILIES))

    def test_every_second_file_is_json_and_due_times_follow_the_rate(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.write_sensor_files(d, seed=1, n_files=8, rows=100, rate=2.0)
            names = [f["name"] for f in truth["files"]]
            self.assertEqual([n.split(".")[-1] for n in names], ["csv", "json"] * 4)
            self.assertEqual([int(n.split(".")[2][1:]) for n in names],
                             [500 * i for i in range(8)])
            self.assertTrue(all(n.split(".")[0] == gen.STEM for n in names))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_sensor_files(a, seed=3, n_files=2, rows=50)
            gen.write_sensor_files(b, seed=3, n_files=2, rows=50)
            for n in sorted(os.listdir(a)):
                with open(os.path.join(a, n)) as fa, open(os.path.join(b, n)) as fb:
                    self.assertEqual(fa.read(), fb.read())


STACK = """org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1499)
graft.pipeline.Sinks$.writeQuarantine(Sinks.scala:171)
graft.pipeline.IngestPipeline$.processGroup(IngestPipeline.scala:97)
graft.streaming.FileWatch$.$anonfun$processBatch$2(FileWatch.scala:68)
perfbench.Main$Trickle.run(Main.scala:190)"""


class Attribution(unittest.TestCase):
    def test_innermost_graft_frame_is_the_issuer(self):
        self.assertEqual(metrics.issuer(STACK), "pipeline.Sinks.writeQuarantine")
        self.assertEqual(metrics.layer("pipeline.Sinks.writeQuarantine"), "pipeline.Sinks")

    def test_name_mangling_is_removed(self):
        self.assertEqual(
            metrics.issuer("graft.pipeline.IngestPipeline$ParquetSink.writeFact(I.scala:29)"),
            "pipeline.IngestPipeline.ParquetSink.writeFact")
        self.assertEqual(
            metrics.issuer("graft.streaming.FileWatch$.$anonfun$processBatch$2(F.scala:1)"),
            "streaming.FileWatch.processBatch")

    def test_no_graft_frame(self):
        self.assertIsNone(metrics.issuer("perfbench.Main$.main(Main.scala:1)"))
        self.assertEqual(metrics.layer(None), "unattributed")

    def test_group_split_and_stage_order(self):
        def ex(i, func):
            return {"id": i, "start": i, "end": i + 1, "func": func, "jobs": []}
        pg = "pipeline.IngestPipeline.processGroup"
        exs = [ex(0, "streaming.FileWatch.processBatch"), ex(1, pg), ex(2, pg),
               ex(3, "pipeline.Sinks.writeQuarantine"),
               ex(4, "pipeline.IngestPipeline.ParquetSink.writeFact"),
               ex(5, "pipeline.Sinks.writeAudit"), ex(6, pg), ex(7, pg),
               ex(8, "pipeline.Sinks.writeAudit")]
        gs = metrics.groups(exs)
        self.assertEqual([[st for _, st in g] for g in gs],
                         [["validate", "lineage", "quarantine", "fact_write", "audit"],
                          ["validate", "lineage", "audit"]])

    def test_per_layer_attributes_executions_to_functions(self):
        events = [
            {"kind": "exec_start", "id": 1, "t": 1000, "desc": "count at X",
             "details": STACK},
            {"kind": "exec_end", "id": 1, "t": 1500},
            {"kind": "job", "id": 0, "exec": 1, "start": 1100, "end": 1400, "stages": [0]},
            {"kind": "stage", "id": 0, "tasks": 4, "cpu_ns": 2e9, "gc_ms": 10,
             "in_bytes": 100, "sr_bytes": 0, "sw_bytes": 0, "spill": 0, "out_bytes": 5},
            {"kind": "storage", "mb": 3.0},
            {"kind": "span", "name": "window", "start_ms": 900, "end_ms": 2000},
        ]
        rec = {"completed": 2, "generator_lateness_ms": [1.0], "backlog_max_files": 1}
        names = ["spark.jobs", "spark.tasks", "spark.driver_gap_s", "storage.peak_mb",
                 "query.geomean_s"]
        vals, by_func = metrics.per_layer("ingest-trickle", rec, events, names, [])
        self.assertEqual(vals["spark.jobs"], 0.5)
        self.assertEqual(vals["spark.tasks"], 2.0)
        self.assertAlmostEqual(vals["spark.driver_gap_s"], 0.1)
        self.assertEqual(vals["storage.peak_mb"], 3.0)
        self.assertEqual(vals["query.geomean_s"], 0.0)
        self.assertEqual(by_func["pipeline.Sinks.writeQuarantine"]["jobs"], 1)


class EndToEnd(unittest.TestCase):
    def test_trickle_counts_unfinished_files_as_failed(self):
        rec = {"latency_s": [1.0, 2.0, 3.0], "files": 4, "completed": 3,
               "rows_per_file": 500, "window_s": 10.0, "setup_s": [9.0, 3.0]}
        m, attempted, failed = metrics.end_to_end("ingest-trickle", rec)
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(m["latency_p50_s"], 2.0)
        self.assertEqual(m["setup_s"], 6.0)

    def test_analytics_ops(self):
        rec = {"ops": [["q", 1.0], ["state.update", 3.0]], "setup_s": [5.0]}
        m, attempted, failed = metrics.end_to_end("analytics-mix", rec)
        self.assertEqual((attempted, failed), (2, 0))
        self.assertEqual(m["latency_mean_s"], 2.0)


if __name__ == "__main__":
    unittest.main()
