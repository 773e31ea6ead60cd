"""Unit checks of the benchmark's percentile, aggregation and JSON code.

    python3 -m unittest discover -s kgbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import report  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def span(name, group, op, start, end, rows=-1):
    return {"name": name, "group": group, "op": op, "start_ms": start, "end_ms": end,
            "wall_s": (end - start) / 1e3, "rows_out": rows}


def stage(sid, job, group, runs, **kw):
    s = {"id": sid, "job": job, "group": group, "task_run_ms": runs, "cpu_ns": 0, "gc_ms": 0,
         "shuffle_write_bytes": 0, "shuffle_write_records": 0, "spill_bytes": 0,
         "output_bytes": 0, "output_records": 0}
    s.update(kw)
    return s


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(report.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(report.median([1.0, 2.0, 3.0, 4.0]), 2.5)
        self.assertEqual(report.median([]), 0.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(report.tail_percentile(list(range(10))))
        # 11 samples: only a percentile at or below the smallest leaves 10 beyond
        self.assertEqual(report.tail_percentile(list(range(11)))[1:], (0, 11))

    def test_tail_is_highest_such_percentile(self):
        xs = [float(i) for i in range(1, 101)]  # 100 samples
        p, v, n = report.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)


class AggregationTest(unittest.TestCase):
    def test_covered_union_and_clip(self):
        self.assertEqual(report.covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(report.covered_ms([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(report.covered_ms([(50, 60)], 0, 40), 0)
        self.assertEqual(report.covered_ms([(0, 10), (2, 4)], 0, 100), 10)

    def trace(self):
        spans = [span("extract", "g1", 0, 1000, 2000, rows=7),
                 span("candidates", "g2", 0, 2000, 4000),
                 span("candidates", "g3", 0, 4000, 4500)]
        jobs = [{"id": 1, "group": "g1", "start_ms": 1100, "end_ms": 1600},
                {"id": 2, "group": "g2", "start_ms": 2000, "end_ms": 3000},
                # submitted from a thread without the group: attributed by time
                {"id": 3, "group": "", "start_ms": 3500, "end_ms": 3900},
                {"id": 4, "group": "kgbench-bookkeeping", "start_ms": 3600, "end_ms": 3700}]
        stages = [stage(10, 1, "g1", [100, 100, 400], cpu_ns=2 * 10**9, gc_ms=500),
                  stage(20, 2, "g2", [10, 30, 20], shuffle_write_records=30,
                        shuffle_write_bytes=1000, spill_bytes=5),
                  stage(21, 3, "", [300, 100], output_records=4, output_bytes=64),
                  stage(22, 4, "kgbench-bookkeeping", [999])]
        return {"spans": spans, "jobs": jobs, "stages": stages}

    def test_attribution(self):
        job_span, stage_span = report.attribute(self.trace())
        self.assertEqual(job_span, {1: 0, 2: 1, 3: 1})
        self.assertEqual(stage_span, {10: 0, 20: 1, 21: 1, 22: None})

    def test_span_stats(self):
        st = report.span_stats(self.trace())
        ex = st[(0, "extract")]
        self.assertEqual(ex["jobs"], 1)
        self.assertAlmostEqual(ex["driver_gap_s"], 0.5)
        self.assertAlmostEqual(ex["task_cpu_s"], 2.0)
        self.assertAlmostEqual(ex["task_gc_s"], 0.5)
        self.assertAlmostEqual(ex["max_task_skew"], 4.0)
        self.assertEqual(ex["rows_out"], 7)
        ca = st[(0, "candidates")]  # two calls in one op are summed
        self.assertEqual(ca["jobs"], 2)
        self.assertAlmostEqual(ca["wall_s"], 2.5)
        self.assertAlmostEqual(ca["driver_gap_s"], 2.5 - 1.4)
        # heaviest stage of the first call is stage 21 (400 ms): max 300 / median 200
        self.assertAlmostEqual(ca["max_task_skew"], 1.5)
        # rows fall back to the records the span wrote
        self.assertEqual(ca["rows_out"], 4)
        self.assertEqual(ca["shuffle_write_records"], 30)

    def test_per_layer_medians_and_extras(self):
        t = self.trace()
        t2 = json.loads(json.dumps(t))
        for s in t2["spans"]:  # a second traced op, 10 s later
            s["op"] = 1
            s["group"] += "b"
            s["start_ms"] += 10000
            s["end_ms"] += 10000
        for j in t2["jobs"]:
            j["id"] += 100
            j["start_ms"] += 10000
            j["end_ms"] += 10000
            if j["group"].startswith("g"):
                j["group"] += "b"
        for s in t2["stages"]:
            s["id"] += 100
            s["job"] += 100
            if s["group"].startswith("g"):
                s["group"] += "b"
        merged = {k: t[k] + t2[k] for k in t}
        rec = {"trace_data": merged,
               "ops": [{"wall_s": 2.0, "traced": False}, {"wall_s": 4.0, "traced": False},
                       {"wall_s": 3.3, "traced": True}]}
        m = report.per_layer(rec)
        self.assertEqual(set(m), {n for n, _, _ in report.PER_LAYER})
        self.assertAlmostEqual(m["extract.wall_s"]["value"], 1.0)
        self.assertEqual(m["candidates.jobs"]["value"], 2)
        self.assertAlmostEqual(m["candidates.records_per_row"]["value"], 30 / 4)
        self.assertAlmostEqual(m["trace_overhead"]["value"], 0.1)
        self.assertEqual(m["stream.delta.wall_s"]["value"], 0.0)  # never called
        self.assertEqual(m["extract.wall_s"]["unit"], "s")

    def test_end_to_end(self):
        rec = {"setup": {"session_s": 1.0, "input_s": [5.0, 2.0, 3.0], "warmup_s": [4.0],
                         "bootstrap_s": 0.5},
               "ops": [{"wall_s": 2.0, "docs": 10, "traced": False},
                       {"wall_s": 3.0, "docs": 10, "traced": False},
                       {"wall_s": 9.0, "docs": 10, "traced": True}],
               "quality": {"hit_at_1": 0.9, "hit_at_10": 0.95, "triple_precision": 1.0,
                           "triple_recall": 0.99},
               "context": {"peak_rss_mb": 512.0}}
        m = report.end_to_end(rec)
        self.assertAlmostEqual(m["setup_s"]["value"], 1.0 + 3.0 + 4.0 + 0.5)
        self.assertAlmostEqual(m["docs_per_sec"]["value"], 4.0)
        self.assertAlmostEqual(m["latency_p50_s"]["value"], 2.5)
        self.assertEqual(m["hit_at_10"]["value"], 0.95)
        self.assertEqual(m["docs_per_sec"]["unit"], "docs/s")


class RenderTest(unittest.TestCase):
    def record(self, ok=True):
        return {"setup": {"session_s": 1.0}, "context": {"peak_rss_mb": 1.0}, "quality": {},
                "ops": [{"wall_s": 1.5, "docs": 3, "traced": False}],
                "checks": [{"name": "a", "ok": True}, {"name": "b", "ok": ok}]}

    def test_line_shape(self):
        line = json.loads(report.result_line(self.record(), trace=False))
        self.assertEqual(list(line), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (True, 3, 0))
        self.assertEqual(line["metrics"]["latency_p50_s"], {"value": 1.5, "unit": "s"})

    def test_failed_check_counts(self):
        line = json.loads(report.result_line(self.record(ok=False), trace=False))
        self.assertEqual((line["correct"], line["failed"]), (False, 1))

    def test_traced_line_has_every_layer_metric(self):
        line = json.loads(report.result_line(self.record(), trace=True))
        self.assertEqual(set(line["metrics"]), {n for n, _, _ in report.PER_LAYER})

    def test_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         report.PER_LAYER)
        self.assertLessEqual(len(bench["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
