"""Turns a run record written by kgbench.Bench into the benchmark's metrics.

Pure functions only (no Spark, no files), so they are unit-tested in
tests/test_report.py. The metric names defined here are the ones
BENCHMARK.json lists; the tests keep the two in step.
"""

import json
import statistics

# (name, unit, better) of every end-to-end metric, printed with --trace 0.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("docs_per_sec", "docs/s", "higher"),
    ("latency_p50_s", "s", "lower"),
    ("hit_at_1", "ratio", "higher"),
    ("hit_at_10", "ratio", "higher"),
    ("triple_precision", "ratio", "higher"),
    ("triple_recall", "ratio", "higher"),
]

BATCH_SPANS = ["ingest", "extract", "embed", "graph", "align", "candidates",
               "canon", "materialize"]
STREAM_SPANS = ["stream.stage", "stream.retract", "stream.delta",
                "stream.commit", "stream.compact"]
SPANS = BATCH_SPANS + STREAM_SPANS

# (field, unit, better) recorded for every span.
SPAN_FIELDS = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("task_gc_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("max_task_skew", "ratio", "lower"),
    ("rows_out", "count", "lower"),
]

EXTRA_LAYER = [
    ("candidates.records_per_row", "ratio", "lower"),
    ("materialize.output_bytes", "bytes", "lower"),
    ("stream.commit.output_bytes", "bytes", "lower"),
    ("trace_overhead", "ratio", "lower"),
]

PER_LAYER = [(f"{s}.{f}", u, b) for s in SPANS for f, u, b in SPAN_FIELDS] + EXTRA_LAYER


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, beyond=10):
    """The highest whole percentile p with at least `beyond` samples above
    its value, as (p, value, n); None when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    best = None
    for p in range(1, 100):
        # nearest-rank percentile
        rank = max(1, -(-p * n // 100))
        if n - rank >= beyond:
            best = (p, xs[rank - 1], n)
    return best


def setup_seconds(setup):
    """Session start + median input generation + warm-up + bootstrap."""
    return (setup.get("session_s", 0.0) + median(setup.get("input_s", []))
            + sum(setup.get("warmup_s", [])) + setup.get("bootstrap_s", 0.0))


def end_to_end(record):
    ops = [o for o in record["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    wall = sum(walls)
    q = record.get("quality", {})
    values = {
        "setup_s": setup_seconds(record["setup"]),
        "docs_per_sec": sum(o["docs"] for o in ops) / wall if wall > 0 else 0.0,
        "latency_p50_s": median(walls),
        "hit_at_1": q.get("hit_at_1", 0.0),
        "hit_at_10": q.get("hit_at_10", 0.0),
        "triple_precision": q.get("triple_precision", 0.0),
        "triple_recall": q.get("triple_recall", 0.0),
    }
    return {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}


def covered_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def attribute(trace):
    """Maps every job and stage to the span that caused it.

    A job carries the job group of the span that submitted it. Jobs
    submitted from engine threads that did not inherit the group carry
    none; they go to the span open when they started. Bookkeeping jobs
    carry a group no span owns and are dropped."""
    spans = trace["spans"]
    by_group = {s["group"]: i for i, s in enumerate(spans)}

    def by_time(t):
        for i, s in enumerate(spans):
            if s["start_ms"] <= t <= s["end_ms"]:
                return i
        return None

    job_span = {}
    for j in trace["jobs"]:
        if j["group"] in by_group:
            job_span[j["id"]] = by_group[j["group"]]
        elif j["group"] == "":
            job_span[j["id"]] = by_time(j["start_ms"])
    stage_span = {}
    for st in trace["stages"]:
        if st["group"] in by_group:
            stage_span[st["id"]] = by_group[st["group"]]
        else:
            stage_span[st["id"]] = job_span.get(st.get("job"))
    return job_span, stage_span


# One span's figures before any call is added; also what an absent span reads.
EMPTY_STATS = dict(wall_s=0.0, jobs=0, driver_gap_s=0.0, task_cpu_s=0.0, task_gc_s=0.0,
                   shuffle_write_bytes=0, spill_bytes=0, max_task_skew=0.0, rows_out=0,
                   shuffle_write_records=0, output_bytes=0)


def span_stats(trace):
    """Per (op, span name): the span fields plus the raw sums the extra
    metrics need, summed over the op's calls of that name."""
    spans = trace["spans"]
    job_span, stage_span = attribute(trace)
    per = [dict(jobs=0, intervals=[], task_cpu_s=0.0, task_gc_s=0.0, shuffle_write_bytes=0,
                shuffle_write_records=0, spill_bytes=0, output_bytes=0, output_records=0,
                max_task_skew=0.0, heaviest_ms=-1) for _ in spans]
    for j in trace["jobs"]:
        i = job_span.get(j["id"])
        if i is not None:
            per[i]["jobs"] += 1
            per[i]["intervals"].append((j["start_ms"], j["end_ms"]))
    for st in trace["stages"]:
        i = stage_span.get(st["id"])
        if i is None:
            continue
        p = per[i]
        p["task_cpu_s"] += st["cpu_ns"] / 1e9
        p["task_gc_s"] += st["gc_ms"] / 1e3
        for k in ("shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
                  "output_bytes", "output_records"):
            p[k] += st[k]
        runs = st["task_run_ms"]
        if runs and sum(runs) > p["heaviest_ms"]:
            p["heaviest_ms"] = sum(runs)
            p["max_task_skew"] = max(runs) / max(statistics.median(runs), 1.0)
    out = {}
    for s, p in zip(spans, per):
        key = (s["op"], s["name"])
        gap = s["wall_s"] - covered_ms(p["intervals"], s["start_ms"], s["end_ms"]) / 1e3
        rows = s["rows_out"] if s["rows_out"] >= 0 else p["output_records"]
        cur = out.setdefault(key, dict(EMPTY_STATS))
        cur["wall_s"] += s["wall_s"]
        cur["jobs"] += p["jobs"]
        cur["driver_gap_s"] += max(gap, 0.0)
        cur["rows_out"] += rows
        cur["max_task_skew"] = max(cur["max_task_skew"], p["max_task_skew"])
        for k in ("task_cpu_s", "task_gc_s", "shuffle_write_bytes", "spill_bytes",
                  "shuffle_write_records", "output_bytes"):
            cur[k] += p[k]
    return out


def per_layer(record):
    """Every per-layer metric: each span field is the median over the
    traced operations of that field summed over the op's calls; a span
    the workload never calls reads 0."""
    trace = record.get("trace_data") or {"spans": [], "jobs": [], "stages": []}
    stats = span_stats(trace)
    ops = sorted({op for op, _ in stats}) or [0]

    def series(name, fn):
        return [fn(stats.get((op, name), EMPTY_STATS)) for op in ops]

    values = {}
    for name in SPANS:
        for field, _, _ in SPAN_FIELDS:
            values[f"{name}.{field}"] = median(series(name, lambda s: s[field]))
    values["candidates.records_per_row"] = median(series(
        "candidates", lambda s: s["shuffle_write_records"] / s["rows_out"] if s["rows_out"] > 0 else 0.0))
    values["materialize.output_bytes"] = median(series("materialize", lambda s: s["output_bytes"]))
    values["stream.commit.output_bytes"] = median(series("stream.commit", lambda s: s["output_bytes"]))
    plain = median(o["wall_s"] for o in record["ops"] if not o["traced"])
    traced = median(o["wall_s"] for o in record["ops"] if o["traced"])
    values["trace_overhead"] = traced / plain - 1.0 if plain > 0 and traced > 0 else 0.0
    return {n: {"value": values[n], "unit": u} for n, u, _ in PER_LAYER}


def outcome(record):
    """(correct, attempted, failed): every operation and every check is
    attempted; a failed check (a mismatch or an exception) is a failure."""
    checks = record["checks"]
    failed = sum(1 for c in checks if not c["ok"])
    attempted = len(record["ops"]) + len(checks)
    return failed == 0, max(attempted, 1), failed


def result_line(record, trace):
    correct, attempted, failed = outcome(record)
    metrics = per_layer(record) if trace else end_to_end(record)
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics}, separators=(",", ":"))
