"""Aggregation of the harness's raw samples into benchmark metrics.

`summarize` turns one run's raw JSON (perfbench.Harness) into the
end-to-end metrics, the per-layer metrics and the workload's own named
metrics. Every timing is a median over the run's samples; the tail is
the highest percentile that leaves at least ten samples beyond it.
"""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n, beyond=10):
    """Highest whole percentile (at most 99) that leaves at least
    `beyond` of `n` samples above it, or None when n <= beyond."""
    if n <= beyond:
        return None
    return min(99, math.floor(100 * (n - beyond) / n))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs, beyond=10):
    """(percentile, value) of the highest percentile with `beyond`
    samples past it, or (None, None)."""
    p = tail_percentile(len(xs), beyond)
    return (p, percentile(xs, p)) if p is not None else (None, None)


END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}

# the operation each workload repeats; its median latency is printed on
# the named line (query_p50_ms, step_p50_s) and under tracing as
# trace.op_p50_ms
UNIT_OPS = {"interactive": "query", "daily_etl": "run"}

PER_LAYER_UNITS = {
    "queries.build_ms": "ms", "queries.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count", "catalyst.sorts": "count",
    "catalyst.window_exprs": "count", "catalyst.scans": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.wait_ms": "ms",
    "scheduler.slot_busy": "ratio",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.scan_bytes": "bytes", "exec.scan_rows": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew": "ratio",
    "jobs.etl_step_jobs": "count", "jobs.ingest_jobs_per_batch": "count",
    "jobs.ingest_ladder_s": "s",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.delta_batch_s": "s",
    "write.bytes_per_batch": "bytes", "write.files_per_batch": "count",
    "write.state_bytes_per_input_byte": "ratio",
    "write.bytes_per_day": "bytes",
    "cli.backfill_s": "s", "cli.run_s": "s", "cli.ml_train_s": "s",
    "cli.ml_predict_s": "s", "ml.train_tasks": "count",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "trace.op_p50_ms": "ms", "trace.pass_s": "s",
}

# span counter -> per-layer metric, summed per pass
PASS_SUMS = {
    "analysis_ms": "catalyst.analysis_ms",
    "optimization_ms": "catalyst.optimization_ms",
    "planning_ms": "catalyst.planning_ms",
    "plan_nodes": "catalyst.plan_nodes", "exchanges": "catalyst.exchanges",
    "sorts": "catalyst.sorts", "window_exprs": "catalyst.window_exprs",
    "scans": "catalyst.scans",
    "jobs": "scheduler.jobs", "stages": "scheduler.stages",
    "tasks": "scheduler.tasks", "wait_ms": "scheduler.wait_ms",
    "run_ms": "exec.run_ms", "cpu_ms": "exec.cpu_ms", "gc_ms": "exec.gc_ms",
    "scan_bytes": "exec.scan_bytes", "scan_rows": "exec.scan_rows",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "shuffle_read_bytes": "exec.shuffle_read_bytes",
    "spill_bytes": "exec.spill_bytes",
}


def span_pass(tag):
    """The pass a span belongs to. Tags: interactive
    `pass/query/build|action`, daily_etl `pass/verb` and `pass/ingest`."""
    return int(tag.split("/")[0])


def unit_op_ms(raw):
    """Latencies of the workload's successful unit operations."""
    kind = UNIT_OPS[raw["workload"]]
    return [o["ms"] for o in raw["ops"] if o["ok"] and o["kind"] == kind]


def per_layer(raw, cpus):
    w = raw["workload"]
    ops = [o for o in raw["ops"] if o["ok"]]
    spans = raw["spans"]
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    by_pass = {}
    for s in spans:
        acc = by_pass.setdefault(span_pass(s["tag"]), {})
        for c, v in s["c"].items():
            acc[c] = max(acc.get(c, 0.0), v) if c == "task_skew" \
                else acc.get(c, 0.0) + v
        acc["wall_ms"] = acc.get("wall_ms", 0.0) + s["wall_ms"]
    passes = list(by_pass.values())
    for c, name in PASS_SUMS.items():
        out[name] = median([p.get(c, 0.0) for p in passes])
    out["exec.task_skew"] = median([p.get("task_skew", 0.0) for p in passes])
    wall = sum(p["wall_ms"] for p in passes)
    if wall:
        out["scheduler.slot_busy"] = \
            sum(p.get("run_ms", 0.0) for p in passes) / (wall * cpus)
    n_passes = max(1, len(raw["passes_ms"]))
    out["jvm.gc_ms"] = raw["jvm"]["gc_ms"] / n_passes
    out["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    out["trace.op_p50_ms"] = median(unit_op_ms(raw))
    out["trace.pass_s"] = median(raw["passes_ms"]) / 1000

    if w == "interactive":
        out["queries.build_ms"] = median([o["build_ms"] for o in ops])
        out["queries.eager_jobs"] = median([
            sum(s["c"].get("jobs", 0.0) for s in spans
                if s["tag"].endswith("/build") and span_pass(s["tag"]) == k)
            for k in by_pass])
    else:
        def verb_spans(v):
            return [s for s in spans if s["tag"].endswith("/" + v)]
        out["jobs.etl_step_jobs"] = median(
            [s["c"].get("jobs", 0.0) for s in verb_spans("run")])
        out["write.bytes_per_day"] = median(
            [s["c"].get("write_bytes", 0.0) for s in verb_spans("run")])
        for v in ("backfill", "run", "ml-train", "ml-predict"):
            out[f"cli.{v.replace('-', '_')}_s"] = median(
                [o["ms"] for o in ops if o["kind"] == v]) / 1000
        out["ml.train_tasks"] = median(
            [s["c"].get("tasks", 0.0) for s in verb_spans("ml-train")])

        batches = [o for o in ops if o["kind"] == "batch"]
        out["jobs.ingest_jobs_per_batch"] = median(
            [j for s in verb_spans("ingest") for j in s["batch_jobs"]])
        out["jobs.ingest_ladder_s"] = median(
            [g["ladder_ms"] for g in raw["segments"]]) / 1000
        for c in ("add_batch_ms", "query_planning_ms", "wal_commit_ms"):
            out[f"streaming.{c}"] = median([o[c] for o in batches])
        # compaction runs on every 8th batch; a ladder has fewer
        out["streaming.delta_batch_s"] = median(
            [o["ms"] for o in batches]) / 1000
        out["write.bytes_per_batch"] = median(
            [o["write_bytes"] for o in batches])
        out["write.files_per_batch"] = median(
            [o["write_files"] for o in batches])
        if raw["info"].get("input_bytes") and "state_bytes" in raw["info"]:
            out["write.state_bytes_per_input_byte"] = \
                raw["info"]["state_bytes"] / raw["info"]["input_bytes"]
    return {k: (float(v), PER_LAYER_UNITS[k]) for k, v in out.items()}


def named(raw, rss_mb, error_rate, setup_s):
    """The workload's own metrics under their own names (query_p50_ms,
    step_p50_s, ...), as BENCHMARK.md lists them."""
    w = raw["workload"]
    ms = unit_op_ms(raw)
    out = {"setup_s": [setup_s, "s"], "error_rate": [error_rate, "ratio"],
           "peak_rss_mb": [rss_mb, "MB"]}
    passes = [p / 1000 for p in raw["passes_ms"]]
    if w == "interactive":
        p, v = tail(ms)
        out["query_p50_ms"] = [median(ms), "ms"]
        out[f"query_p{p}_ms" if p else "query_tail_ms"] = [v, "ms"]
        out["pass_s"] = [median(passes), "s"]
    else:
        segments = raw["segments"]
        batches = [o["ms"] for o in raw["ops"]
                   if o["ok"] and o["kind"] == "batch"]
        out["step_p50_s"] = [median(ms) / 1000, "s"]
        out["pipeline_s"] = [median([g["pipeline_ms"] for g in segments])
                             / 1000, "s"]
        out["batch_p50_s"] = [median(batches) / 1000, "s"]
        out["docs_per_s"] = [median([1000 * g["docs"] / g["ladder_ms"]
                                     for g in segments if g["ladder_ms"]]),
                             "docs/s"]
        out["pass_s"] = [median(passes), "s"]
    return out


def summarize(raw, rss_mb, cpus):
    ops, checks = raw["ops"], raw["checks"]
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks)
    attempted = max(1, len(ops) + len(checks))
    setup_s = median(raw["setup_ms"]) / 1000
    e2e = {"setup_s": setup_s, "pass_s": median(raw["passes_ms"]) / 1000,
           "peak_rss_mb": rss_mb}
    return {
        "attempted": attempted, "failed": failed,
        "end_to_end": {k: (float(v), END_TO_END_UNITS[k])
                       for k, v in e2e.items()},
        "per_layer": per_layer(raw, cpus) if raw["trace"] else {},
        "named": named(raw, rss_mb, failed / attempted, setup_s),
        "samples": {"ops": len(unit_op_ms(raw)),
                    "passes": len(raw["passes_ms"]),
                    "setups": len(raw["setup_ms"])},
    }
