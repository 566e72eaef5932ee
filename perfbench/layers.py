"""Per-layer metrics from a traced run's spans.

Each span is one call into an engine layer made from the benchmark's code
(perfbench/scala/perfbench/Tracer.scala) and carries its inclusive Spark
counters. This module folds them into the named per-layer metrics. COMMON
names the ones every workload measures: they are BENCHMARK.json's per_layer
list, printed on the result line. The others apply to one kind of workload
(APPLIES) and go in the detail line, since a layer the workload never runs
would read a constant zero. LAYER_TABLE records which end-to-end metric each
layer metric should move, and on which workload.
"""
import statistics

PHASES = ("backfill", "general", "noop")
FAMILIES = ("CoreQueries", "NormQueries", "TextQueries", "DedupQueries", "AnnQueries",
            "AnnLake", "AnnGraphLake", "StreamQueries", "MultimodalQueries", "ExtQueries",
            "CurateQueries", "GraphQueries")
OP_METRICS = {"op.scan_s": "s", "op.shuffle_write_s": "s", "op.shuffle_bytes": "B",
              "op.agg_s": "s", "op.join_build_s": "s", "op.sort_s": "s", "op.spill_bytes": "B"}

COMMON = ("op.scan_s", "op.shuffle_write_s", "op.shuffle_bytes", "op.join_build_s",
          "spark.jobs", "spark.tasks", "spark.uncovered_s", "spark.sched_wait_s", "spark.task_s",
          "spark.gc_s", "materialize.jobs", "materialize.s", "trace.wall_s")
APPLIES = {"ingest_spine": ("ingest.", "op.", "spark.", "materialize."),
           "analytics": ("op.", "spark.", "materialize.", "streaming.", "analytics.")}

LAYER_TABLE = [
    {"layer": "ingest.control_scan.*, ingest.watermark.*", "moves": ["noop_cycle_s", "op_p50_s"],
     "workload": "ingest_spine"},
    {"layer": "ingest.fetch.*", "moves": ["backfill_s", "rows_per_s"], "workload": "ingest_spine"},
    {"layer": "ingest.normalize.*", "moves": ["backfill_s"], "workload": "ingest_spine"},
    {"layer": "ingest.sink.*", "moves": ["op_p50_s", "noop_cycle_s", "sink_bytes_per_row"],
     "workload": "ingest_spine"},
    {"layer": "op.*", "moves": ["wall_s", "query_geomean_s"],
     "workload": "analytics_single_pass (outside BENCHMARK.json), analytics_iterative, ingest_spine"},
    {"layer": "spark.*", "moves": ["query_geomean_s", "noop_cycle_s"],
     "workload": "analytics_iterative, ingest_spine"},
    {"layer": "materialize.*", "moves": ["query_geomean_s", "op_tail_s", "retained_mb"],
     "workload": "analytics_iterative"},
    {"layer": "streaming.*", "moves": ["op_tail_s"], "workload": "analytics_iterative"},
    {"layer": "analytics.<Family>.*", "moves": ["wall_s"], "workload": "analytics_iterative"},
]


def names():
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for layer in ("control_scan", "fetch", "sink", "watermark"):
        for p in PHASES:
            out[f"ingest.{layer}.s.{p}"] = "s"
    for p in PHASES:
        out[f"ingest.normalize.self_s.{p}"] = "s"
    out.update({
        "ingest.control_scan.jobs": "count",
        "ingest.watermark.rewrites": "count", "ingest.watermark.bytes_written": "B",
        "ingest.fetch.rows_scanned": "count", "ingest.fetch.rows_kept": "count",
        "ingest.fetch.keep_ratio": "ratio",
        "ingest.normalize.rows_dropped": "count",
        "ingest.sink.rows_offered": "count", "ingest.sink.rows_inserted": "count",
        "ingest.sink.insert_ratio": "ratio", "ingest.sink.files_written": "count",
        "ingest.sink.bytes_written": "B"})
    out.update(OP_METRICS)
    out.update({"spark.jobs": "count", "spark.tasks": "count", "spark.uncovered_s": "s",
                "spark.sched_wait_s": "s", "spark.task_s": "s", "spark.gc_s": "s",
                "materialize.jobs": "count", "materialize.s": "s", "materialize.blocks_end": "count",
                "streaming.micro_batches": "count", "streaming.batch_p50_ms": "ms",
                "streaming.add_batch_ms": "ms", "streaming.commit_ms": "ms",
                "streaming.state_rows": "count"})
    for f in FAMILIES:
        out.update({f"analytics.{f}.wall_s": "s", f"analytics.{f}.jobs": "count",
                    f"analytics.{f}.task_s": "s", f"analytics.{f}.uncovered_s": "s"})
    out["trace.wall_s"] = "s"
    return out


def _dur(s):
    return (s["end"] - s["start"]) / 1000.0


def per_layer(res):
    spans = res["spans"]
    top = [s for s in spans if s["parent"] < 0]
    v = {k: 0.0 for k in names()}

    def total(ss, key):
        return sum(s["counters"].get(key, 0.0) for s in ss)

    def attr(ss, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss)

    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    for layer in ("control_scan", "fetch", "sink", "watermark"):
        for p in PHASES:
            v[f"ingest.{layer}.s.{p}"] = sum(
                _dur(s) for s in by_name.get(f"ingest.{layer}", []) if s["labels"].get("phase") == p)
    for p in PHASES:
        v[f"ingest.normalize.self_s.{p}"] = sum(
            s["counters"]["self_s"] for s in by_name.get("ingest.normalize", [])
            if s["labels"].get("phase") == p)
    scans, fetches = by_name.get("ingest.control_scan", []), by_name.get("ingest.fetch", [])
    sinks, marks = by_name.get("ingest.sink", []), by_name.get("ingest.watermark", [])
    v["ingest.control_scan.jobs"] = total(scans, "jobs")
    v["ingest.watermark.rewrites"] = attr(marks, "rewrites")
    v["ingest.watermark.bytes_written"] = attr(marks, "bytes_written")
    v["ingest.fetch.rows_scanned"] = total(fetches, "input_rows")
    v["ingest.fetch.rows_kept"] = attr(fetches, "rows_kept")
    v["ingest.fetch.keep_ratio"] = v["ingest.fetch.rows_kept"] / max(1.0, v["ingest.fetch.rows_scanned"])
    v["ingest.normalize.rows_dropped"] = attr(by_name.get("ingest.normalize", []), "rows_dropped")
    for k in ("rows_offered", "rows_inserted", "files_written", "bytes_written"):
        v[f"ingest.sink.{k}"] = attr(sinks, k)
    v["ingest.sink.insert_ratio"] = v["ingest.sink.rows_inserted"] / max(1.0, v["ingest.sink.rows_offered"])
    for k in OP_METRICS:
        v[k] = total(top, k)
    for k in ("jobs", "tasks", "uncovered_s", "sched_wait_s", "task_s", "gc_s"):
        v[f"spark.{k}"] = total(top, k)
    v["materialize.jobs"] = total(top, "materialize.jobs")
    v["materialize.s"] = total(top, "materialize.s")
    v["materialize.blocks_end"] = res["retained"]["blocks"]
    for k in ("micro_batches", "add_batch_ms", "commit_ms", "state_rows"):
        v[f"streaming.{k}"] = total(top, f"streaming.{k}")
    p50 = [s["counters"]["streaming.batch_p50_ms"] for s in top if "streaming.batch_p50_ms" in s["counters"]]
    v["streaming.batch_p50_ms"] = statistics.median(p50) if p50 else 0.0
    for s in top:
        f = s["labels"].get("family")
        if f:
            v[f"analytics.{f}.wall_s"] += _dur(s)
            for k in ("jobs", "task_s", "uncovered_s"):
                v[f"analytics.{f}.{k}"] += s["counters"].get(k, 0.0)
    units = names()
    return {k: (float(v[k]), units[k]) for k in units if k != "trace.wall_s"}


def applies(workload, name):
    return name.startswith(APPLIES["ingest_spine" if workload == "ingest_spine" else "analytics"])
