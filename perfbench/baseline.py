#!/usr/bin/env python3
"""Writes perfbench/baseline.json: this commit's reference figures.

    python3 perfbench/baseline.py <runs_dir> <trace_dir>

<runs_dir> holds captured stdout files of untraced runs (as for compare.py);
<trace_dir> holds traced runs, each the `trace.json` that run.py leaves in
.bench_run/<workload>/, renamed <workload>.trace<anything>.json. The
baseline records, per workload: the end-to-end medians and quartiles, the
first traced run's per-layer metrics, the tracing overhead (median traced
wall_s over the untraced median), and for the analytics workloads that
run's per-query spans (time, jobs, materializations and the call sites of
their jobs), which is where a shared build shows on the query that paid for
it. It also records which end-to-end metric each layer metric should move
(layers.LAYER_TABLE).
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import layers  # noqa: E402


def query_spans(spans):
    out = {}
    for s in spans:
        q = s["labels"].get("query")
        if q and s["parent"] < 0:
            out.setdefault(q, []).append({
                "pass": int(s["labels"]["pass"]),
                "s": round((s["end"] - s["start"]) / 1000.0, 4),
                "jobs": int(s["counters"].get("jobs", 0)),
                "materialize_jobs": int(s["counters"].get("materialize.jobs", 0)),
                "materialize_sites": s["materialize_sites"],
                "job_sites": s["job_sites"]})
    return {q: sorted(v, key=lambda x: x["pass"]) for q, v in sorted(out.items())}


def main(runs_dir, trace_dir):
    runs = compare.load_runs(runs_dir)
    out = {"layer_table": layers.LAYER_TABLE, "workloads": {}}
    for w, by_seed in sorted(runs.items()):
        e2e = {}
        for m in next(iter(by_seed.values())):
            q1, med, q3 = compare.quartiles([v[m] for v in by_seed.values()])
            e2e[m] = {"median": med, "q1": q1, "q3": q3}
        entry = {"runs": len(by_seed), "seeds": sorted(by_seed), "end_to_end": e2e}
        traces = []
        for name in sorted(os.listdir(trace_dir)):
            if name.startswith(f"{w}.trace") and name.endswith(".json"):
                with open(os.path.join(trace_dir, name)) as f:
                    traces.append(json.load(f))
        if traces:
            entry["per_layer"] = {k: v["value"] for k, v in traces[0]["per_layer"].items()}
            walls = [t["per_layer"]["trace.wall_s"]["value"] for t in traces]
            entry["traced_runs"] = len(traces)
            entry["tracing_overhead"] = statistics.median(walls) / e2e["wall_s"]["median"] - 1
            if w != "ingest_spine":
                entry["query_spans"] = query_spans(traces[0]["spans"])
        out["workloads"][w] = entry
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
