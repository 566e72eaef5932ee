#!/usr/bin/env python3
"""Compares benchmark runs.

    python3 perfbench/compare.py <parent_dir> <change_dir>
    python3 perfbench/compare.py --spread <runs_dir>

Each directory holds the captured stdout of runs of perfbench/run.py, one
file per run (the "perfbench-detail" line names the workload and seed; the
last line is the result). Runs of the two sides are paired by workload and
seed.

For every workload and metric (the end-to-end metrics of BENCHMARK.json and
the workload-specific numbers of the detail line) the comparison prints each
side's median and quartiles, the share of pairs the change won (ties count
for neither side), both sides' failed ratio, and a verdict:
  improved      the change won at least 9/10 of at least 10 pairs and the
                medians differ by more than the parent's quartile spread
  regressed     the change's median is worse than the parent's by more than
                the metric's bound
  unresolved    the parent's own quartile spread is wider than the bound,
                unless every change run beat every parent run
  within bound  otherwise
--spread prints, for one set of runs, each metric's median and its quartile
spread as a share of the median: the figure the bound is checked against.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# workload-specific numbers from the detail line: (better, bound)
DETAIL = {"backfill_s": ("lower", 0.1), "noop_cycle_s": ("lower", 0.1),
          "rows_per_s": ("higher", 0.1), "sink_bytes_per_row": ("lower", 0.1)}


def load_runs(d):
    """workload -> seed -> {metric: value}, plus failed ratios."""
    runs = {}
    for name in sorted(os.listdir(d)):
        detail, result = None, None
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("perfbench-detail "):
                    detail = json.loads(line[len("perfbench-detail "):])
                elif line.startswith("{"):
                    result = json.loads(line)
        if not detail or not result:
            continue
        vals = {k: m["value"] for k, m in result["metrics"].items()}
        vals.update({k: v["value"] for k, v in detail.items() if isinstance(v, dict) and "value" in v})
        vals["failed_ratio"] = detail["failed_ratio"]
        runs.setdefault(detail["workload"], {})[detail["seed"]] = vals
    return runs


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    specs.update(DETAIL)
    return specs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound):
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    spread = p3 - p1
    worse = sign * (cm - pm)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and -worse > spread:
        v = "improved"
    elif worse > bound * abs(pm):
        v = "regressed"
    elif spread > bound * abs(pm) and not all(sign * (p - c) > 0 for p in parent for c in change):
        v = "unresolved"
    else:
        v = "within bound"
    return wins / max(1, len(pairs)), v


def fmt(q):
    return "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])


def compare(pdir, cdir):
    specs = metric_specs()
    parent, change = load_runs(pdir), load_runs(cdir)
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        if not seeds:
            print(f"== {w}: no seed was run on both sides")
            continue
        fr = [statistics.mean(side[w][s]["failed_ratio"] for s in seeds) for side in (parent, change)]
        print(f"== {w}: {len(seeds)} pairs; failed_ratio parent {fr[0]:.3f} change {fr[1]:.3f}")
        print(f"{'metric':<20} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} {'won':>5}  verdict")
        for m, (better, bound) in specs.items():
            if m not in parent[w][seeds[0]]:
                continue
            pv = [parent[w][s][m] for s in seeds]
            cv = [change[w][s][m] for s in seeds]
            won, v = verdict(pv, cv, better, bound)
            print(f"{m:<20} {fmt(quartiles(pv)):<30} {fmt(quartiles(cv)):<30} {won:>5.0%}  {v}")


def spread(d):
    specs = metric_specs()
    for w, by_seed in sorted(load_runs(d).items()):
        print(f"== {w}: {len(by_seed)} runs; failed_ratio max "
              f"{max(v['failed_ratio'] for v in by_seed.values()):.3f}")
        for m, (_, bound) in specs.items():
            xs = [v[m] for v in by_seed.values() if m in v]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            share = (q3 - q1) / med if med else float("nan")
            flag = "" if share < bound / 3 else "  (over a third of the bound)"
            print(f"{m:<20} median {med:<12.5g} spread {share:6.3f}  bound {bound}{flag}")


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--spread":
        spread(sys.argv[2])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
