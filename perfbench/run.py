#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root; the Spark jars are $SPARK_HOME/jars, else the
directory build.sbt names as its unmanagedBase.
The first run builds the engine and the benchmark program into .bench_build/
(perfbench/build.sh); every run
generates its inputs from the seed under .bench_run/<workload>/, runs the
workload in one JVM (perfbench/scala), checks every operation's output
outside the timed region, and prints, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones
every workload measures, from the traced run. The line before it
("perfbench-detail ...") carries the failed ratio, the tail percentile, the
workload-specific numbers and, traced, the per-layer metrics of the layers
only this workload runs.
Exits 1 after the result when an output check failed, and 2, printing no
result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_ingest  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

BUILD = ".bench_build"
DEADLINE_S = 170
SETUP_REPS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    directory build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    for top in ("src/main", "perfbench/scala"):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield "perfbench/build.sh"


def build():
    if not os.path.isdir("src/main/scala"):
        fail("no engine sources (src/main/scala) in the working directory; run from the repository root")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest():
        return
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", "perfbench/build.sh"], stdout=sys.stderr, stderr=sys.stderr, timeout=850,
                       env={**os.environ, "SPARK_JARS": spark_jars()})
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())


def timed(f, *args):
    t0 = time.perf_counter()
    f(*args)
    return time.perf_counter() - t0


def prepare(work, name, spec, seed, seconds):
    """Generates the run's inputs SETUP_REPS times (each into a clean
    directory, timed) and returns the median generation time and the JVM
    arguments that follow the common ones."""
    reps = []
    if name == "ingest_spine":
        cycles = max(1, round(seconds * spec["general_cycles_per_10s"] / 10))
        for _ in range(SETUP_REPS):
            shutil.rmtree(os.path.join(work, "input"), ignore_errors=True)
            reps.append(timed(gen_ingest.generate, os.path.join(work, "input"), seed,
                              spec["companies"], cycles))
        gen_ingest.generate(os.path.join(work, "warm"), seed + 1, spec["warm_companies"], 0)
        return statistics.median(reps), [",".join(spec["warm_platforms"])]
    passes = max(1, round(seconds * spec["passes_per_10s"] / 10))
    data = os.path.join(work, "data")
    for _ in range(SETUP_REPS):
        shutil.rmtree(data, ignore_errors=True)
        reps.append(timed(gen_tables.write, data, seed, spec["sf"]))
    gen_tables.write(os.path.join(work, "tiny"), seed, spec["tiny_sf"])
    for p in range(1, passes + 1):  # one snapshot directory per pass, same files
        snap = os.path.join(work, f"snap_{p}")
        os.makedirs(snap)
        for f in os.listdir(data):
            os.link(os.path.join(data, f), os.path.join(snap, f))
    return statistics.median(reps), [",".join(spec["queries"]), str(passes), ",".join(spec["warm_queries"])]


def run_jvm(work, args, deadline):
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/spark-warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{BUILD}/classes:{spark_jars()}/*", "perfbench.Main", work] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"workload did not finish within {DEADLINE_S}s; see {work}/jvm.log")
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def quantile(samples, p, grid=4000):
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of all
    order statistics, far less jumpy than one order statistic when the
    operations' times cluster with gaps between them."""
    s = sorted(samples)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    xs = [(i + 0.5) / grid for i in range(grid)]
    dens = [math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x)) for x in xs]
    total = sum(dens)
    return sum(s[min(n - 1, int(x * n))] * d for x, d in zip(xs, dens)) / total


def tail_of(samples):
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    p = max(0.5, (n - 10) / n)
    return quantile(samples, p), 100.0 * p, n


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def end_to_end(name, res, gen_s):
    # every operation that did not fail: one query, or one platform run of any cycle
    ops = [o for o in res["ops"] if not o["error"]]
    if not ops:
        fail("every operation failed; see the work directory's jvm.log")
    secs = [o["s"] for o in ops]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    tail, pct, n = tail_of(secs)
    metrics = {
        "setup_s": (gen_s + res["setup_jvm_s"], "s"),
        "wall_s": (sum(o["s"] for o in res["ops"]), "s"),
        "op_p50_s": (quantile(secs, 0.5), "s"),
        "op_tail_s": (tail, "s"),
        "query_geomean_s": (geomean([statistics.median(v) for v in by_name.values()]), "s"),
        "retained_mb": (res["retained"]["retained_mb"], "MB"),
    }
    detail = {"op_tail_percentile": round(pct, 1), "op_samples": n}
    if name == "ingest_spine":
        phase = lambda p: sum(o["s"] for o in res["ops"] if o["phase"] == p)
        rows = sum(len(v) for v in res["sink_keys"].values())
        detail.update({
            "backfill_s": (phase("backfill"), "s"),
            "noop_cycle_s": (phase("noop"), "s"),
            "rows_per_s": (sum(max(0, o["inserted"]) for o in ops) / metrics["wall_s"][0], "1/s"),
            "sink_bytes_per_row": (res["sink_bytes"] / max(1, rows), "B"),
        })
    return metrics, detail


def as_metrics(d):
    return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    if a.workload not in conf["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(conf['workloads'])}")
    spec = conf["workloads"][a.workload]
    build()
    deadline = time.time() + DEADLINE_S  # the build, on a first run, is not counted
    work = os.path.join(".bench_run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_s, extra = prepare(work, a.workload, spec, a.seed, a.seconds)
    res = run_jvm(os.path.abspath(work),
                  [a.workload, str(a.seed), str(a.trace), str(conf["cores"])] + extra, deadline)
    if a.workload == "ingest_spine":
        checks = oracle.check_ingest(os.path.join(work, "input", "expected.json"), res)
    else:
        checks = oracle.check_analytics(work, res)
    attempted = len(res["ops"])
    failed = sum(1 for ok in checks.values() if not ok)
    for op, ok in checks.items():
        if not ok:
            print(f"perfbench: FAILED {op}", file=sys.stderr)
    metrics, detail = end_to_end(a.workload, res, gen_s)
    detail["failed_ratio"] = failed / attempted
    with open(os.path.join(work, "checks.json"), "w") as f:
        json.dump(checks, f, indent=1)
    if a.trace:
        full = layers.per_layer(res)
        full["trace.wall_s"] = (metrics["wall_s"][0], "s")
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": res["spans"], "per_layer": as_metrics(full)}, f)
        out = {k: full[k] for k in layers.COMMON}
        detail["layers"] = as_metrics({k: v for k, v in full.items()
                                       if k not in out and layers.applies(a.workload, k)})
    else:
        out = metrics
    detail_line = {k: ({"value": v[0], "unit": v[1]} if isinstance(v, tuple) else v)
                   for k, v in detail.items()}
    print("perfbench-detail " + json.dumps({"workload": a.workload, "seed": a.seed, **detail_line}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": as_metrics(out)}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
