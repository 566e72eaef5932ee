"""Per-operation correctness checks, run after the timed region.

Analytics: each query's collected output is compared with the engine's DuckDB
oracle SQL (SparkEntry.oracleSql, exported by the JVM into result.json) over
the same parquet tables, with tools/check_oracle.py's rules: columns sorted
by name, rows sorted, floats compared bit for bit, other values as strings.
A query without oracle SQL must give the same output on every pass.

Ingest: every platform run must insert the generator's expected row count
and leave the watermarks the generator expects (which also proves the repeat
cycle inserts nothing and moves no watermark, and that no watermark moves
backward); each sink's final key set must equal the generator's.
"""
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen_ingest import SINK

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]) and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same(spark_df, duck_df):
    a, b = _norm(spark_df.copy()), _norm(duck_df.copy())
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
        else:
            eq = (pd.Series(av).astype(str) == pd.Series(bv).astype(str)).values
        if not eq.all():
            return False
    return True


def check_analytics(work, res):
    """op id ("<query>@<pass>") -> passed."""
    con = duckdb.connect()
    snap = os.path.join(work, "snap_1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{snap}/{t}.parquet')")
    expected = {}
    out = {}
    for o in res["ops"]:
        op = f"{o['name']}@{o['cycle']}"
        if o["error"]:
            out[op] = False
            continue
        q = o["name"]
        got = pq.read_table(os.path.join(work, "out", str(o["cycle"]), q)).to_pandas()
        if q not in expected:  # without oracle SQL, every pass must agree with the first
            sql = res["oracle"].get(q)
            expected[q] = con.sql(sql).df() if sql else got
        out[op] = same(got, expected[q])
    return out


def check_ingest(expected_path, res):
    """op id ("<platform>@<cycle>") -> passed."""
    with open(expected_path) as f:
        exp = json.load(f)
    cycles = exp["cycles"]
    nows = exp["now"]
    # the repeat cycle expects nothing inserted and nothing advanced
    noop = {p: {"inserted": 0, "advanced": []} for p in cycles[0]}
    wm = {p: {} for p in cycles[0]}
    out = {}
    for o in res["ops"]:
        k, p = o["cycle"], o["name"]
        want = cycles[k][p] if k < len(cycles) else noop[p]
        expect_wm = dict(wm[p])
        for cid in want["advanced"]:
            expect_wm[str(cid)] = nows[k] + ".0"
        got_wm = res["watermarks"][k][p]
        backward = any(got_wm.get(c, "") < v for c, v in wm[p].items())
        out[f"{p}@{k}"] = (not o["error"] and o["inserted"] == want["inserted"]
                           and got_wm == expect_wm and not backward)
        wm[p] = got_wm
    platforms_of = {}
    for p, sink in SINK.items():
        platforms_of.setdefault(sink, []).append(p)
    for sink, keys in exp["sinks"].items():
        if set(res["sink_keys"].get(sink, [])) != {k for k, _ in keys} or \
                len(res["sink_keys"].get(sink, [])) != len(keys):
            for op in out:  # a wrong final sink fails every run that wrote it
                if op.split("@")[0] in platforms_of[sink]:
                    out[op] = False
    return out

