"""DuckDB oracle check for the benchmark's row outputs.

Each row's Spark output (one parquet directory per row) is compared with
the row's `SparkEntry.oracleSql` query run in DuckDB over the same input
tables, as unordered multisets of rows with columns sorted by name and
floats printed to 12 significant digits: the rule the project's own
oracle gate applies.
"""
import concurrent.futures
import glob
import json
import multiprocessing
import os
import time

import duckdb
import pandas as pd

TABLES = ["documents", "embeddings", "events", "orders"]


def canon(df):
    """Sorted list of rows, each its cells' strings joined by NUL."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        return f"{v:.12g}" if isinstance(v, float) else str(v)
    return list(df.columns), sorted("\0".join(r) for r in df.map(norm).itertuples(index=False))


def compare(spark_df, duck_df):
    """None when the two frames hold the same rows, else the reason."""
    (ca, a), (cb, b) = canon(spark_df), canon(duck_df)
    if ca != cb:
        return f"schema spark={ca} duck={cb}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"values row{i}: spark={x.split(chr(0))} duck={y.split(chr(0))}"
    return None


def read_output(results_dir, row):
    files = sorted(glob.glob(os.path.join(results_dir, row, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files])


def check(data_dir, results_dir, rows, threads, corrupt=None):
    """({row: None | reason}, {row: seconds}) for every row; `corrupt`
    names a row whose output is deliberately damaged first (the
    benchmark's self-check). Rows are checked in up to `threads` worker
    processes, one DuckDB connection of `threads` threads each."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    jobs = [(data_dir, results_dir, row, oracles.get(row), row == corrupt, threads)
            for row in rows]
    workers = max(1, min(threads, len(rows)))
    # fork: the workers inherit the imported modules; no DuckDB
    # connection is open in this process when they start
    ctx = multiprocessing.get_context("fork")
    with concurrent.futures.ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        out = list(pool.map(_timed_verdict, jobs))
    return ({r: v for r, (v, _) in zip(rows, out)},
            {r: t for r, (_, t) in zip(rows, out)})


def _timed_verdict(job):
    data_dir, results_dir, row, sql, corrupt, threads = job
    t0 = time.time()
    con = duckdb.connect(config={"threads": threads})
    try:
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS FROM '{p}'")
        verdict = _verdict(con, sql, results_dir, row, corrupt)
    finally:
        con.close()
    return verdict, time.time() - t0


def _verdict(con, sql, results_dir, row, corrupt):
    out = read_output(results_dir, row)
    if out is None:
        return "no output"
    if corrupt:
        out = out.iloc[1:]
    if sql is None:
        return None if len(out) else "no oracle and no rows"
    try:
        return compare(out, con.sql(sql).df())
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"
