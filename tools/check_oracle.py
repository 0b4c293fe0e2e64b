#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark output) and runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir tables, then
compares as unordered multisets of rows with columns sorted by name.

Each result line carries `sha=`, the sha256 of the row's canonical
Spark frame (`canon`, serialized as CSV), so two runs' outputs are
compared by diffing that column:

    diff <(awk '{print $1, $2}' run_a.txt) <(awk '{print $1, $2}' run_b.txt)
"""
import sys, json, glob, os, hashlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: everything to string with float rounding already
    # applied upstream; sort rows for multiset compare
    def norm(v):
        if isinstance(v, float):
            return f"{v:.12g}"
        return str(v)
    out = df.map(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        if t == "events":
            # driver data stores ts as TIMESTAMP_NS (DuckDB truncates to
            # µs at scan); ScaleGen twins store epoch-ns BIGINT — view it
            # as the same µs-truncated timestamp so oracles run unchanged
            typ = con.sql(f"SELECT typeof(ts) FROM '{p}' LIMIT 1").fetchone()[0]
            if typ == "BIGINT":
                con.sql(f"CREATE VIEW {t} AS SELECT * REPLACE "
                        f"(make_timestamp(ts // 1000) AS ts) FROM '{p}'")
                continue
        con.sql(f"CREATE VIEW {t} AS FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    shas = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            results[name] = "NO_OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        a = canon(spark_df)
        shas[name] = hashlib.sha256(
            a.to_csv(index=False).encode()).hexdigest()
        if name not in oracles:
            results[name] = f"ROWS_ONLY rows={len(spark_df)}" + \
                (" EMPTY!" if len(spark_df) == 0 else "")
            continue
        try:
            duck_df = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        b = canon(duck_df)
        if list(a.columns) != list(b.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif len(a) != len(b):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(a)} duck={len(b)}"
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            idx = neq[neq].index[:3]
            diffs = []
            for i in idx:
                diffs.append(f"row{i}: spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}")
            results[name] = "VALUE_MISMATCH " + " | ".join(diffs)
        else:
            results[name] = f"OK rows={len(a)}"
    width = max(len(k) for k in results)
    n_ok = sum(1 for v in results.values() if v.startswith(("OK", "ROWS_ONLY")))
    for k, v in sorted(results.items()):
        sha = f"sha={shas.get(k, '-')}"
        print(f"{k:<{width}}  {sha:<68}  {v[:400]}")
    print(f"\n{n_ok}/{len(results)} passing")


if __name__ == "__main__":
    main()
