#!/usr/bin/env python3
"""Self-checks for the benchmark.

    python3 perfbench/selfcheck.py

1. The same seed gives byte-identical inputs.
2. A different seed gives different inputs with the same row counts
   and the same planted-duplicate rates.
3. A deliberately wrong row result is counted as a failure: one run of
   the `lag_features` workload with one row's output damaged before the
   oracle check must report `correct: false` and `ok_frac` below 1.

Exits 0 when every check holds.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SIZES = {"documents": 3000, "embeddings": 1000, "events": 20000, "orders": 3000}


def planted(d):
    """Counts of the planted structure in one generated input dir."""
    docs = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
    seen = {}
    exact = near = 0
    for t in docs:
        exact += t in seen
        seen[t] = True
    for t in docs:
        near += t.endswith(" extra") and t[:-len(" extra")] in seen
    emb = np.array(pq.read_table(os.path.join(d, "embeddings.parquet"))
                   .column("embedding").to_pylist(), dtype=np.float64)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    twins = int((np.sum(unit[:-1] * unit[1:], axis=1) > 0.99).sum())
    ts = pq.read_table(os.path.join(d, "events.parquet")).column("ts").to_numpy()
    return {"exact_copies": exact, "near_copies": near, "vector_twins": twins,
            "unique_ts": len(np.unique(ts)) == len(ts)}


def counts(d):
    return {t: pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows for t in SIZES}


def main():
    work = os.path.join(run.BUILD, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    a, b, c = (os.path.join(work, n) for n in ("a", "b", "c"))
    gen.generate(a, 7, SIZES)
    gen.generate(b, 7, SIZES)
    gen.generate(c, 8, SIZES)
    files = sorted(os.listdir(a))
    checks = {}
    checks["same seed, identical bytes"] = all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files)
    checks["other seed, other bytes"] = not any(
        filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False) for f in files)
    checks["other seed, same row counts"] = counts(a) == counts(c) == SIZES
    pa_, pc = planted(a), planted(c)
    print(f"planted structure: seed 7 {pa_}, seed 8 {pc}")
    checks["other seed, same planted rates"] = pa_ == pc and pa_["unique_ts"]
    shutil.rmtree(work, ignore_errors=True)

    wl = "lag_features"
    row = "lag_1d"
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "1",
         "--seconds", "2", "--trace", "0", "--corrupt-row", row],
        capture_output=True, text=True)
    res = json.loads(out.stdout.strip().splitlines()[-1]) if out.returncode == 0 else None
    if res:
        print(f"damaged {row}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} ok_frac={res['metrics']['ok_frac']['value']:.4f}")
    checks["wrong row result counted"] = bool(res) and not res["correct"] and \
        res["failed"] > 0 and res["metrics"]["ok_frac"]["value"] < 1.0

    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
