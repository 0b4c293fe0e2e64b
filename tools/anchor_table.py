#!/usr/bin/env python3
"""Build the BASELINE.md three-point anchor table from three graft.Bench
logs (zsf0.1, zsf1, zsf10). Usage:
  python3 tools/anchor_table.py /tmp/sweep_zsf01.log /tmp/sweep_zsf1.log /tmp/sweep_zsf10.log
Prints the markdown table rows sorted by query name, plus totals and
the worst per-decade ratios."""
import json, re, sys

def parse(path):
    out = {}
    for line in open(path):
        if line.startswith("SCALEBENCH "):
            d = json.loads(line[len("SCALEBENCH "):])
            out[d["query"]] = d
    return out

a, b, c = (parse(p) for p in sys.argv[1:4])
names = sorted(set(a) & set(b) & set(c))
missing = sorted((set(a) | set(b) | set(c)) - set(names))
if missing:
    print(f"<!-- missing from some point: {missing} -->")
rows = []
for n in names:
    s1, s2, s3 = a[n]["sec"], b[n]["sec"], c[n]["sec"]
    g3 = c[n].get("gc_sec", 0.0)
    d1 = s2 / s1 if s1 > 0 else float("nan")
    d2 = s3 / s2 if s2 > 0 else float("nan")
    rows.append((n, s1, s2, s3, d1, d2, g3))
    print(f"| {n} | {s1:.2f} | {s2:.2f} | {s3:.2f} | {d1:.1f}x | {d2:.1f}x | {g3:.2f} |")
t1, t2, t3 = (sum(r[i] for r in rows) for i in (1, 2, 3))
print(f"\ntotals: {t1:.1f} / {t2:.1f} / {t3:.1f} s  "
      f"dec1 {t2/t1:.2f}x dec2 {t3/t2:.2f}x  rows={len(rows)}")
worst = sorted(rows, key=lambda r: -r[5])[:8]
print("worst dec2:", [(r[0], round(r[5], 1)) for r in worst])
