#!/usr/bin/env python3
"""Merge two graft.Bench outputs (sf0.1 + a ScaleGen dir) into the
BASELINE.md markdown ratio table. Usage:
  python3 tools/scale_table.py <sf01_log> <sf1_log>
Reads the `SCALEBENCH {json}` lines each log prints (two-pass min per
query) and emits the `| query | sf0.1 s | sf1 s | ratio | rows ... |`
rows in graft.Bench's (sorted query name) order.
"""
import json
import re
import sys


def parse(path):
    out = {}
    for line in open(path):
        m = re.search(r'SCALEBENCH (\{.*\})', line)
        if m:
            d = json.loads(m.group(1))
            out[d["query"]] = (d["sec"], d["rows"])
    return out


def main():
    a, b = parse(sys.argv[1]), parse(sys.argv[2])
    # first log's emission order = graft.Bench's sorted query order
    order = [q for q in a if q in b]
    print("| query | sf0.1 s | sf1 s | ratio | rows sf0.1 | rows sf1 |")
    print("| --- | --- | --- | --- | --- | --- |")
    ta = tb = 0.0
    for q in order:
        (sa, ra), (sb, rb) = a[q], b[q]
        ta += sa
        tb += sb
        print(f"| {q} | {sa:.2f} | {sb:.2f} | {sb / sa:.1f}× "
              f"| {ra} | {rb} |")
    print(f"| **total ({len(order)} queries)** | **{ta:.1f}** | **{tb:.1f}** "
          f"| **{tb / ta:.1f}×** | | |")


if __name__ == "__main__":
    main()
