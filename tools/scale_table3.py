#!/usr/bin/env python3
"""Merge three full-surface graft.Bench logs (zsf0.1 / zsf1 / zsf10)
into the BASELINE.md three-point anchor table with gc columns.
Usage: python3 tools/scale_table3.py <z01_log> <z1_log> <z10_log>
"""
import json, re, sys

def parse(path):
    out, order = {}, []
    for line in open(path):
        m = re.search(r'SCALEBENCH (\{.*\})', line)
        if m:
            d = json.loads(m.group(1))
            out[d["query"]] = d
            order.append(d["query"])
    return out, order

def main():
    a, order = parse(sys.argv[1])
    b, _ = parse(sys.argv[2])
    c, _ = parse(sys.argv[3])
    print("| query | zsf0.1 s | zsf1 s | zsf10 s | ×/dec₁ | ×/dec₂ | gc₁₀ s |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    ta = tb = tc = 0.0
    for q in order:
        if q not in b or q not in c:
            continue
        sa, sb, sc = a[q]["sec"], b[q]["sec"], c[q]["sec"]
        ta += sa; tb += sb; tc += sc
        g = c[q].get("gc_sec", 0.0)
        print(f"| {q} | {sa:.2f} | {sb:.2f} | {sc:.2f} | "
              f"{sb/sa:.1f} | {sc/sb:.1f} | {g:.1f} |")
    print(f"| **total ({len(order)})** | **{ta:.1f}** | **{tb:.1f}** | "
          f"**{tc:.1f}** | **{tb/ta:.2f}** | **{tc/tb:.2f}** | |")

if __name__ == "__main__":
    main()
