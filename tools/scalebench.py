#!/usr/bin/env python3
"""Tabulate graft.Bench logs side by side as a markdown table.

Usage: python3 tools/scalebench.py [label=]log [label=]log ...

Reads the `SCALEBENCH {json}` lines of each log (one per row, the
faster of Bench's two passes) and prints, for the rows present in
every log and in the first log's order: each log's seconds, the ratio
of each log's seconds to the previous log's, each log's result rows,
jobs and eager jobs (jobs submitted before the row's builder returned;
`-` for logs written before Bench reported them), then a total row.
A label defaults to the basename of the sf dir the log ran on; give
`sf1=zsf1.log` to name a ScaleGen twin's column.
"""
import json
import os
import re
import sys


def parse(path):
    rows = {}
    for line in open(path):
        m = re.search(r"SCALEBENCH (\{.*\})", line)
        if m:
            d = json.loads(m.group(1))
            rows[d["query"]] = d
    return rows


def ratio(a, b):
    return f"{b / a:.1f}×" if a > 0 else "nan"


def main(args):
    if not args:
        sys.exit(__doc__)
    labels, logs = [], []
    for arg in args:
        label, sep, path = arg.partition("=")
        if not sep:
            label, path = "", arg
        rows = parse(path)
        if not label:
            sf = next(iter(rows.values()), {}).get("sf", path)
            label = os.path.basename(sf.rstrip("/"))
        labels.append(label)
        logs.append(rows)
    order = [q for q in logs[0] if all(q in log for log in logs)]
    missing = sorted(set().union(*logs) - set(order))
    if missing:
        print(f"<!-- missing from some log: {', '.join(missing)} -->")
    pairs = list(zip(labels, labels[1:]))
    head = ([f"{l} s" for l in labels] + [f"{b}/{a}" for a, b in pairs]
            + [f"rows {l}" for l in labels] + [f"jobs {l}" for l in labels]
            + [f"eager {l}" for l in labels])
    print("| query | " + " | ".join(head) + " |")
    print("| --- " * (len(head) + 1) + "|")
    for q in order:
        d = [log[q] for log in logs]
        cells = ([f"{x['sec']:.2f}" for x in d]
                 + [ratio(a["sec"], b["sec"]) for a, b in zip(d, d[1:])]
                 + [str(x["rows"]) for x in d]
                 + [str(x.get("jobs", "-")) for x in d]
                 + [str(x.get("eager_jobs", "-")) for x in d])
        print(f"| {q} | " + " | ".join(cells) + " |")
    tot = [sum(log[q]["sec"] for q in order) for log in logs]
    cells = ([f"**{t:.1f}**" for t in tot]
             + [f"**{ratio(a, b)}**" for a, b in zip(tot, tot[1:])]
             + [""] * (3 * len(logs)))
    print(f"| **total ({len(order)} queries)** | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
