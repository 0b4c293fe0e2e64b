#!/usr/bin/env python3
"""List the public and private[graft] defs in src/main that nothing in
src/main or perfbench/src calls.

Usage: python3 tools/unreached_defs.py [repoRoot]

A def counts as reached when its name appears as a whole word on a
non-comment line of src/main or perfbench/src other than its own def
line. Each unreached def prints as `path:line name tests=N`, N being
the same count over src/test; the total goes to stderr.

The count is by NAME: a def whose name another def or a local also
uses reads as reached, so an empty list is not a proof that nothing
is test-only.
"""
import os
import re
import sys

root = sys.argv[1] if len(sys.argv) > 1 else "."
SKIP = {"main", "apply", "unapply", "toString", "equals", "hashCode"}
DEF = re.compile(
    r"^\s*((?:override\s+|final\s+|implicit\s+|@\w+\s+)*)"
    r"(private\[\w+\]\s+|protected\s+|private\s+)?"
    r"(?:final\s+|implicit\s+|override\s+)*def\s+([A-Za-z_]\w*)")


def sources(d):
    out = []
    for dp, _, fs in os.walk(os.path.join(root, d)):
        out += [os.path.join(dp, f) for f in fs
                if f.endswith((".scala", ".java"))]
    return sorted(out)


def code_lines(path):
    """(line number, text) of the lines outside comments."""
    res, in_block = [], False
    for i, line in enumerate(open(path, encoding="utf-8"), 1):
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s
            continue
        if s.startswith(("*", "//")):
            continue
        res.append((i, re.sub(r"//.*$", "", line)))
    return res


main = {p: code_lines(p) for p in sources("src/main") + sources("perfbench/src")}
test = {p: code_lines(p) for p in sources("src/test")}


def refs(name, corpus, skip=None):
    word = re.compile(r"(?<!\w)" + re.escape(name) + r"(?!\w)")
    return sum(len(word.findall(l)) for p, ls in corpus.items()
               for i, l in ls if (p, i) != skip)


n = 0
for p in sources("src/main"):
    for i, line in main[p]:
        m = DEF.match(line)
        if not m or "override" in (m.group(1) or ""):
            continue
        vis = (m.group(2) or "").strip()
        if vis in ("private", "protected") or (
                vis.startswith("private[") and vis != "private[graft]"):
            continue
        name = m.group(3)
        if name in SKIP or refs(name, main, (p, i)):
            continue
        n += 1
        print(f"{os.path.relpath(p, root)}:{i} {name} tests={refs(name, test)}")
print(f"TOTAL {n}", file=sys.stderr)
