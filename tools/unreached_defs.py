#!/usr/bin/env python3
"""List the public and private[graft] defs in src/main that nothing in
src/main or perfbench/src calls.

Usage: python3 tools/unreached_defs.py [repoRoot]

A def that is a member of an `object Obj` counts as reached when a
non-comment line of src/main or perfbench/src other than its own def
line uses it as `Obj.name`, or uses the bare name in the def's own
file or in a file that imports `Obj._` or `Obj.{..., name, ...}`. A
def of a class or trait (called through an instance) counts as
reached when its name appears there as a whole word at all. Each
unreached def prints as `path:line name tests=N`, N being the same
count over src/test; the total goes to stderr.

Class and trait members are still counted by NAME, and so is a bare
use in the def's own file: a reused name there reads as reached, so
an empty list is not a proof that nothing is test-only.
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


STRING = re.compile(r'(\w*)"((?:\\.|[^"\\])*)"')


def blank(m):
    """A one-line string literal keeps only its interpolated names."""
    if not m.group(1):
        return '""'
    return " ".join(re.findall(r"\$\{[^}]*\}|\$\w+", m.group(2)))


def code_lines(path):
    """(line number, text) of the lines outside comments, with the text
    of one-line string literals blanked."""
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
        res.append((i, re.sub(r"//.*$", "", STRING.sub(blank, line))))
    return res


main = {p: code_lines(p) for p in sources("src/main") + sources("perfbench/src")}
test = {p: code_lines(p) for p in sources("src/test")}


def refs(name, corpus, skip=None, owner=None, home=None):
    """Uses of `name` in `corpus`. With `owner` (the def's object), a
    bare use counts only in `home` (the def's file) or in a file that
    imports it from the owner; elsewhere it must read `owner.name`."""
    word = re.compile(r"(?<!\w)" + re.escape(name) + r"(?!\w)")
    if owner is None:
        return sum(len(word.findall(l)) for p, ls in corpus.items()
                   for i, l in ls if (p, i) != skip)
    qual = re.compile(r"(?<!\w)" + re.escape(owner) + r"\s*\.\s*"
                      + re.escape(name) + r"(?!\w)")
    imp = re.compile(r"^\s*import\s.*(?<!\w)" + re.escape(owner)
                     + r"\.(_|\{[^}]*(?<!\w)" + re.escape(name)
                     + r"(?!\w)[^}]*\}|" + re.escape(name) + r"(?!\w))")
    n = 0
    for p, ls in corpus.items():
        bare = p == home or any(imp.match(l) for _, l in ls)
        for i, l in ls:
            if (p, i) != skip:
                n += len((word if bare else qual).findall(l))
    return n


TEMPLATE = re.compile(r"^(\s*)(?:[\w\[\]]+\s+)*(object|class|trait)\s+(\w+)")


def owner_of(lines, at, indent):
    """The object that directly encloses the def on line `at`, or None
    when it sits in a class or trait."""
    for i, l in reversed(lines):
        if i >= at:
            continue
        m = TEMPLATE.match(l)
        if m and len(m.group(1)) < indent:
            return m.group(3) if m.group(2) == "object" else None
    return None


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
        if name in SKIP:
            continue
        owner = owner_of(main[p], i, len(line) - len(line.lstrip()))
        if refs(name, main, (p, i), owner, p):
            continue
        n += 1
        print(f"{os.path.relpath(p, root)}:{i} {name} "
              f"tests={refs(name, test, None, owner, None)}")
print(f"TOTAL {n}", file=sys.stderr)
