#!/usr/bin/env python3
"""Compare two PLANS.md dumps of `graft.Explain` section by section.

    python3 tools/plan_diff.py <a.md> <b.md>

A section is one `## <query>` heading and its plan. The script prints
each section that differs (or exists on one side only) with its
differing lines, then `K of M sections differ`; it exits 1 if any
section differs, else 0.

Before comparing, it rewrites what changes from one run to the next
with no change to the plan:

  * expression ids (`doc_id#4442L` -> `doc_id#N`);
  * exchange and broadcast ids (`[plan_id=9542]`);
  * RDD ids (`RDD[12]`) and RDD call sites
    (`at localCheckpoint at TextQueries.scala:2223`), which move when
    the code above a call moves;
  * JVM identity hashes (`TopKByScore@70b1557b`, `[D@609217c9`) and
    lambda class names (`Multimodal$$$Lambda$6358/0x00007f48617771b0`).

Two dumps of the same commit, taken one after the other, differ in the
expression ids, plan ids, identity hashes and lambda names only.
Temporary paths (the `java.io.tmpdir` of the clustered queries) are
kept, so compare dumps taken with the same tmpdir.
"""
import difflib
import re
import sys

VOLATILE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at \w+ at \w+\.scala:\d+"), " at <call site>"),
    (re.compile(r"\$\$Lambda[$\d]*/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"(?<=[\w$\]])@[0-9a-f]{1,8}\b"), "@<hash>"),
]

HEADING = re.compile(r"^## (\S+)\s*$")


def normalize(line):
    for pat, rep in VOLATILE:
        line = pat.sub(rep, line)
    return line


def sections(path):
    """Ordered {query: [normalized plan lines]} of one PLANS.md."""
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = HEADING.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(normalize(line.rstrip("\n")))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    pa, pb = sys.argv[1:3]
    a, b = sections(pa), sections(pb)
    names = list(a) + [n for n in b if n not in a]
    differ = 0
    for name in names:
        if name not in a or name not in b:
            differ += 1
            print(f"## {name}: only in {pa if name in a else pb}")
            continue
        if a[name] == b[name]:
            continue
        differ += 1
        print(f"## {name}")
        for l in difflib.unified_diff(a[name], b[name], lineterm="", n=0):
            if l[:1] in "+-" and not l.startswith(("---", "+++")):
                print("  " + l)
    print(f"{differ} of {len(names)} sections differ")
    return 1 if differ else 0

if __name__ == "__main__":
    sys.exit(main())
