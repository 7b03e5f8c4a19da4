#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage: python3 tools/plandiff.py before.txt after.txt

Each dump is the stdout of
  sbt -batch "runMain graft.Explain <query> ..."
(sbt's "[info] " prefix is accepted and dropped). The dumps are split at
the "========== <query> ==========" headers, and each plan is normalized
before the compare: expression ids (#12, #12L) become #N, [plan_id=7]
becomes [plan_id=N], RDD ids (MapPartitionsRDD[676]) become
MapPartitionsRDD[N], JVM lambda identities
(Foo$$$Lambda$5746/0x00007f...@68c4f321) become Foo$$$Lambda, and file
paths (scratch dirs, data locations) become <path>. Prints
"<query>: identical" or the unified diff of the normalized plans for
every query, and exits 1 on any difference, including a query present
in only one dump.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
SUBS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(?:file:)?/[\w.\-]+/[^\s,\]]*"), "<path>"),
]


def plans(path):
    """{query: [normalized plan lines]} of one Explain dump."""
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = [l.rstrip("\n") for l in f]
    if any(l.startswith("[info] ") for l in lines):
        lines = [l[len("[info] "):] for l in lines if l.startswith("[info] ")]
    out, cur = {}, None
    for line in lines:
        m = HEADER.match(line)
        if m:
            cur = out.setdefault(m.group(1), [])
        elif cur is not None:
            for pat, rep in SUBS:
                line = pat.sub(rep, line)
            cur.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    if not a and not b:
        sys.exit("no '========== <query> ==========' sections in either dump")
    differ = 0
    for q in sorted(set(a) | set(b), key=lambda q: (q not in a, q)):
        if q not in a or q not in b:
            print(f"{q}: only in {argv[1] if q in a else argv[2]}")
            differ += 1
        elif a[q] == b[q]:
            print(f"{q}: identical")
        else:
            print(f"{q}: differs")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[q], b[q], argv[1], argv[2], lineterm=""))
            differ += 1
    print(f"== {len(set(a) | set(b)) - differ} identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
