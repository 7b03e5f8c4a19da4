#!/usr/bin/env python3
"""Scala code lines under src/main, per file and in total.

    python3 tools/codelines.py              # working tree
    python3 tools/codelines.py <git-ref>    # working tree, plus the delta
                                            # against <git-ref>

A code line is a line that is not blank, not a `//` comment line and not
inside a `/* ... */` (or `/** ... */`) block comment. A line with code
before or after a comment counts as code. With a ref, the ref's `src/main`
is extracted with `git archive` into a temporary directory (the working
tree is not touched), and only files whose count differs are listed.
"""
import os
import subprocess
import sys
import tempfile

SRC = os.path.join("src", "main")


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block = False
            line = line[end + 2:].strip()
        if line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            line = line[end + 2:].strip()
        if line and not line.startswith("//"):
            n += 1
    return n


def count_tree(root):
    counts = {}
    base = os.path.join(root, SRC)
    for d, _, files in os.walk(base):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts[os.path.relpath(p, root)] = code_lines(fh.read())
    return counts


def count_ref(ref):
    with tempfile.TemporaryDirectory(prefix="codelines-") as tmp:
        archive = subprocess.run(["git", "archive", ref, SRC],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        return count_tree(tmp)


def main(argv):
    if len(argv) > 1 or (argv and argv[0].startswith("-")):
        sys.exit(__doc__)
    top = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                         capture_output=True, text=True).stdout.strip()
    os.chdir(top)
    now = count_tree(".")
    if not argv:
        for f in sorted(now):
            print(f"{now[f]:6d}  {f}")
        print(f"{sum(now.values()):6d}  total ({len(now)} files)")
        return
    ref = argv[0]
    old = count_ref(ref)
    for f in sorted(set(now) | set(old)):
        a, b = old.get(f, 0), now.get(f, 0)
        if a != b:
            print(f"{a:6d} -> {b:6d}  {b - a:+6d}  {f}")
    a, b = sum(old.values()), sum(now.values())
    print(f"{a:6d} -> {b:6d}  {b - a:+6d}  total src/main ({ref} -> working tree)")


if __name__ == "__main__":
    main(sys.argv[1:])
