#!/usr/bin/env python3
"""Scala code lines under src/main, per file and in total.

    python3 tools/codelines.py              # working tree
    python3 tools/codelines.py <git-ref>    # working tree, plus the delta
                                            # against <git-ref>
    python3 tools/codelines.py --test-only  # public and private[graft] defs
                                            # of src/main that only src/test
                                            # references (report only)

A code line is a line that is not blank, not a `//` comment line and not
inside a `/* ... */` (or `/** ... */`) block comment. A line with code
before or after a comment counts as code. With a ref, the ref's `src/main`
is extracted with `git archive` into a temporary directory (the working
tree is not touched), and only files whose count differs are listed.

--test-only is a name scan over the code lines (trailing `//` comments
dropped): a def counts as used by the system when its name occurs in
src/main or perfbench/src anywhere but on a declaration of that name,
and as used by the tests when it occurs in src/test outside a
one-line string literal.
Overloads and same-named defs in other objects share one count, so the
list can miss a def; it never lists one the system calls by name.
"""
import os
import re
import subprocess
import sys
import tempfile

SRC = os.path.join("src", "main")
SYSTEM = [SRC, os.path.join("perfbench", "src")]
TESTS = os.path.join("src", "test")


def code_text(text):
    """(line number, indent, code) of every code line, trailing `//`
    comments dropped where the `//` is outside a string literal."""
    in_block = False
    for no, raw in enumerate(text.splitlines(), 1):
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
            cut = line.find("//")
            while cut >= 0 and line.count('"', 0, cut) % 2:
                cut = line.find("//", cut + 2)
            yield no, len(raw) - len(raw.lstrip()), line if cut < 0 else line[:cut]


def scala_files(base):
    """(path, code_text lines) of every .scala file under `base`."""
    for d, _, files in os.walk(base):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    yield p, list(code_text(fh.read()))


def count_tree(root):
    return {os.path.relpath(p, root): len(lines)
            for p, lines in scala_files(os.path.join(root, SRC))}


def count_ref(ref):
    with tempfile.TemporaryDirectory(prefix="codelines-") as tmp:
        archive = subprocess.run(["git", "archive", ref, SRC],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        return count_tree(tmp)


DEF = re.compile(r"^((?:@\w+\s+)*(?:\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)")
OWNER = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")
STRING = re.compile(r'"(?:\\.|[^"\\])*"')


def test_only():
    """Public and private[graft] defs of src/main whose name occurs in
    src/test but nowhere else in src/main or perfbench/src."""
    decls, declared = [], {}
    for p, lines in scala_files(SRC):
        owners = []  # (indent, name) of the enclosing templates
        for no, indent, line in lines:
            while owners and owners[-1][0] >= indent:
                owners.pop()
            m = OWNER.search(line)
            if m and not line.startswith("def "):
                owners.append((indent, m.group(1)))
                continue
            m = DEF.match(line)
            if not m:
                continue
            owner = owners[-1][1] if owners else ""
            mods = m.group(1).split()
            declared[m.group(2)] = declared.get(m.group(2), 0) + 1
            if "override" in mods or any(x.startswith("protected") for x in mods):
                continue
            if any(x.startswith("private") and x != "private[graft]" for x in mods):
                continue
            decls.append((m.group(2), owner, f"{p}:{no}"))

    def uses(bases, strip=lambda line: line):
        n = {}
        for base in bases:
            for _, lines in scala_files(base):
                for _, _, line in lines:
                    for w in WORD.findall(strip(line)):
                        n[w] = n.get(w, 0) + 1
        return n

    # a test title or message naming a def is not a reference to it
    system, tests = uses(SYSTEM), uses([TESTS], lambda line: STRING.sub('""', line))
    found = sorted((owner, name, where) for name, owner, where in decls
                   if system.get(name, 0) <= declared[name] and tests.get(name, 0))
    for owner, name, where in found:
        print(f"{tests[name]:4d}  {owner}.{name}  {where}")
    print(f"{len(found):4d}  defs of src/main referenced only under src/test "
          "(first column: src/test occurrences)")


def main(argv):
    if len(argv) > 1 or (argv and argv[0].startswith("-") and argv[0] != "--test-only"):
        sys.exit(__doc__)
    top = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                         capture_output=True, text=True).stdout.strip()
    os.chdir(top)
    if argv == ["--test-only"]:
        test_only()
        return
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
