#!/usr/bin/env python3
"""Compare two `oracle_sql.json` dumps of graft.Verify key by key.

Usage: python3 tools/oraclediff.py before/oracle_sql.json after/oracle_sql.json

Prints, per query:
  "<query>: only in <file>"  the name is in one dump only
  "<query>: differs"         the texts differ after normalization
                             (whitespace runs collapsed, whitespace next
                             to "(", ")" and "," dropped), then a diff
  "<query>: whitespace"      the texts are equal after normalization
                             but not byte-equal
and a summary line. Exits 1 on a key-set difference or on any text that
differs after normalization; whitespace-only differences are reported
but do not fail.
"""
import difflib
import json
import re
import sys


def norm(s):
    """Collapse whitespace runs; drop whitespace next to ( ) ,"""
    return re.sub(r"\s*([(),])\s*", r"\1", re.sub(r"\s+", " ", s)).strip()


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(argv[1], encoding="utf-8") as f:
        a = json.load(f)
    with open(argv[2], encoding="utf-8") as f:
        b = json.load(f)
    only = sorted(set(a) ^ set(b))
    for q in only:
        print(f"{q}: only in {argv[1] if q in a else argv[2]}")
    differ, blank = [], []
    for q in sorted(set(a) & set(b)):
        if a[q] == b[q]:
            continue
        if norm(a[q]) != norm(b[q]):
            differ.append(q)
            print(f"{q}: differs")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[q].splitlines(), b[q].splitlines(), argv[1], argv[2], lineterm=""))
        else:
            blank.append(q)
            print(f"{q}: whitespace")
    same = len(set(a) & set(b)) - len(differ) - len(blank)
    print(f"== {same} byte-equal, {len(blank)} whitespace-only, {len(differ)} differ, "
          f"{len(only)} in one dump only")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
