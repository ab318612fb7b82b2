#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by `runMain graft.Verify`).

Usage: python3 tools/oracle_diff.py A.json B.json

Lists the query keys only one side has, and the keys whose oracle SQL
differs once every whitespace run is collapsed to one space (so a
re-indented or re-wrapped template reads as unchanged). Exits 0 when
the key sets are equal and no text differs, 1 otherwise.
"""
import json
import re
import sys


def norm(sql):
    return re.sub(r"\s+", " ", sql).strip()


def first_diff(a, b, width=60):
    i = next((k for k, (x, y) in enumerate(zip(a, b)) if x != y),
             min(len(a), len(b)))
    lo = max(0, i - width // 2)
    return i, a[lo:i + width // 2], b[lo:i + width // 2]


def main(argv):
    paths = argv[1:]
    if len(paths) != 2:
        sys.stderr.write(__doc__)
        return 2
    with open(paths[0]) as f:
        a = json.load(f)
    with open(paths[1]) as f:
        b = json.load(f)
    removed = sorted(a.keys() - b.keys())
    added = sorted(b.keys() - a.keys())
    changed = sorted(k for k in a.keys() & b.keys() if norm(a[k]) != norm(b[k]))
    for k in removed:
        print(f"- {k}")
    for k in added:
        print(f"+ {k}")
    for k in changed:
        i, x, y = first_diff(norm(a[k]), norm(b[k]))
        print(f"~ {k} (first difference at char {i})")
        print(f"    A: ...{x}...")
        print(f"    B: ...{y}...")
    print(f"{len(a.keys() & b.keys())} common keys, {len(removed)} removed, "
          f"{len(added)} added, {len(changed)} changed")
    return 1 if removed or added or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
