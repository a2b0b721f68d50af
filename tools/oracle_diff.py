#!/usr/bin/env python3
"""Compare two oracle_sql.json files (as written by `graft.Verify`).

    python3 tools/oracle_diff.py A.json B.json

Each oracle is normalized before the compare: every run of whitespace
outside a single-quoted SQL literal becomes one space, and leading and
trailing whitespace is dropped. Text inside '...' (with '' as the escaped
quote) is compared byte for byte, so a regex such as '\\s+' that lost or
gained a backslash counts as a change.

Prints one line per gate that was added, removed or changed (a changed
gate also shows where the normalized texts first differ) and a summary
line. Exits 1 if any gate was added, removed or changed, else 0.
"""
import json
import sys


def normalize(sql: str) -> str:
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif c.isspace():
            while i < n and sql[i].isspace():
                i += 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out).strip()


def first_diff(a: str, b: str) -> int:
    for k, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return k
    return min(len(a), len(b))


def main(path_a: str, path_b: str) -> int:
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = []
    for name in sorted(set(a) & set(b)):
        na, nb = normalize(a[name]), normalize(b[name])
        if na != nb:
            changed.append((name, na, nb))
    for name in added:
        print(f"ADDED   {name}")
    for name in removed:
        print(f"REMOVED {name}")
    for name, na, nb in changed:
        k = first_diff(na, nb)
        lo = max(0, k - 40)
        print(f"CHANGED {name} at char {k}")
        print(f"  A: ...{na[lo:k + 60]!r}")
        print(f"  B: ...{nb[lo:k + 60]!r}")
    print(f"== {len(set(a) & set(b))} common, {len(added)} added, "
          f"{len(removed)} removed, {len(changed)} changed")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
