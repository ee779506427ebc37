#!/usr/bin/env python3
"""Row-level diff of two graft.Verify output trees.

Usage: python3 tools/rows_diff.py PARENT_OUT CHANGE_OUT [only,names]

For each query dir present in both trees (restricted to the optional
comma-separated name list, the convention of check.py's third argument),
reads both parquet results in DuckDB and counts the rows of each side
that the other lacks (EXCEPT ALL both ways: duplicates count, order does
not). Columns are matched by name; a query whose column names differ is
reported as a difference, and so is a listed name missing from either
tree. Prints one line per query and exits non-zero if any query differs
or no query was compared.
"""
import os
import sys

import duckdb


def queries(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    parent, change = argv[1], argv[2]
    names = queries(parent) & queries(change)
    missing = []
    if len(argv) == 4:
        only = set(argv[3].split(","))
        missing = sorted(only - names)
        for n in missing:
            print(f"[MISS] {n}: not in both trees")
        names &= only
    con = duckdb.connect()
    bad = 0
    for n in sorted(names):
        p = f"read_parquet('{os.path.join(parent, n)}/*.parquet')"
        c = f"read_parquet('{os.path.join(change, n)}/*.parquet')"
        pcols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {p}").fetchall()]
        ccols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {c}").fetchall()]
        if sorted(pcols) != sorted(ccols):
            print(f"[DIFF] {n}: columns {pcols} vs {ccols}")
            bad += 1
            continue
        cols = ", ".join(f'"{x}"' for x in sorted(pcols))
        only_p = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {p} EXCEPT ALL SELECT {cols} FROM {c})"
        ).fetchone()[0]
        only_c = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {c} EXCEPT ALL SELECT {cols} FROM {p})"
        ).fetchone()[0]
        rows = con.execute(f"SELECT count(*) FROM {p}").fetchone()[0]
        tag = "SAME" if only_p == only_c == 0 else "DIFF"
        bad += tag == "DIFF"
        print(f"[{tag}] {n}: {rows} parent rows; {only_p} only in parent, {only_c} only in change")
    print(f"{len(names) - bad}/{len(names)} queries identical, {len(missing)} missing")
    return 1 if bad or missing or not names else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
