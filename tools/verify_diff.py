#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/verify_diff.py <verifyOutA> <verifyOutB>

For every query directory present in either dump, reads the parquet with
DuckDB and compares column names, logical types and rows IN ORDER (Verify
writes each query as one ordered partition), with values canonicalized by
compare.py's `canon`. Prints one line per query:

  IDENTICAL  same columns, types and rows
  DIFF       anything differs (the first difference is shown)
  MISSING    the query has output in only one of the two dumps

Exits non-zero on any DIFF or MISSING. compare.py holds one dump to the
DuckDB oracle; this holds two dumps to each other, so a change that claims
to move no value (a refactor, a kernel swap) can show that none moved, row
order and column types included.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import canon  # noqa: E402


def query_dirs(root):
    """name -> parquet glob, for every query dir holding parquet output."""
    out = {}
    for path in glob.glob(os.path.join(root, "*/")):
        if glob.glob(os.path.join(path, "*.parquet")):
            out[os.path.basename(path.rstrip("/"))] = os.path.join(path, "*.parquet")
    return out


def read(con, pattern):
    rel = con.sql(f"SELECT * FROM read_parquet('{pattern}')")
    cols = [(n, str(t)) for n, t in zip(rel.columns, rel.types)]
    rows = [tuple(canon(v) for v in r) for r in rel.fetchall()]
    return cols, rows


def first_diff(cols_a, rows_a, cols_b, rows_b):
    if cols_a != cols_b:
        return f"schema A={cols_a} B={cols_b}"
    for i, (a, b) in enumerate(zip(rows_a, rows_b)):
        if a != b:
            return f"row {i}: A={a} B={b}"
    return f"row count A={len(rows_a)} B={len(rows_b)}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    qa, qb = query_dirs(dir_a), query_dirs(dir_b)
    con = duckdb.connect()
    n_same = n_diff = n_missing = 0
    for name in sorted(set(qa) | set(qb)):
        if name not in qa or name not in qb:
            side = "A" if name in qa else "B"
            print(f"MISSING   {name} (output only in {side})")
            n_missing += 1
            continue
        cols_a, rows_a = read(con, qa[name])
        cols_b, rows_b = read(con, qb[name])
        if cols_a == cols_b and rows_a == rows_b:
            print(f"IDENTICAL {name} rows={len(rows_a)}")
            n_same += 1
        else:
            print(f"DIFF      {name}: {first_diff(cols_a, rows_a, cols_b, rows_b)}")
            n_diff += 1
    print(f"\n== {n_same} identical, {n_diff} diff, {n_missing} missing ==")
    sys.exit(1 if n_diff or n_missing else 0)


if __name__ == "__main__":
    main()
