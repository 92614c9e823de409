#!/usr/bin/env python3
"""Compare two graft.Verify output directories table by table.

Usage: python3 tools/diff_verify.py <outA> <outB>

For every table either directory holds (<out>/<name>/*.parquet), checks
the parquet schema (column order and types) and then applies
tools/compare_tables.py's rules — the ones check_oracle.py applies
against DuckDB: column names, row count, dtype kind, exact values and
row order. A table present on one side only is a mismatch. Exit code 1
on any mismatch. The parent-vs-change acceptance check: run Verify on
both trees with the same SPARK_GRAFT_ONLY and scale factor, then diff.
"""
import sys, os
import pyarrow.parquet as pq

from compare_tables import compare, read_output

def tables(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}

def schema(out_dir, name):
    d = os.path.join(out_dir, name)
    f = sorted(x for x in os.listdir(d) if x.endswith(".parquet"))
    return pq.read_schema(os.path.join(d, f[0])).remove_metadata() if f else None

def main():
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    names = sorted(tables(a_dir) | tables(b_dir))
    failures = []
    for name in names:
        a, b = read_output(a_dir, name), read_output(b_dir, name)
        if a is None or b is None:
            failures.append(name)
            print(f"[FAIL] {name}: output missing in {a_dir if a is None else b_dir}")
            continue
        sa, sb = schema(a_dir, name), schema(b_dir, name)
        if not sa.equals(sb):
            failures.append(name)
            print(f"[FAIL] {name}: parquet schema differs\n  A: {sa}\n  B: {sb}")
            continue
        if not compare(name, a, b, "A", "B"):
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} tables equal")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
