#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching SQL from oracle_sql.json in DuckDB over <sfDir>'s tables, and
compares them by tools/compare_tables.py's rules: column names, row count,
exact values (column-name-sorted), and row order. Exit code 1 if any query
mismatches.

Each oracle's DuckDB run time prints on its own `[time] <name>: <s> s`
line after its verdict, so an oracle rewrite shows its cost. The
`N/M queries match` line stays last (tools/battery-sweep.sh parses it
with `tail -2`).
"""
import sys, json, os, time
import duckdb

from compare_tables import compare, read_output

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    failures = []
    for name in sorted(oracles):
        sdf = read_output(out_dir, name)
        if sdf is None:
            failures.append(name); print(f"[FAIL] {name}: no spark output"); continue
        t0 = time.perf_counter()
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name); print(f"[FAIL] {name}: duckdb error: {e}"); continue
        secs = time.perf_counter() - t0
        if not compare(name, sdf, ddf, "spark", "duckdb"):
            failures.append(name)
        print(f"[time] {name}: {secs:.3f} s")
    print(f"\n{len(oracles) - len(failures)}/{len(oracles)} queries match")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
