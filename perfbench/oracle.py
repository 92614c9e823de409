"""DuckDB oracle check for the batch workloads, with the comparison
rules of `tools/check_oracle.py`: same column set, same row count, exact
values per column (column-name-sorted), typed (an int-vs-float kind
mismatch fails), and row order."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def compare(sdf, ddf):
    """None when the frames match under the oracle rules, else why not."""
    s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
    if s_cols != d_cols:
        return f"columns differ spark={s_cols} duckdb={d_cols}"
    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} duckdb={len(ddf)}"
    for c in s_cols:
        a, b = sdf[c].to_numpy(), ddf[c].to_numpy()
        if a.dtype.kind != b.dtype.kind:
            return f"col {c} dtype kind differs spark={a.dtype} duckdb={b.dtype}"
        if a.dtype.kind == "f":
            eq = (pd.isna(a) & pd.isna(b)) | (a == b)
        else:
            eq = (pd.Series(a).astype(str).eq(pd.Series(b).astype(str)) | (pd.isna(a) & pd.isna(b))).to_numpy()
        if not eq.all():
            i = int(np.argmin(eq))
            return f"col {c} row {i}: spark={a[i]!r} duckdb={b[i]!r}"
    return None


def compare_all(input_dir, results_dir):
    """{query: {"ok": bool, "why": str|None}} for every query with an oracle."""
    path = os.path.join(results_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out[name] = {"ok": False, "why": "no spark output"}
            continue
        sdf = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
        try:
            why = compare(sdf, con.execute(sql).df())
        except Exception as e:  # a broken oracle query is a failed check
            why = f"duckdb error: {e}"
        out[name] = {"ok": why is None, "why": why}
    return out


def result_rows(results_dir):
    """Rows of each query's result, from its parquet footers."""
    out = {}
    for d in glob.glob(os.path.join(results_dir, "*", "")):
        files = glob.glob(os.path.join(d, "*.parquet"))
        out[os.path.basename(d.rstrip("/"))] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out
