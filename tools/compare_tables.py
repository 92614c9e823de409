"""The one set of table-comparison rules behind tools/check_oracle.py
(Spark output vs DuckDB oracle) and tools/diff_verify.py (two Verify
outputs): column names, row count, dtype kind, exact values, row order.
"""
import glob, os
import pyarrow.parquet as pq
import pandas as pd
import numpy as np


def read_output(out_dir, name):
    """One graft.Verify table (<out_dir>/<name>/*.parquet) as a DataFrame,
    or None when the query wrote no output."""
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def compare(name, a, b, la, lb):
    """Print [ OK ]/[FAIL] lines for table `name` (frame `a` labelled `la`
    vs frame `b` labelled `lb`); True iff the tables match."""
    a_cols, b_cols = sorted(a.columns), sorted(b.columns)
    if a_cols != b_cols:
        print(f"[FAIL] {name}: columns differ {la}={a_cols} {lb}={b_cols}")
        return False
    a, b = a[a_cols], b[a_cols]
    if len(a) != len(b):
        print(f"[FAIL] {name}: rows {la}={len(a)} {lb}={len(b)}")
        return False
    ok = True
    for c in a_cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        # a hash over typed values tells int64 from float64 (e.g. a
        # DuckDB HUGEINT sum) even when the numbers are equal — so must
        # this comparison
        if x.dtype.kind != y.dtype.kind:
            print(f"[FAIL] {name}: col {c} dtype kind differs "
                  f"{la}={x.dtype} {lb}={y.dtype}")
            ok = False
            continue
        if x.dtype.kind == 'f' or y.dtype.kind == 'f':
            eq = (pd.isna(x) & pd.isna(y)) | (x == y)
            if not eq.all():
                i = int(np.argmin(eq))
                print(f"[FAIL] {name}: col {c} row {i}: {la}={x[i]!r} {lb}={y[i]!r} (diff={x[i]-y[i]!r})")
                ok = False
        else:
            eq = pd.Series(x).astype(str).eq(pd.Series(y).astype(str)) | (pd.isna(x) & pd.isna(y))
            if not eq.all():
                i = int(eq.idxmin())
                print(f"[FAIL] {name}: col {c} row {i}: {la}={x[i]!r} {lb}={y[i]!r}")
                ok = False
    if ok:
        print(f"[ OK ] {name}: {len(a)} rows, {len(a_cols)} cols exact match")
    return ok
