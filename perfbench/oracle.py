"""DuckDB oracle check for the batch workloads.

Runs each query's `SparkEntry.oracleSql` in DuckDB over the generated
inputs and compares it with the result the benchmark wrote, by the rules of
tools/check.py: columns sorted by name, rows sorted by every column, dtypes
equal, cells exactly equal (floats bit-equal, NaN equal to NaN). GenScale
writes each table as a directory, so the views glob
`<table>.parquet/*.parquet`.
"""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(name, want, got):
    """None when equal, else a one-line reason."""
    if list(want.columns) != list(got.columns):
        return f"{name}: columns differ: oracle {list(want.columns)} vs spark {list(got.columns)}"
    if len(want) != len(got):
        return f"{name}: row count differs: oracle {len(want)} vs spark {len(got)}"
    dt_w = [str(want[c].dtype) for c in want.columns]
    dt_g = [str(got[c].dtype) for c in got.columns]
    if dt_w != dt_g:
        return f"{name}: dtypes differ: oracle {dt_w} vs spark {dt_g}"
    for c in want.columns:
        a, b = want[c], got[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            aa = a.astype(float).to_numpy()
            bb = b.astype(float).to_numpy()
            eq = (aa == bb) | (np.isnan(aa) & np.isnan(bb))
        else:
            eq = ((a == b) | (a.isna() & b.isna())).to_numpy()
        if not eq.all():
            return f"{name}: column {c}: {int((~eq).sum())} cells differ"
    return None


def check(input_dir, results_dir, sqls, temp_dir):
    """Compare every query; return the list of failures."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in TABLES:
        if os.path.isdir(os.path.join(input_dir, f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    bad = []
    for name, sql in sorted(sqls.items()):
        if not sql:
            bad.append(f"{name}: no oracle SQL")
            continue
        try:
            want = normalize(con.execute(sql).fetchdf())
            got = normalize(con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").fetchdf())
        except Exception as e:  # noqa: BLE001 — any oracle error is a failure
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        why = compare(name, want, got)
        if why:
            bad.append(why)
    con.close()
    return bad
