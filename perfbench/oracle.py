"""DuckDB oracle check for the benchmark's oracle pass.

Follows the project's oracle gate (tools/check_oracle.py): each query's
Spark result (one parquet directory per query) is compared with the
query's oracle SQL run by DuckDB over the same input tables. Columns
are compared by sorted name, rows after a total sort, and values
exactly; floats that are only close also fail, as in that gate.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(dt):
    k = dt.kind
    return {"i": "int", "u": "int", "f": "float", "M": "dt", "b": "bool"}.get(k, "obj")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "object" or str(df[c].dtype).startswith("datetime"):
            mask = df[c].isna()
            df[c] = df[c].astype(str).mask(mask, "None")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _mismatch(spark_df, duck_df):
    """None when the frames agree, else a one-line reason."""
    bad_kinds = [c for c in sorted(set(spark_df.columns) & set(duck_df.columns))
                 if _kind(spark_df[c].dtype) != _kind(duck_df[c].dtype)
                 and {_kind(spark_df[c].dtype), _kind(duck_df[c].dtype)} != {"dt", "obj"}]
    if bad_kinds:
        return f"dtype mismatch in {bad_kinds}"
    s, k = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(k.columns):
        return f"columns spark={list(s.columns)} duckdb={list(k.columns)}"
    if len(s) != len(k):
        return f"rows spark={len(s)} duckdb={len(k)}"
    for c in s.columns:
        a, b = s[c], k[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            an, bn = a.astype(float), b.astype(float)
            ok = ((an == bn) | (an.isna() & bn.isna())).values
            if not ok.all() and np.isclose(an, bn, rtol=1e-12, atol=1e-12,
                                           equal_nan=True).all():
                return f"column {c}: floats close but not exact"
        else:
            ok = ((a == b) | (a.isna() & b.isna())).values
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"column {c}: {int((~ok).sum())} values differ, e.g. row {i}: " \
                   f"{a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def check(inputs_dir, results_dir, oracle_sql, expected_rows):
    """Map query name -> None (agrees) or reason, for every query with a
    result. Queries without oracle SQL get the weaker rows-only check:
    the result must not be empty."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(inputs_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, rows in sorted(expected_rows.items()):
        sql = oracle_sql.get(name)
        if sql is None:
            out[name] = None if rows > 0 else "rows-only check: empty result"
            continue
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            duck_df = con.execute(sql).df()
            out[name] = _mismatch(spark_df, duck_df)
        except Exception as e:  # a failing oracle is a failed check, by name
            out[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    con.close()
    return out
