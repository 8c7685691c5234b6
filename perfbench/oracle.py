"""DuckDB oracle check for the registry workload's result dump.

For each query: run its oracle SQL in DuckDB over views named after the
parquet tables, load the Spark result parquet, sort columns by name and
rows by all columns, and compare cell by cell — the comparison
tools/localverify.py makes.
"""
import json
import os

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return None
    if isinstance(v, float):
        return ("f", repr(v))
    import decimal
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(cell(x) for x in v)
    return v


def check(dump_dir, sf_dir):
    """Returns {query: None if it matches, else the reason}."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
            oracles = json.load(fh)
        out = {}
        for name, sql in sorted(oracles.items()):
            try:
                exp = canon(con.execute(sql).df())
                got = canon(pd.read_parquet(os.path.join(dump_dir, name)))
            except Exception as e:  # a query that cannot be compared fails
                out[name] = f"load/exec error: {e}"
                continue
            if list(exp.columns) != list(got.columns):
                out[name] = f"columns {list(got.columns)} != oracle {list(exp.columns)}"
            elif len(exp) != len(got):
                out[name] = f"rows {len(got)} != oracle {len(exp)}"
            else:
                e_rows = [tuple(cell(v) for v in r) for r in exp.itertuples(index=False)]
                g_rows = [tuple(cell(v) for v in r) for r in got.itertuples(index=False)]
                bad = next((i for i, (a, b) in enumerate(zip(e_rows, g_rows)) if a != b), None)
                out[name] = None if bad is None else (
                    f"row {bad}: oracle {e_rows[bad]} spark {g_rows[bad]}")
        return out
    finally:
        con.close()
