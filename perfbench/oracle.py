"""DuckDB oracle compare for the traffic workload's verification pass.

Same rule as the engine's `scripts/check.py`: load each query's Spark
result, run its oracle SQL in DuckDB over the same parquet tables, sort
columns by name and rows by value, and require exact equality of
columns, row count and values. It is kept apart from the engine's own
checker so that a change to that script cannot change this gate.
"""
import glob
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(data_dir, verify_dir, queries):
    """Return {query: None if it matches its oracle, else a reason}.
    A query with no Spark output or no oracle SQL is a mismatch."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    path = os.path.join(verify_dir, "oracle_sql.json")
    oracle = json.load(open(path)) if os.path.exists(path) else {}
    out = {}
    for name in queries:
        files = sorted(glob.glob(os.path.join(verify_dir, name, "*.parquet")))
        if not files:
            out[name] = "no spark output"
            continue
        if name not in oracle:
            out[name] = "no oracle sql"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
            continue
        s, d = _norm(spark_df), _norm(duck_df)
        if list(s.columns) != list(d.columns):
            out[name] = f"columns spark={list(s.columns)} duck={list(d.columns)}"
        elif len(s) != len(d):
            out[name] = f"rows spark={len(s)} duck={len(d)}"
        else:
            try:
                pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
                out[name] = None
            except AssertionError as e:
                out[name] = "value mismatch: " + str(e).splitlines()[0]
    return out
