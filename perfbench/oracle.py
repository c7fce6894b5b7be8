"""DuckDB hash compare of the suffix heads' outputs against the catalog
oracle SQL (`SparkEntry.oracleSql`), the way `tools/check_oracle.py`
compares a Verify dump: both sides as sorted rows of value reprs."""
import glob
import json
import os

import duckdb
import pandas as pd


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    return sorted(tuple(repr(v) for v in row) for row in df.itertuples(index=False))


def check(inputs_dir, out_dir):
    """Returns one message per failed comparison (empty when all pass)."""
    con = duckdb.connect()
    con.sql("SET threads = 4")
    docs = os.path.join(inputs_dir, "documents.parquet", "*.parquet")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    fails = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            fails.append(f"{name}: no output")
            continue
        a = norm(pd.concat([pd.read_parquet(f) for f in files]))
        b = norm(con.sql(sql).df())
        if len(a) != len(b):
            fails.append(f"{name}: rows spark={len(a)} duckdb={len(b)}")
        elif a != b:
            fails.append(f"{name}: value mismatch")
        elif not a:
            fails.append(f"{name}: empty output")
    return fails
