"""Correctness check of a run's result dump against the DuckDB oracles.

Mirrors the canonicalisation of `tools/check.py`: the engine's parquet
output is read with pandas, the oracle SQL (`SparkEntry.oracleSql`) is
replayed in DuckDB over the same fixtures and read back through `.df()`;
both sides get their columns sorted by name, true nulls spelled `NULL`,
and the md5 of the sorted stringified rows compared together with the row
count and column names.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    s = df.astype(str).mask(df.isna(), "NULL")
    rows = sorted(s.values.tolist())
    return len(df), sorted(df.columns), hashlib.md5(str(rows).encode()).hexdigest()


def check(dump_dir, fixtures, names):
    """Return {name: reason} for every query whose dump does not match."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        path = os.path.join(fixtures, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    wrong = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        if not files:
            wrong[name] = "no engine output"
            continue
        if name not in oracle:
            wrong[name] = "no oracle"
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            want = canon(con.sql(oracle[name]).df())
        except Exception as e:  # noqa: BLE001 - any oracle error is a mismatch
            wrong[name] = f"oracle error: {e}"
            continue
        if got != want:
            wrong[name] = (f"rows {got[0]} vs {want[0]}; cols {got[1]} vs {want[1]}; "
                           f"hash {'=' if got[2] == want[2] else '!='}")
    con.close()
    return wrong
