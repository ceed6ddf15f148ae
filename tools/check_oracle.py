"""Replicate the driver's DuckDB cross-check locally.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over
the same sf_dir, compares row count, column names, and order-insensitive
values. Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

# the checkout this file belongs to, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from eynollah_spark.queries import TABLES
from eynollah_spark.session import build_session


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64).round(6)
        elif np.issubdtype(df[c].dtype, np.integer) or df[c].dtype == bool:
            df[c] = df[c].astype(np.int64)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails, rows_only = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            fails.append((name, f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"))
            continue
        if name not in oracles:
            rows_only.append((name, len(sdf)))
            print(f"  [rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            fails.append((name, f"DUCK ERROR {type(e).__name__}: {str(e)[:300]}"))
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            fails.append((name, f"schema: spark={list(a.columns)} duck={list(b.columns)}"))
            continue
        if len(a) != len(b):
            fails.append((name, f"rows: spark={len(a)} duck={len(b)}"))
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            fails.append((name, f"values differ in {int(bad.sum())}/{len(a)} rows; first:\n"
                                f"spark {a[bad].head(3).to_dict('records')}\n"
                                f"duck  {b[bad].head(3).to_dict('records')}"))
            continue
        print(f"  [OK] {name}: {len(a)} rows")
    print(f"\n{len(qs) - len(fails) - len(rows_only)} oracle-checked OK, "
          f"{len(rows_only)} rows-only, {len(fails)} FAILED")
    for n, msg in fails:
        print(f"FAIL {n}: {msg}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
