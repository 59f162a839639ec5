"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf, compare
row-count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from cardinality_estimation_evaluation_framework_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
    # HUGEINT arrives as object/float — coerce numerics to int64 when lossless
    for c in df.columns:
        try:
            as_i = pd.to_numeric(df[c])
            if (as_i == as_i.astype("int64")).all():
                df[c] = as_i.astype("int64")
        except (ValueError, TypeError):
            pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spark_pdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in oracles:
            print(f"  {name}: NO-ORACLE rows={len(spark_pdf)} ({t1-t0:.1f}s)")
            continue
        duck_pdf = con.execute(oracles[name]).df()
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9)
            except AssertionError as e:
                ok = False
                err = str(e).splitlines()[0]
        else:
            err = f"cols {list(a.columns)} vs {list(b.columns)}; rows {len(a)} vs {len(b)}"
        if ok:
            print(f"  {name}: OK rows={len(a)} ({t1-t0:.1f}s)")
        else:
            failures += 1
            print(f"  {name}: MISMATCH — {err}")
            print(a.head(3).to_string(), "\n---\n", b.head(3).to_string())
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
