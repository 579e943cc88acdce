"""Local stand-in for the driver's t2 gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB, compare row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they inherit the
# environment, not this process's sys.path: set it before the JVM starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)


def value_hash(df) -> str:
    """pandas DF -> stable hash: sort columns by name, round floats,
    sort rows lexicographically, hash the CSV bytes."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    if len(df) == 0:
        rows = []  # empty frame: apply() degenerates to a DataFrame
    else:
        rows = sorted(df.astype(str).apply(lambda r: "|".join(r), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry
    from etl_orders_to_bq_spark.schemas import TESTDATA_TABLES
    from etl_orders_to_bq_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems and value_hash(sdf) != value_hash(odf):
            problems.append("value hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{ran - len(failures)}/{ran} OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
