"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the same sf, compare
row count, column names, and exact values (order-insensitive).

Usage: python tools/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal_types):
        return float(v)
    return v


import decimal  # noqa: E402

decimal_types = (decimal.Decimal,)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    # VANILLA session on purpose: the driver's correctness gate runs the
    # contract under a plain SparkSession, so queries must not depend on
    # anything session.py tunes (UTC is pinned because the driver does too).
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("contract-check")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            df = qs[name](spark, sf)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(ex).splitlines()[0][:160]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle — rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(ex).splitlines()[0][:160]}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(name)
            print(f"FAIL  {name}: columns {sorted(spark_cols)} vs {sorted(duck_cols)}")
            continue
        if len(spark_rows) != len(duck_rows):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(spark_rows)} vs {len(duck_rows)}")
            continue
        a = rowset(spark_cols, spark_rows)
        b = rowset(duck_cols, duck_rows)
        if a != b:
            failures.append(name)
            diff = next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"FAIL  {name}: values differ at sorted-row {diff[0]}:")
            print(f"      spark : {diff[1]}")
            print(f"      duckdb: {diff[2]}")
            continue
        print(f"OK    {name}: {len(spark_rows)} rows")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
