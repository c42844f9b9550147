"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on DuckDB
at the given scale factor; compare row count, column names, and
order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from modernsearchengines_spark.operators import query
from modernsearchengines_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append((c, str(v)))
        out.append(tuple(vals))
    return sorted(out)


def oracle_connection(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per test table under ``sf_dir``."""
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(srows: list[dict], scols: list[str], ddf) -> str | None:
    """Compare collected Spark rows against the DuckDB oracle frame:
    column names, row count, then order-insensitive ``canon`` values.
    Returns None on a match, else the reason."""
    dcols = list(ddf.columns)
    drows = ddf.to_dict("records")
    if sorted(scols) != sorted(dcols):
        return f"schema {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    a, b = canon(srows, scols), canon(drows, dcols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return f"values differ, first diffs: {diff}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("contract-check", cores=8)
    con = oracle_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
            query.release(sdf)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (rows-only check)")
            if len(srows) == 0:
                failures.append((name, "0 rows on rows-only check"))
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        why = mismatch(srows, scols, ddf)
        if why is not None:
            failures.append((name, why))
            print(f"FAIL  {name}: {why}")
            continue
        print(f"OK    {name}: {len(srows)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for name, why in failures:
            print(f"  {name}: {why}")
        return 1
    print("all entries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
