"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 in Spark AND its oracle_sql()
in DuckDB, compare row count + column-name-sorted value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

# the checkout this script lives in, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _canon(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float):
        return repr(v)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from customer_er_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name:24s} spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok-   {name:24s} rows={len(srows):7d} (rows-only, no oracle) "
                  f"{time.time()-t0:5.1f}s")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name:24s} duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            hs = value_hash(srows, scols)
            hd = value_hash(drows, dcols)
            if hs != hd:
                problems.append(f"value-hash {hs} vs {hd}")
        if problems:
            print(f"FAIL  {name:24s} {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name:24s} rows={len(srows):7d} {time.time()-t0:5.1f}s")
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
