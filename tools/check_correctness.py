"""Local mirror of the driver's correctness gate: run each queries()
entry in Spark and its oracle_sql() in DuckDB on the same sf dir,
compare row multisets (order-insensitive, columns sorted by name).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = set(sys.argv[2:])

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def canon(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if v is None:
        return ""
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    # A half-deleted pair fails: a query without its oracle would
    # otherwise pass unchecked, and an oracle without its query too.
    for name in sorted(set(oracles) - set(qs)):
        if not ONLY or name in ONLY:
            failures.append(name)
            print(f"FAIL {name}: oracle has no query")
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        if name not in oracles:
            failures.append(name)
            print(f"FAIL {name}: query has no oracle")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:400]}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: DUCKDB ERROR {str(e)[:400]}")
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            failures.append(name)
            print(f"FAIL {name}: schema mismatch spark={sorted(scols)} "
                  f"oracle={sorted(ocols)}")
            continue
        sm = rows_to_multiset([c.lower() for c in scols], srows)
        om = rows_to_multiset([c.lower() for c in ocols], orows)
        if sm == om:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            extra = list((sm - om).items())[:3]
            missing = list((om - sm).items())[:3]
            print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}")
            print(f"     spark-only: {extra}")
            print(f"     oracle-only: {missing}")
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
