"""Local mirror of the external correctness driver.

Runs each registered query AND its DuckDB oracle at a given scale factor
with a PLAIN SparkSession (same as the driver — no bq_nvd_spark.session
factory), comparing row-count + sorted-column schema + canonical DTYPES
(oracle_compare.py — DuckDB HUGEINT vs Spark long fails here exactly as
at the driver) + order-insensitive value hash.

Usage:
    python scripts/driver_mirror.py [--sf /root/testdata/sf0.01] [--first N] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from bq_nvd_spark.oracle_compare import (
    duck_schema_map,
    rowset,
    schema_mismatches,
    spark_schema_map,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--first", type=int, default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.names or list(qs)
    if args.first:
        names = names[: args.first]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            scols = list(sdf.columns)
            stypes = spark_schema_map(sdf)
            srows = [tuple(r) for r in sdf.collect()]
            if name in oracles:
                rel = con.sql(oracles[name])
                ocols = list(rel.columns)
                otypes = duck_schema_map(rel)
                orows = rel.fetchall()
                dtype_diffs = schema_mismatches(stypes, otypes)
                ok = (
                    len(srows) == len(orows)
                    and sorted(scols) == sorted(ocols)
                    and not dtype_diffs
                    and rowset(scols, srows) == rowset(ocols, orows)
                )
                verdict = "OK" if ok else (
                    f"DTYPE-MISMATCH {dtype_diffs[:2]}" if dtype_diffs else "HASH-MISMATCH"
                )
            else:
                ok = True
                verdict = "rows-only"
            dt = time.time() - t0
            print(f"{name:40s} {verdict:14s} rows={len(srows):<7d} {dt:6.1f}s", flush=True)
            if not ok:
                failures.append(name)
        except Exception as exc:  # noqa: BLE001 — mirror reports, never aborts
            print(f"{name:40s} ERROR {type(exc).__name__}: {exc}", flush=True)
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    if failures:
        print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
