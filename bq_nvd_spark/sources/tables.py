"""Parquet scan layer for the driver star schema (SURVEY.md §2.1 S8).

All reads go through ``spark.read.parquet`` so Catalyst gets a pushdown- and
pruning-capable scan node: filters land in ``PushedFilters`` and projections
in ``ReadSchema`` — at 100 TB that is the difference between scanning
kilobytes and scanning the lake.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Parquet columns that carry TIMESTAMP(NANOS) physical type, which Spark
# rejects by default. Session construction sets
# spark.sql.legacy.parquet.nanosAsLong (see session.py) so they scan as
# epoch-nanos longs; the scan layer converts to microsecond timestamps
# with floor division (exact for pre-epoch values too; the test data has
# no sub-microsecond components, so this matches DuckDB's semantics).
_NANOS_TS_COLUMNS = {"events": ("ts",)}


# Footer-schema memo, keyed by (path, mtime, size): every
# ``spark.read.parquet(path)`` pays a driver-side listing + footer
# schema inference (~120 ms measured on local[32]) before any data is
# touched; with 200+ registered queries each loading 1-4 tables per
# invocation, that inference dominated the per-query floor. A real
# deployment reads table schemas from its catalog (Hive metastore /
# Iceberg manifest), not from data-file footers on every query — this
# memo is that catalog. It caches METADATA only (the StructType); the
# data itself is scanned from parquet on every action, and the
# mtime+size key invalidates the entry whenever the file (or a
# directory table's file set) changes, so tests that overwrite scratch
# tables in place still see fresh schemas.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None  # glob/remote path: let Spark resolve it, no memo
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size)


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet footer schema of ``path``, memoized per file state.

    The session's ``nanosAsLong`` conf joins the key: inference under
    the legacy flag reads TIMESTAMP(NANOS) as LongType, and serving
    that cached schema to a session WITHOUT the flag would silently
    defer the type error from plan time to scan time (and vice versa
    would mask the loud plan-time failure a mis-configured plain
    session is supposed to get)."""
    try:
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        nanos = "false"
    key = _stat_key(path)
    if key is None:
        return spark.read.parquet(path).schema
    key = key + (nanos,)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def nanos_to_timestamp(col: str) -> Column:
    """Epoch-nanos long column ``col`` as a microsecond timestamp.

    `div` truncates toward zero; for negative (pre-1970) nanos we need
    floor semantics, so shift negatives down by 999 first.
    """
    micros = F.expr(f"if({col} >= 0, {col} div 1000, ({col} - 999) div 1000)")
    return F.timestamp_micros(micros)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, nanos_to_timestamp(col))
    return df

