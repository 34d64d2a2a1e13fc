"""NVD feed ingest — the Spark re-expression of the reference's ETL.

Reference pipeline (bq_nvd/etl.py, bq_nvd/bq.py): gunzip + json.loads the
whole feed into a dict (etl.py:34-49), keep only ``CVE_Items``
(etl.py:77), drop CVEs whose ID is already loaded by collecting every
stored ID into a Python list and testing membership per item
(etl.py:80-92, bq.py:144-169 — an O(n·m) driver-side loop the author's
own TODO flags), serialize to NDJSON (etl.py:98-116) and bulk-load with
``ignore_unknown_values`` (bq.py:190-193).

Spark-first re-expression:

- the gz feed is read DISTRIBUTED with an explicit schema
  (``multiLine`` — a feed is one JSON document). Spark decompresses
  ``.gz`` natively and explicit-schema JSON reads drop unknown keys and
  null missing ones, which IS BigQuery's ``ignore_unknown_values``
  load semantics.
- the wrapper projection is ``explode(CVE_Items)`` (P1).
- first-write-wins dedup is a broadcast LEFT ANTI join against the
  store's ID column (J1) — IDs never materialize on the driver, the
  probe side streams, and column pruning reduces the store scan to one
  column. This is the distributed fix for the reference's admitted
  inefficiency.
- the empty-delta short-circuit (A3) is an ``isEmpty`` on the optimized
  plan, mirroring ``len(scrubbed_list) == 0 → None`` (etl.py:94-96).
- sinks: NDJSON (Spark's JSON writer is newline-delimited natively,
  S3) and a parquet store partitioned by ``year(publishedDate)`` — the
  columnar analog of the BigQuery table, with per-year partition
  pruning matching the feed's natural per-year layout. Each append is
  rebalanced on the year column, so it writes at most one file per year
  it touches (AQE splits a year above its advisory partition size into
  files of about that size). The remaining small-file source is the
  current year, which gains one file per non-empty refresh pass (~72 a
  day at the reference's 20-minute cadence) until it is compacted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.nvd.schema import feed_schema, nvd_schema

# NVD 1.1 feeds carry minute-precision ISO-8601 with a Z suffix
# (e.g. "2019-04-30T19:15Z"); seconds appear in some historical entries.
NVD_TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm[:ss]X"

ID_COL = "cve.CVE_data_meta.ID"


def read_feed(
    spark: SparkSession,
    path: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Explicit-schema read of one-or-many NVD feed documents (.json[.gz]).

    ``multiLine`` because each feed is a single JSON document, not NDJSON;
    Spark splits work per-file, so a multi-year backfill glob parallelizes
    across feed files (the reference loops over years serially,
    bq-nvd.py:92-96).

    Malformed-feed policy (SURVEY §1.2): the reference aborts the whole
    run on one bad document (JSONDecodeError funnel, bq-nvd.py:116-124).
    Here the default PERMISSIVE mode nulls the bad document and keeps
    the batch alive; pass ``corrupt_col`` to surface the raw bytes of
    each unparseable document in an audit column, or ``mode="FAILFAST"``
    for the reference's abort behavior.
    """
    schema = feed_schema()
    if corrupt_col is not None:
        from pyspark.sql.types import StringType, StructField

        schema = schema.add(StructField(corrupt_col, StringType(), True))
    reader = (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("timestampFormat", NVD_TIMESTAMP_FORMAT)
        .option("mode", mode)
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.json(path)


def cve_items(feed: DataFrame) -> DataFrame:
    """P1 wrapper projection: keep only the CVE entries, discarding the
    CVE_data_* feed metadata (reference etl.py:75-77)."""
    return feed.select(F.explode("CVE_Items").alias("item")).select("item.*")


def read_cve_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Read a per-CVE NDJSON staging file (the S3 sink's output)."""
    return (
        spark.read.schema(nvd_schema())
        .option("timestampFormat", NVD_TIMESTAMP_FORMAT)
        .json(path)
    )


def deltas_only(incoming: DataFrame, existing_ids: DataFrame) -> DataFrame:
    """J1 first-write-wins dedup: keep only CVEs whose ID is not already
    stored — existing rows win, late modifications are dropped (reference
    etl.py:80-92, §1.4 of SURVEY.md).

    ``existing_ids`` must expose an ``ID`` column. No broadcast hint:
    at NVD scale (~300k IDs × ~20 bytes) the ID set is a few MB, so the
    planner/AQE picks a broadcast-hash anti join from the observed size
    (no shuffle of the incoming side) — while a forced hint would be
    honored even if the stored-ID side someday outgrew executor memory.
    """
    return incoming.join(
        existing_ids.select("ID"),
        F.col(ID_COL) == F.col("ID"),
        "left_anti",
    )


def dedup_within(incoming: DataFrame) -> DataFrame:
    """First-write-wins *within* a batch: one row per ID, smallest
    (publishedDate, lastModifiedDate) first — keeps re-runs deterministic
    when a single feed carries duplicate IDs."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.col(ID_COL)).orderBy(
        F.col("publishedDate").asc_nulls_last(),
        F.col("lastModifiedDate").asc_nulls_last(),
    )
    return (
        incoming.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_ndjson(df: DataFrame, path: str) -> None:
    """S3 staging sink: newline-delimited JSON, overwrite-on-exists
    (mirrors the pre-delete at reference etl.py:100-105). Spark's JSON
    writer emits one compact object per line natively."""
    df.write.mode("overwrite").option("timestampFormat", NVD_TIMESTAMP_FORMAT).json(path)


class NvdStore:
    """Parquet-backed CVE store — the engine's analog of the BigQuery
    ``nvd`` table (columnar at rest, append-only, no enforced uniqueness;
    SURVEY.md §1.1/§1.4).

    Partitioned by ``year(publishedDate)``: the feed's natural per-year
    layout becomes partition pruning for time-scoped queries; at 100 TB
    each year is an independently scannable directory.

    Write layout: an append writes at most one file per year partition it
    touches, whatever the shuffle-partition count; a year above AQE's
    advisory partition size is split into files of about that size.
    Every scan (``count_cves``, the ``cve_ids`` anti-join, end-user SQL)
    therefore opens about one file per year per append that touched it. The
    current year still gains one small file per non-empty refresh pass
    (~72 a day at a 20-minute cadence); compacting it is an open item.

    The sink format is a SEAM, not a constant: parquet is canonical in
    the sandbox, but the reference's store is a warehouse load job
    (bq_nvd/bq.py:171-202) — pointing ``format`` at ``"bigquery"`` (with
    the spark-bigquery connector on the classpath and ``options`` naming
    the table) or any other DataSource V2 sink is a configuration
    change, never a pipeline-code change. ``tests/test_nvd_pipeline.py``
    pins the seam by running the identical pipeline through ORC.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        format: str = "parquet",
        options: dict | None = None,
        schema_path: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.format = format
        self.options = dict(options or {})
        self.schema_path = schema_path

    # -- S6: create-if-not-exists -------------------------------------
    def ensure(self) -> None:
        """DDL analog of the reference's swallow-Conflict create
        (bq_nvd/bq.py:84-110): write an empty partitioned parquet table
        if and only if none exists."""
        if not self.exists():
            empty = self.spark.createDataFrame([], nvd_schema(self.schema_path))
            self._write(empty, mode="overwrite")

    def exists(self) -> bool:
        # Any write (even of an empty frame) leaves a _SUCCESS marker, so
        # a non-empty directory means the table has been created.
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    # -- scans ---------------------------------------------------------
    def read(self) -> DataFrame:
        return (
            self.spark.read.schema(self._partitioned_schema())
            .format(self.format)
            .options(**self.options)
            .load(self.path)
        )

    def cve_ids(self) -> DataFrame:
        """The stored ID column AS A DATAFRAME — never collected to the
        driver (contrast reference bq.py:160-169). Catalyst prunes the
        parquet scan to this single column."""
        return self.read().select(F.col(ID_COL).alias("ID"))

    def count_cves(self) -> int:
        """A1: null-skipping COUNT of the nested ID (reference
        bq.py:125-134); auto-creates the store when absent, mirroring the
        NotFound → make_dataset → 0 path (bq.py:137-140)."""
        if not self.exists():
            self.ensure()
            return 0
        row = self.read().agg(F.count(F.col(ID_COL)).alias("Count")).first()
        return int(row["Count"])

    # -- S5: bulk append ----------------------------------------------
    def append(self, df: DataFrame) -> None:
        """Synchronous bulk load (Spark actions are synchronous, matching
        the reference's deliberate ``load_job.result()`` so set
        calculations read their own writes, bq.py:195-202)."""
        self._write(df, mode="append")

    def _write(self, df: DataFrame, mode: str) -> None:
        # One file per year per append, not one per (shuffle task, year);
        # see "Write layout" in the class docstring.
        (
            df.withColumn(
                "_pub_year", F.coalesce(F.year("publishedDate"), F.lit(0))
            )
            .hint("rebalance", "_pub_year")
            .write.format(self.format)
            .options(**self.options)
            .mode(mode)
            .partitionBy("_pub_year")
            .save(self.path)
        )

    def _partitioned_schema(self):
        from pyspark.sql.types import IntegerType, StructField

        base = nvd_schema(self.schema_path)
        return base.add(StructField("_pub_year", IntegerType(), True))
