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
- the empty-delta short-circuit (A3) rides on the write itself: the
  store's append observes ``count(*)`` inside its own job, and a 0-row
  write commits nothing, mirroring ``len(scrubbed_list) == 0 → None``
  (etl.py:94-96) without a separate counting job.
- sinks: NDJSON (Spark's JSON writer is newline-delimited natively,
  S3) and a parquet store partitioned by ``year(publishedDate)`` — the
  columnar analog of the BigQuery table, with per-year partition
  pruning matching the feed's natural per-year layout. Each append is
  rebalanced on the year column, so it writes at most one file per year
  it touches (AQE splits a year above its advisory partition size into
  files of about that size). The remaining small-file source is the
  current year, which gains one file per non-empty refresh pass (~72 a
  day at the reference's 20-minute cadence); compacting it is deferred.
- the store's state is the put-if-absent commit log of
  ``bq_nvd_spark/commit_log.py``: the stored-CVE count (A1) is read from
  the latest entry with no Spark job, and overlapping writers fail
  loudly instead of appending the same delta twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.commit_log import STAGING_DIR, CommitLog, _data_files
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
    when a single feed carries duplicate IDs.

    The window's shuffle is an explicit ``repartition`` to the session's
    shuffle-partition count, which AQE never coalesces. The store's
    append rebalances this output by year, and AQE can split a year
    above its advisory size only between map tasks: a small batch
    coalesced into one task would write any year as one file."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.col(ID_COL)).orderBy(
        F.col("publishedDate").asc_nulls_last(),
        F.col("lastModifiedDate").asc_nulls_last(),
    )
    n = int(incoming.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        incoming.repartition(n, F.col(ID_COL))
        .withColumn("_rn", F.row_number().over(w))
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

    State is a ``commit_log.CommitLog``: version 0 creates the store,
    each later one is an append with its ``rows``, null-skipping
    ``cves`` and running ``total_cves``. An append commits at the
    version after the one its scan saw, so the store never holds an ID
    twice. ``read()`` stays a directory read: listing the logged files
    instead costs an extra listing job above 32 paths.

    Write layout: an append writes at most one file per year partition it
    touches, whatever the shuffle-partition count; a year above AQE's
    advisory partition size is split into files of about that size.
    Every scan (the ``cve_ids`` anti-join, end-user SQL) therefore opens
    about one file per year per append that touched it. The current year
    still gains one small file per non-empty refresh pass (~72 a day at a
    20-minute cadence); compacting it, as one log commit that removes N
    files and adds one, is deferred.

    The sink format is a SEAM, not a constant: parquet is canonical in
    the sandbox, but the reference's store is a warehouse load job
    (bq_nvd/bq.py:171-202) — pointing ``format`` at ``"bigquery"`` (with
    the spark-bigquery connector on the classpath and ``options`` naming
    the table) or any other DataSource V2 sink is a configuration
    change, never a pipeline-code change. ``tests/test_nvd_pipeline.py``
    pins the seam by running the identical pipeline through ORC; the log
    records files, never format internals.
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
        self.log = CommitLog(path)
        # The log version this handle's last scan saw, or its last append
        # committed: the next append commits only at the version after it.
        self.version: int | None = None
        # The entry the last append committed; None when it wrote no row.
        self.last_commit: dict | None = None

    # -- S6: create-if-not-exists -------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self.log.entry_path(0))

    def ensure(self) -> None:
        """DDL analog of the reference's swallow-Conflict create
        (bq_nvd/bq.py:84-110): commit version 0 unless it exists. A new
        store writes no empty table. A directory written before the log
        (data files, no ``_log/``) is adopted with one scan, its files
        listed in version 0; one holding only ``_temporary/`` is adopted
        as empty."""
        if self.exists():
            return
        files = _data_files(self.path) if os.path.isdir(self.path) else []
        rows = cves = 0
        if files:
            counts = self.read().agg(F.count(F.lit(1)), F.count(F.col(ID_COL))).first()
            rows, cves = int(counts[0]), int(counts[1])
        try:
            self.log.commit({"version": 0, "files": files, "rows": rows, "cves": cves,
                             "total_cves": cves})
        except FileExistsError:
            pass  # a concurrent run created it first

    # -- scans ---------------------------------------------------------
    def read(self) -> DataFrame:
        """Every stored row: pending renames rolled forward, then a
        directory read. Spark lists the files here, so the version seen
        is pinned for the next ``append``."""
        entry = self.log.latest()
        self.version = entry["version"] if entry else None
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
        bq.py:125-134), read from the latest log entry with no Spark job;
        auto-creates the store when absent, mirroring the NotFound →
        make_dataset → 0 path (bq.py:137-140)."""
        self.ensure()
        return self.log.latest()["total_cves"]

    # -- S5: bulk append ----------------------------------------------
    def append(self, df: DataFrame) -> None:
        """Synchronous bulk load (Spark actions are synchronous, matching
        the reference's deliberate ``load_job.result()`` so set
        calculations read their own writes, bq.py:195-202).

        One write into a staging directory, which counts its own rows; a
        0-row write commits nothing. Otherwise the entry commits at the
        version after ``self.version`` and the files are renamed into
        the store. A commit lost to another writer raises
        ``FileExistsError`` and leaves the store as it was. The committed
        entry, or None, is left in ``last_commit``.
        """
        self.last_commit = None
        self.ensure()
        base = self.version if self.version is not None else self.log.latest()["version"]

        def write(staging: str) -> dict | None:
            counts = self._write(df, staging)
            if counts["rows"] == 0:  # A3: nothing new since the last run
                return None
            return {"rows": counts["rows"], "cves": counts["cves"],
                    "total_cves": self.log.entry(base)["total_cves"] + counts["cves"]}

        entry = self.log.publish(base, write)
        if entry is not None:
            self.version, self.last_commit = entry["version"], entry

    def _write(self, df: DataFrame, path: str) -> dict:
        """Write ``df`` to ``path`` with one file per year per append (see
        "Write layout"), and return its ``rows`` and ``cves``, observed
        inside the write's own job. The observation sits above the
        rebalance: below it, a 0-row input loses its metrics, since AQE
        replaces the empty shuffle and ``Observation.get`` then fails."""
        observation = Observation()
        (
            df.withColumn(
                "_pub_year", F.coalesce(F.year("publishedDate"), F.lit(0))
            )
            .hint("rebalance", "_pub_year")
            .observe(observation, F.count(F.lit(1)).alias("rows"),
                     F.count(F.col(ID_COL)).alias("cves"))
            .write.format(self.format)
            .options(**self.options)
            .partitionBy("_pub_year")
            .save(path)
        )
        return observation.get

    def _partitioned_schema(self):
        from pyspark.sql.types import IntegerType, StructField

        base = nvd_schema(self.schema_path)
        return base.add(StructField("_pub_year", IntegerType(), True))


def nvd_store_integrity(store: NvdStore) -> dict:
    """Check a store against its log and change nothing in it.

    One scan counts the non-null IDs and the IDs stored twice; the
    schema of the data files (parquet and ORC carry one) is compared with
    ``nvd_schema.json``; every file an entry lists must exist; the latest
    ``total_cves`` must equal the scanned count. Leftovers in
    ``_staging/`` (a writer that died or lost its commit) are listed but
    kept, and do not fail the check: no scan sees them.
    """
    versions = store.log.versions()
    if not versions:
        raise ValueError(f"{store.path} has no commit log")
    entries = [store.log.entry(v) for v in versions]
    per_id = store.read().groupBy(F.col(ID_COL).alias("ID")).count().filter("ID IS NOT NULL")
    scanned, duplicates = per_id.agg(
        F.coalesce(F.sum("count"), F.lit(0)), F.count(F.when(F.col("count") > 1, 1))
    ).first()
    missing = [f for e in entries for f in e["files"]
               if not os.path.exists(os.path.join(store.path, f))]
    schema_matches = None
    if store.format in ("parquet", "orc") and _data_files(store.path):
        on_disk = (store.spark.read.format(store.format).options(**store.options)
                   .option("mergeSchema", "true").load(store.path).schema)
        schema_matches = on_disk.simpleString() == store._partitioned_schema().simpleString()
    staging = os.path.join(store.path, STAGING_DIR)
    leftovers = sorted(f"{STAGING_DIR}/{n}" for n in os.listdir(staging)) if os.path.isdir(staging) else []
    report = {
        "version": versions[-1],
        "total_cves": entries[-1]["total_cves"],
        "scanned_cves": int(scanned),
        "duplicate_ids": int(duplicates),
        "schema_matches": schema_matches,
        "missing_files": missing,
        "staging_leftovers": leftovers,
    }
    report["ok"] = (report["scanned_cves"] == report["total_cves"] and not duplicates
                    and schema_matches is not False and not missing)
    return report
