"""foreachBatch upsert sink — the warehouse-merge half of SURVEY §2.9.

The pattern a real deployment needs for the reference's "load into
the warehouse" step (reference bq.py:171-202 does a synchronous load
per feed) is **foreachBatch**: each micro-batch arrives as a plain
DataFrame plus a monotonically increasing ``batch_id``, and the sink
merges it into a keyed store transactionally. The stream itself runs
through ``micro_batch.run_available_now(..., foreach_batch=sink)``,
the engine's one stream runner.

The implementation here is the canonical exactly-once recipe from the
Structured Streaming guide, with a copy-on-write *bucketed* layout so
merge cost scales with the delta, not the store:

- the store is hash-bucketed on the merge key: ``bucket =
  pmod(xxhash64(key), n_buckets)``; each bucket directory is
  independently versioned (``b{K}/v{n}``) and each commit-log entry
  (``commit_log.py``) records every bucket's live version plus the
  batch id. Read-modify-write never overwrites the version being read;
- a micro-batch only rewrites the buckets its keys hash into.  A
  small delta against a huge store touches few buckets, so rewrite
  bytes ~ |touched buckets| x bucket size ~ O(|delta|) once
  ``n_buckets`` is sized so a bucket fits a file-group (the same
  copy-on-write contract a lakehouse MERGE INTO gives);
- a replayed batch (a ``batch_id`` at or below the log's after a
  checkpoint recovery) is SKIPPED, which makes the at-least-once
  delivery of foreachBatch exactly-once in effect.  A crash before the
  commit leaves only unlisted staged files, and replace-by-key re-merge
  is idempotent (update mode delivers cumulative values); a crash after
  it is rolled forward by the next read of the log;
- each bucket keeps one live version on disk: right after the commit,
  every other version directory of each touched bucket is deleted.  A
  crash before that cleanup leaves a stray version, which the next
  merge touching the bucket removes;
- the merge itself is a keyed UPSERT (replace-by-key): the store side
  is pruned to the touched buckets *before* the anti-join, so the
  shuffle is |touched-bucket rows| + |batch rows|, exactly what
  ``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
  INSERT`` shuffles on a bucketed lakehouse table.

Scale notes (100 TB): state never lives on the driver — a log entry
is a dict of small integers and file names, and the only ``collect``
is the set of touched bucket ids (bounded by ``n_buckets``).  The
final result is returned as a lazy scan over the live bucket versions;
nothing is materialized driver-side.  See SCALE.md §"foreachBatch
upsert" for the full 100 TB narrative.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.commit_log import CommitLog
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.streaming.micro_batch import run_available_now


class ParquetUpsertStore:
    """Keyed, hash-bucketed parquet store with per-bucket versioned
    commits and batch-id replay dedup (copy-on-write MERGE INTO). A
    merge commits at the version after the one its read of the log saw,
    so of two merges planned on one version the second raises."""

    def __init__(self, root: str, n_buckets: int = 8):
        self.root = root
        self.n_buckets = n_buckets
        self.log = CommitLog(root)
        # Data-file schema memo (optimization round 17): the merge
        # contract fixes the row schema for the store's lifetime, yet
        # every per-batch touched-bucket read and every current() scan
        # re-ran parquet footer inference (~120 ms of driver time each).
        # Captured from the first read; explicit schema reads skip the
        # inference thereafter. Metadata only — the data itself is
        # re-scanned on every action.
        self._data_schema = None

    def _read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """Scan bucket-version dirs with the memoized data schema."""
        if self._data_schema is not None:
            return spark.read.schema(self._data_schema).parquet(*paths)
        df = spark.read.parquet(*paths)
        self._data_schema = df.schema
        return df

    def _latest(self) -> dict:
        path = os.path.join(self.root, "manifest.json")
        if os.path.exists(path):
            # Written before the commit log, whose reads cannot see its
            # data: refuse rather than start an empty store beside it.
            raise ValueError(
                f"{path} is a legacy store manifest; "
                "migrate it by re-ingesting into a fresh store directory"
            )
        return self.log.latest() or {"version": -1, "batch_id": -1, "buckets": {}}

    def _bucket_paths(self, buckets: dict, only: set | None = None) -> list[str]:
        return [
            os.path.join(self.root, f"b{k}", f"v{v}")
            for k, v in buckets.items()
            if only is None or int(k) in only
        ]

    def current(self, spark: SparkSession) -> DataFrame | None:
        """Lazy scan over every bucket's live version (no materialization)."""
        buckets = self._latest()["buckets"]
        if not buckets:
            return None
        return self._read(spark, self._bucket_paths(buckets))

    def merge_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        key: str,
        delete_col: str | None = None,
    ) -> None:
        """Upsert updated keys into the store, exactly once per batch.

        ``batch_df`` carries (key, new cumulative values) for every key
        the batch changed (update output mode), so the merge replaces
        matching keys and inserts new ones — never re-adds.  Only the
        hash buckets containing the batch's keys are rewritten.

        ``delete_col`` names an optional boolean tombstone column (CDC
        feeds carry one): marked rows have their keys REMOVED from the
        store instead of upserted — ``MERGE ... WHEN MATCHED AND
        is_deleted THEN DELETE``.  Tombstoned keys still count as
        touched (their buckets are rewritten without them), and the
        column itself never reaches the stored data."""
        m = self._latest()
        if batch_id <= m["batch_id"]:
            return  # replayed batch after recovery — already applied
        spark = batch_df.sparkSession
        # The merge consumes the batch THREE times (touched-bucket ids,
        # the anti-join key set, the upsert union); without
        # materialization each consumer re-executes the upstream
        # micro-batch plan INCLUDING the stateful aggregation's
        # state-store read — measured at ~0.3 s/batch of pure recompute
        # at sf0.1 (SCALE.md, streaming floor). localCheckpoint
        # (NOT persist: caching a streaming batch plan with a projection
        # over the stateful aggregate trips an attribute-resolution bug
        # in the incremental planner — `key not found: user_id#…` —
        # while the checkpoint's fresh LogicalRDD lineage is immune)
        # materializes the O(|batch keys|) delta once; its pin is
        # released at commit through the engine's one pin path.
        from bq_nvd_spark.operators.checkpoint import (
            _unpersist_ids,
            local_checkpoint,
        )

        # LAZY checkpoint: the touched-bucket collect below is the first
        # action and materializes it — an eager checkpoint would spend a
        # whole extra job on materialization alone (~one scheduling
        # round-trip per batch on the per-batch floor). The RDD still
        # registers in persistentRdds at call time, so the release
        # bookkeeping is unaffected.
        batch_df, rdd_id = local_checkpoint(batch_df, eager=False)
        try:
            self._merge_cached(batch_df, batch_id, key, delete_col, m, spark)
        finally:
            _unpersist_ids(spark.sparkContext, {rdd_id})

    def _merge_cached(
        self,
        batch_df: DataFrame,
        batch_id: int,
        key: str,
        delete_col: str | None,
        m: dict,
        spark: SparkSession,
    ) -> None:
        bucket_of = F.pmod(F.xxhash64(F.col(key)), F.lit(self.n_buckets)).cast("int")
        upserts = batch_df
        if delete_col is not None:
            # Tombstones: their keys join the anti-join (removing the old
            # rows) but contribute no replacement rows.
            upserts = batch_df.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
            batch_df = batch_df.drop(delete_col)
        batch_df = batch_df.withColumn("__bucket", bucket_of)
        upserts = upserts.withColumn("__bucket", bucket_of)
        # The only driver materialization: the touched-bucket id set,
        # bounded by n_buckets regardless of store or delta size.
        touched = {
            r["__bucket"] for r in batch_df.select("__bucket").distinct().collect()
        }
        old_paths = self._bucket_paths(m["buckets"], only=touched)
        if not old_paths:
            combined = upserts
        else:
            # Partition pruning by construction: only touched buckets
            # are scanned, so the anti-join shuffles O(|delta|)-scale
            # rows, never the whole store.
            # partitionBy strips __bucket from data files; recompute it
            # from the key (it is derivable — that is why hash-bucketing
            # needs no stored column).
            old = self._read(spark, old_paths).withColumn("__bucket", bucket_of)
            # Null-safe equality: a NULL merge key (streaming groupBy
            # emits a NULL group when the raw key is NULL) must replace /
            # delete the store's NULL row — plain `on=key` would never
            # match it and NULL rows would duplicate every batch.
            # (xxhash64(NULL) is the seed, not NULL, so NULL keys live in
            # an ordinary bucket and reach this join.)
            keys = batch_df.select(key).alias("__b")
            kept = old.alias("__o").join(
                keys,
                F.col(f"__o.{key}").eqNullSafe(F.col(f"__b.{key}")),
                "left_anti",
            )
            combined = kept.unionByName(upserts)
        version = m["version"] + 1

        def write(staging: str) -> dict:
            combined.repartition("__bucket").write.partitionBy("__bucket").parquet(staging)
            buckets = {k: v for k, v in m["buckets"].items() if int(k) not in touched}
            for k in touched:
                # Each written bucket partition becomes the bucket's next
                # version. A bucket the tombstones emptied has no partition
                # dir, and so leaves the live map.
                src = os.path.join(staging, f"__bucket={k}")
                if os.path.exists(src):
                    os.makedirs(os.path.join(staging, f"b{k}"))
                    os.rename(src, os.path.join(staging, f"b{k}", f"v{version}"))
                    buckets[str(k)] = version
            return {"batch_id": batch_id, "buckets": buckets}

        buckets = self.log.publish(m["version"], write)["buckets"]
        # One live version per bucket. The write job above has finished
        # and current() lists only live versions, so nothing reads a
        # superseded version of a touched bucket after the commit; drop
        # them all (an emptied bucket keeps none), including a stray one
        # a crash left between an earlier commit and its cleanup.
        for k in touched:
            bucket_dir = os.path.join(self.root, f"b{k}")
            live = f"v{buckets[str(k)]}" if str(k) in buckets else None
            for v in os.listdir(bucket_dir) if os.path.isdir(bucket_dir) else []:
                if v != live:
                    shutil.rmtree(os.path.join(bucket_dir, v), ignore_errors=True)


def _staged_event_chunks(spark: SparkSession, sf_dir: str, stage_dir: str, n: int):
    """Split the events table into n parquet chunk directories so the
    file stream (maxFilesPerTrigger=1) delivers the events across n
    micro-batches.  Chunking by ``pmod(event_id, n)`` is deterministic,
    needs no global sort and no driver-side max(), and fills every
    residue class for any realistically dense id fixture; if a residue
    were empty the stream simply delivers fewer batches — the merge
    result is split-independent (integer sums commute).

    Returns the event schema so callers never re-read a chunk directory
    that may not exist (partition columns are stripped from data files,
    so ``ev.schema`` is exactly the streamed schema)."""
    # Raw footer-schema read (NOT load_table: its nanos->timestamp
    # repair would change the staged chunk schema); the schema memo
    # skips the per-invocation footer inference.
    from bq_nvd_spark.sources.tables import table_schema

    path = f"{sf_dir}/events.parquet"
    ev = spark.read.schema(table_schema(spark, path)).parquet(path)
    # One partitioned write emits every chunk directory in a single pass
    # (repartition on the chunk key -> each chunk lands as one file, so
    # maxFilesPerTrigger=1 still yields one micro-batch per chunk).
    (
        ev.withColumn("chunk", F.pmod(F.col("event_id"), F.lit(n)).cast("int"))
        .repartition("chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(stage_dir)
    )
    return ev.schema


#: process-scoped staged-chunk memo (optimization round 17): the chunk
#: layout is a pure function of (sf_dir, n) — pmod(event_id, n) over an
#: immutable fixture — yet BOTH registered merge streams re-ran the
#: stage write inside every invocation. The stage is read-only once
#: written (each invocation's store/checkpoint stay private and fresh),
#: so one write per process serves every later stream start. Same
#: session-memo class as operators/checkpoint.py::shared_stage; dirs
#: ride the _durable_workdir lifecycle (dead-owner GC + atexit wipe).
_STAGE_BASE: str | None = None
_STAGE_MEMO: dict = {}


def _shared_event_stage(spark: SparkSession, sf_dir: str, n: int):
    """(stage_dir, schema) for the n-chunk staged events table,
    written at most once per (process, sf_dir, n)."""
    global _STAGE_BASE
    if _STAGE_BASE is None:
        _STAGE_BASE = _durable_workdir("stage")
    key = (sf_dir, n)
    hit = _STAGE_MEMO.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        return hit
    # Dir name derived from the KEY (not dict size): a dict-length name
    # collides after the missing-dir recovery path above bumps one
    # entry, and mode("overwrite") would then silently wipe another
    # key's staged chunks.
    import hashlib

    tag = hashlib.md5(repr(key).encode()).hexdigest()[:12]
    d = os.path.join(_STAGE_BASE, f"c{tag}")
    schema = _staged_event_chunks(spark, sf_dir, d, n=n)
    hit = (d, schema)
    _STAGE_MEMO[key] = hit
    return hit


def _proc_start_token(pid: int) -> str | None:
    """The process's kernel start time (clock ticks since boot, field 22
    of /proc/<pid>/stat) — a token that distinguishes two processes
    that reused the same PID.  None when unreadable (no /proc, or the
    process is gone/unreadable)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read().decode("ascii", "replace")
        # comm can contain spaces/parens; fields are counted after the
        # LAST ')' per proc(5).
        return stat.rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


_CREATED_WORKDIRS: set[str] = set()


def _cleanup_workdirs() -> None:
    for path in _CREATED_WORKDIRS:
        shutil.rmtree(path, ignore_errors=True)


def _durable_workdir(tag: str) -> str:
    """A per-query scratch dir that OUTLIVES the query call, so the
    returned DataFrame stays a lazy scan (the driver collects after we
    return).  The dir is scoped by (pid, process-start-token): a
    concurrent process (driver vs bench, two mirror runs) can never
    wipe a store another session's lazy DataFrame still reads, and a
    REUSED pid cannot masquerade as a live owner (the start token
    differs).  Our own previous run's dir is wiped on entry (the
    consume-before-reinvoke contract: callers consume results before
    re-invoking), dirs left by dead processes are garbage-collected,
    and an atexit hook removes this process's dirs so the final run
    does not leak /tmp space."""
    base = tempfile.gettempdir()
    prefix = f"bq_nvd_{tag}_"
    my_token = _proc_start_token(os.getpid()) or "0"
    for name in os.listdir(base):
        if not name.startswith(prefix):
            continue
        ident = name[len(prefix):]
        pid_s, _, token = ident.partition("_")
        try:
            pid = int(pid_s)
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if the owner is gone
            alive = True
        except ProcessLookupError:
            alive = False
        except PermissionError:
            alive = True  # alive under another uid — leave it
        if alive and token:
            # PID exists but may be a different (reused) process: declare
            # the owner dead ONLY on a positive token mismatch. An
            # unreadable token (no /proc, hidepid, other-uid) cannot
            # disprove liveness — keep the dir rather than wiping a
            # store another live session's lazy DataFrame still reads.
            observed = _proc_start_token(pid)
            if observed is not None and observed != token:
                alive = False
        if not alive:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    work = os.path.join(base, f"{prefix}{os.getpid()}_{my_token}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    if not _CREATED_WORKDIRS:
        atexit.register(_cleanup_workdirs)
    _CREATED_WORKDIRS.add(work)
    return work


def _user_totals(raw: DataFrame, *extra: Column) -> DataFrame:
    """Per-user partial aggregate of the event stream: event count and
    integer cents, plus any ``extra`` aggregate columns."""
    return raw.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("bigint")).alias(
            "cents"
        ),
        *extra,
    )


def _merge_stream(
    spark: SparkSession,
    sf_dir: str,
    work: str,
    n_chunks: int,
    partials: Callable[[DataFrame], DataFrame],
    delete_col: str | None = None,
) -> DataFrame:
    """The body both merge streams share: stage the events into
    ``n_chunks`` file chunks, stream them (one micro-batch per chunk)
    through ``partials`` into a foreachBatch merge sink keyed on
    ``user_id``, and return the final store's lazy scan."""
    stage, schema = _shared_event_stage(spark, sf_dir, n_chunks)
    store = ParquetUpsertStore(os.path.join(work, "store"))
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "chunk=*"))
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_batch(batch_df, batch_id, key="user_id", delete_col=delete_col)

    run_available_now(partials(raw), output_mode="update", foreach_batch=sink)
    final = store.current(spark)
    if final is None:  # empty source or all tombstoned -> empty, not a crash
        return spark.createDataFrame([], "user_id long, n_events long, cents bigint")
    return final.select("user_id", "n_events", "cents")


@query(
    "streaming_upsert_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM events
    GROUP BY user_id
    """,
)
def streaming_upsert_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals maintained by a foreachBatch merge sink
    across ~4 micro-batches; the final store must equal the one-shot
    batch aggregate (the oracle) regardless of how events were split.
    Returns the store's lazy scan — no driver-side materialization.

    Consume-before-reinvoke: the returned DataFrame reads this
    process's scratch store, which the NEXT in-process invocation of
    this query wipes — collect the result before re-invoking."""
    work = _durable_workdir("upsert")
    return _merge_stream(spark, sf_dir, work, 4, _user_totals)


def _cdc_totals(raw: DataFrame) -> DataFrame:
    """User totals plus the tombstone verdict: the user's latest event
    (by event_id) is an ``error``."""
    return _user_totals(
        raw, F.max_by("event_type", "event_id").alias("last_type")
    ).select(
        "user_id",
        "n_events",
        "cents",
        (F.col("last_type") == "error").alias("is_deleted"),
    )


@query(
    "streaming_cdc_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM events
    GROUP BY user_id
    HAVING arg_max(event_type, event_id) <> 'error'
    """,
)
def streaming_cdc_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: per-user totals where a user whose LATEST event (by
    event_id) is an ``error`` is tombstoned out of the store — ``MERGE
    ... WHEN MATCHED AND is_deleted THEN DELETE``.

    The tombstone verdict is a cumulative streaming aggregate
    (``max_by(event_type, event_id)``), so each micro-batch re-emits a
    changed user with their CURRENT verdict: a user deleted in batch 2
    reappears in batch 3 when a newer non-error event arrives.  That
    makes the final store split-independent — it must equal the batch
    oracle for ANY chunking of the events — which is exactly the
    replay-safe CDC contract.  Same bucketed copy-on-write store and
    stream body as ``streaming_upsert_user_totals``; deletes rewrite
    only the buckets the tombstoned keys hash into.

    Consume-before-reinvoke: the returned DataFrame reads this
    process's scratch store, which the NEXT in-process invocation of
    this query wipes — collect the result before re-invoking."""
    work = _durable_workdir("cdc")
    return _merge_stream(
        spark, sf_dir, work, 4, _cdc_totals, delete_col="is_deleted"
    )
