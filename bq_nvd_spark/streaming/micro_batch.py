"""Structured Streaming formulations of the incremental plans (SURVEY §2.9).

The reference's incremental mode is a 20-minute CronJob re-running a batch
job (reference cronjob.yml:6, bq-nvd.py:70-104). Spark's native shape for
exactly that contract is a **file-source stream with
``Trigger.AvailableNow``**: each activation drains whatever landed since
the last checkpoint in bounded micro-batches, then exits — a scheduled
batch job with streaming's bookkeeping (exactly-once file tracking,
keyed state) for free.

Streaming forms of the batch plans, each equivalent to its twin:

- ``streaming_tumbling_counts`` / ``streaming_sliding_counts`` —
  event-time window aggregations (T4). Complete output mode: with
  AvailableNow every activation ends with the full corrected aggregate,
  mirroring the reference's re-run-and-overwrite semantics.
- ``streaming_dedup_keys`` — keyed first-write-wins dedup (T3,
  reference etl.py:87-88) via ``dropDuplicates`` state. Projected to the
  key columns so the emitted row-set is deterministic (which *row* wins
  under arrival order is not; which *keys* exist is).
- ``stateful.py`` (sibling module) — the applyInPandasWithState custom
  stateful operator.

Every stream in the engine, memory sink or foreachBatch, starts in
``run_available_now``: it owns the drain's temporary checkpoint, the
AvailableNow trigger, ``awaitTermination`` and the state-store width
(``STATE_PARTITIONS``). The registered queries here drain into a
memory sink and return the result as a plain DataFrame, so the
driver's DuckDB oracle hash-checks the streaming path end to end.

Scale notes (100 TB): the file source lists and checkpoints incremental
files only — a steady-state activation reads the delta, not the lake.
Window/dedup state shuffles once on its key; in an unbounded deployment
the dedup would be ``dropDuplicatesWithinWatermark`` and the window agg
would carry ``withWatermark`` + append mode to bound state — with
AvailableNow's finite runs, complete/global forms keep results exact.
"""

from __future__ import annotations

import itertools
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from bq_nvd_spark.plans.curation import (
    C4_CENSUS_ORACLE,
    C4_KEPT_DOCS_ORACLE,
    GOPHER_CENSUS_ORACLE,
    REPETITION_CENSUS_ORACLE,
    c4_census_kernel,
    c4_kept_docs_kernel,
    c4_rules_kernel,
    gopher_census_kernel,
    repetition_gate_census,
)
from bq_nvd_spark.plans.events import SLIDING_COUNTS_ORACLE
from bq_nvd_spark.plans.privacy import PII_CENSUS_ORACLE, scrub_census
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import nanos_to_timestamp, table_schema

_SINK_IDS = itertools.count()

#: State-store count of every stream. A streaming query pins its
#: state-store count to ``spark.sql.shuffle.partitions`` at first start,
#: and each store commits its own snapshot files per batch, so a stream
#: whose state is thousands of keys wants a handful of stores, not the
#: session's batch-shuffle width (32 stores × file I/O dominates
#: small-state micro-batches; a 100 TB keyspace would size this UP).
STATE_PARTITIONS = 8


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Footer-schema file-source stream over one store table.

    The stream schema is the batch reader's footer-derived schema (one
    driver-side footer read at plan time — no data scan), so a stream
    and its batch twin always agree on arrival types. The file source
    derives basePath from the path and requires a directory; the store
    lays tables out as single files, so glob the table file (a glob
    makes the source anchor basePath at ``sf_dir``).
    """
    batch_schema = table_schema(spark, f"{sf_dir}/{table}.parquet")
    return (
        spark.readStream.schema(batch_schema)
        .parquet(f"{sf_dir}/{table}.parquet*")
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet, ts as a true timestamp
    (the nanos→timestamp repair applies only when the footer says long).
    """
    raw = stream_table(spark, sf_dir, "events")
    if isinstance(raw.schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", nanos_to_timestamp("ts"))
    else:
        # TIMESTAMP_NTZ footer: watermarks demand TIMESTAMP (LTZ) —
        # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise. The cast is an
        # identity wall-clock shift under the engine's pinned UTC zone.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def run_available_now(
    df: DataFrame,
    *,
    output_mode: str,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame | None:
    """Drain a streaming DataFrame with Trigger.AvailableNow — the one
    place in the engine that starts a stream.

    Without ``foreach_batch`` the drain lands in a memory sink and the
    materialized result comes back as a batch DataFrame; the sink's
    session view is dropped before returning (the DataFrame keeps the
    resolved sink plan), so drains leave no temp views behind. With
    ``foreach_batch``, each micro-batch goes to
    ``foreach_batch(batch_df, batch_id)`` and the call returns None. The
    checkpoint is a temporary directory that lives for the drain only.

    The stateful-operator width is ``STATE_PARTITIONS`` for the drain
    and the session's ``spark.sql.shuffle.partitions`` is restored
    afterwards, also when the stream fails: micro-batches plan
    asynchronously after ``start()``, and the stream runs synchronously
    to completion here, so nothing else compiles plans in between.
    """
    spark = df.sparkSession
    writer = df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if foreach_batch is None:
        name = f"available_now_{next(_SINK_IDS)}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch)
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        with tempfile.TemporaryDirectory(prefix="bq_nvd_ckpt_") as ckpt:
            writer.option("checkpointLocation", ckpt).start().awaitTermination()
        return spark.table(name) if foreach_batch is None else None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        if foreach_batch is None:
            spark.catalog.dropTempView(name)


# --------------------------------------------------------------------------
# T4 streaming: tumbling event-time window over the stream.
@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT
      DATE_TRUNC('hour', ts)  AS window_start,
      event_type,
      COUNT(*)                AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_available_now(agg, output_mode="complete")


# --------------------------------------------------------------------------
# T3 streaming: keyed dedup via dropDuplicates state.
@query(
    "streaming_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_available_now(deduped, output_mode="append")


# --------------------------------------------------------------------------
# T3 streaming, bounded-state form: dropDuplicatesWithinWatermark — the
# API an UNBOUNDED deployment must use, because plain dropDuplicates
# state grows with every key ever seen while the watermarked form evicts
# keys older than the delay. Pinned here with a delay wider than the
# fixture's event-time span, so eviction never fires inside the drain
# and the emitted key-set equals the global distinct — giving the
# bounded-state API an exact oracle instead of a rows-only check.
@query(
    "streaming_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    deduped = (
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(deduped, output_mode="append")


# --------------------------------------------------------------------------
# T4 streaming: sliding event-time window over the stream.
@query("streaming_sliding_counts", oracle=SLIDING_COUNTS_ORACLE)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows double the per-event state writes (each event
    lands in two windows); complete mode keeps the AvailableNow drain
    equal to the batch aggregate, same as the tumbling twin."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return run_available_now(agg, output_mode="complete")


# --------------------------------------------------------------------------
# T4 streaming: session windows (30-minute gap) over the stream — the
# stateful operator whose window boundaries depend on the data itself
# (sessions merge as events arrive). Oracle: gaps-and-islands.
@query(
    "streaming_session_counts",
    oracle="""
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )
    return run_available_now(agg, output_mode="complete")


# --------------------------------------------------------------------------
# T4 streaming: stream-stream INNER join with an event-time range
# condition — clicks within 10 minutes after an error by the same user.
# Inner joins emit each match as it occurs, so a finite AvailableNow
# drain produces exactly the batch join; the watermarks exist to bound
# the join state (each side can discard rows older than the watermark
# minus the range width — the knob that keeps state finite on an
# unbounded deployment).
@query(
    "streaming_click_error_join",
    oracle="""
    SELECT e.event_id AS error_id, c.event_id AS click_id,
           e.user_id AS user_id
    FROM events e
    JOIN events c
      ON c.user_id = e.user_id
     AND c.event_type = 'click'
     AND c.ts >  e.ts
     AND c.ts <= e.ts + INTERVAL 10 MINUTE
    WHERE e.event_type = 'error'
    """,
)
def streaming_click_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("e_ts"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("error_id", "click_id", "user_id")
    return run_available_now(joined, output_mode="append")


# --------------------------------------------------------------------------
# T4 streaming: stream-STATIC enrichment join — the lookup/dimension
# shape every event pipeline runs (enrich the stream with slowly-
# changing reference data). Unlike a stream-stream join this keeps NO
# join state: the static side is re-resolved per micro-batch and
# broadcast while its STATIC size estimate (parquet stats; AQE is
# disabled inside streaming queries) stays under the threshold — no
# hint, because the customer dim grows with SF and a forced broadcast
# of a warehouse-scale dim would OOM every micro-batch. Past the
# threshold the planner shuffles the (small) batch against the dim
# instead; either way join state stays empty no matter how long the
# stream runs, which is what keeps this shape viable at 100 TB/day.
@query(
    "streaming_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bq_nvd_spark.sources.tables import load_table

    ev = stream_events(spark, sf_dir).select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(cust, "user_id")
    agg = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
            "total_cents"
        ),
    )
    return run_available_now(agg, output_mode="complete")


# --------------------------------------------------------------------------
# T4 × E7: APPROXIMATE distinct counting inside a streaming aggregation.
# Exact COUNT(DISTINCT) is unsupported in streaming (state would be the
# full per-group value set — unbounded); approx_count_distinct is the
# operator Structured Streaming actually offers at 100 TB: per-group
# state is a ~KB HLL++ register set regardless of cardinality, and the
# register merge is order/partitioning-independent, so AvailableNow
# drains of any chunking agree. Contract shape: the oracle emits the
# exact per-day cardinality (DuckDB, batch) plus literal TRUE; Spark
# joins the STREAMED estimate against the batch-exact side and computes
# the accuracy bound (3.5σ at rsd=0.02), so the driver hash fails if streaming HLL drifts —
# same gate as plans/sketches.py::sketch_distinct_accuracy but across
# the streaming engine.
@query(
    "streaming_approx_daily_users",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY 1
    """,
)
def streaming_approx_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bq_nvd_spark.plans.sketches import RSD
    from bq_nvd_spark.sources.tables import load_table

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id", RSD).alias("approx_users"))
        .select(F.col("w.start").cast("date").alias("day"), "approx_users")
    )
    streamed = run_available_now(agg, output_mode="complete")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    from bq_nvd_spark.plans.sketches import sketch_within_bound

    return exact.join(streamed, "day").select(
        "day",
        "exact_users",
        sketch_within_bound(
            F.col("approx_users"), F.col("exact_users")
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# T4 × E12: the PII scrub as a stream. Privacy redaction is the
# curation stage most naturally run ON INGEST — scrub documents as they
# land, before anything else persists them — and because the kernel is
# a stateless per-row projection (plans/privacy.py::scrub_census), the
# streaming form reuses it VERBATIM: only the final per-source census
# aggregate carries state (|sources| rows, complete mode). AvailableNow
# drains the landed files in bounded micro-batches; at 100 TB a
# steady-state activation scrubs the delta, never the lake, and the
# stateless scrub stays inside whole-stage codegen per batch. The
# oracle is the batch census SQL — stateless kernel + deterministic
# fixture means the streamed result must equal it exactly.
@query("streaming_pii_scrub", oracle=PII_CENSUS_ORACLE)
def streaming_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        scrub_census(stream_table(spark, sf_dir, "documents")),
        output_mode="complete",
    )


# --------------------------------------------------------------------------
# T4 × E4/E6 (round 14): the repetition gate as an INGEST stream — the
# Gopher duplicate-bigram rule applied to documents as they land, the
# same scrub-on-ingest posture as streaming_pii_scrub. The batch
# census's per-(doc, gram) → per-doc → per-source chain is three
# stateful aggregations and cannot stream, so the streaming twin runs
# the STATELESS row-local HOF form of the same integers
# (plans/curation.py::repetition_gate_census) + one complete-mode
# per-source census (|sources| rows of state). The oracle is the batch
# census SQL, and a pytest additionally pins the two kernels —
# explode+groupBy vs row-local HOF — equal on the driver fixture: two
# independent implementations of one contract.
@query("streaming_repetition_gate", oracle=REPETITION_CENSUS_ORACLE)
def streaming_repetition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        repetition_gate_census(stream_table(spark, sf_dir, "documents")),
        output_mode="complete",
    )


# --------------------------------------------------------------------------
# T4 × E4/E6 (round 15): the full Gopher quality gate as an INGEST
# stream — the third member of the scrub-on-ingest family
# (streaming_pii_scrub, streaming_repetition_gate). The gate is
# already the streamable shape: five stateless per-row rules
# (plans/curation.py::gopher_rules_kernel) into ONE complete-mode
# per-source census (|sources| rows of state) — no multi-aggregation
# chain to re-derive. Oracle = the batch census SQL, shared verbatim.
@query("streaming_gopher_gate", oracle=GOPHER_CENSUS_ORACLE)
def streaming_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        gopher_census_kernel(stream_table(spark, sf_dir, "documents")),
        output_mode="complete",
    )


# --------------------------------------------------------------------------
# T4 × E4 (round 17): the C4 gate as an INGEST stream — the fourth
# member of the scrub-on-ingest family. Like the Gopher gate, the C4
# census is already the streamable shape: per-row HOF rules
# (plans/curation.py::c4_rules_kernel) into ONE complete-mode
# per-source census (|sources| rows of state). Oracle = the batch
# census SQL, shared verbatim.
@query("streaming_c4_gate", oracle=C4_CENSUS_ORACLE)
def streaming_c4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        c4_census_kernel(stream_table(spark, sf_dir, "documents")),
        output_mode="complete",
    )


# --------------------------------------------------------------------------
# T4 × E4 (round 17): the C4 TRANSFORM as an ingest stream — the
# scrub-on-ingest family so far streams CENSUSES (complete-mode
# aggregates); this is its first row-emitting transform twin: each
# micro-batch emits its surviving pages rebuilt from their kept
# lines, append mode, ZERO state (every C4 decision is row-local —
# the property that makes the batch rebuild shuffle-free makes the
# stream stateless). At 100 TB this is the landing-zone cleaner: the
# delta is filtered and rewritten as it arrives, never the lake.
# Oracle = the batch transform's SQL verbatim; the memory sink's
# union of batches equals the batch result exactly because the
# kernel is deterministic per row.
@query("streaming_c4_kept_docs", oracle=C4_KEPT_DOCS_ORACLE)
def streaming_c4_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        c4_kept_docs_kernel(
            c4_rules_kernel(stream_table(spark, sf_dir, "documents"))
        ),
        output_mode="append",
    )
