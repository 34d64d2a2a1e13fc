"""Event-time windowing and incremental-dedup surface (SURVEY.md §2.9).

The reference's "streaming" is a 20-minute CronJob re-running a batch
pipeline with first-write-wins dedup (reference cronjob.yml:6,
bq_nvd/etl.py:80-92). Here the same semantics are expressed with Spark's
event-time operators — tumbling/sliding/session windows and keyed
first-row dedup — in batch form so the DuckDB oracle can verify them;
``bq_nvd_spark.streaming`` carries the readStream formulations of the
same plans.

All window aggregations shuffle once on (window, key) — at 100 TB the
watermark (streaming variant) bounds state, and AQE handles key skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# T4: tumbling event-time window.
@query(
    "tumbling_window_hourly",
    oracle="""
    SELECT
      DATE_TRUNC('hour', ts)        AS window_start,
      event_type,
      COUNT(*)                      AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# T4: sliding window (1h length, 30m slide) — each event lands in exactly
# two windows. Oracle formulation: a window starting at trunc30(ts) and one
# 30 minutes earlier both satisfy start <= ts < start + 1h. Shared with
# the streaming twin (``streaming/micro_batch.py::streaming_sliding_counts``).
SLIDING_COUNTS_ORACLE = """
    SELECT window_start, COUNT(*) AS n_events
    FROM (
      SELECT UNNEST([
        DATE_TRUNC('hour', ts) + CASE WHEN EXTRACT(minute FROM ts) >= 30
                                      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
        DATE_TRUNC('hour', ts) + CASE WHEN EXTRACT(minute FROM ts) >= 30
                                      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
          - INTERVAL 30 MINUTE
      ]) AS window_start
      FROM events
    )
    GROUP BY window_start
    """


@query("sliding_window_hourly_30m", oracle=SLIDING_COUNTS_ORACLE)
def sliding_window_hourly_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


# --------------------------------------------------------------------------
# T4: session window (30-minute gap) per user. Oracle: classic
# gaps-and-islands — a new session starts when the gap from the previous
# event exceeds 30 minutes; session_start is the first event's timestamp.
@query(
    "session_window_per_user",
    oracle="""
    SELECT user_id,
           MIN(ts)              AS session_start,
           COUNT(*)             AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def session_window_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# T3: first-write-wins keyed dedup — the reference's idempotent re-run
# semantics (existing ID wins, bq_nvd/etl.py:87-88) as a deterministic
# first-row-per-key plan (streaming variant: dropDuplicates with state).
@query(
    "first_event_per_user_type",
    oracle="""
    SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
    FROM (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def first_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# F6: JSON extraction from a string column (the reference round-trips JSON
# at every stage — etl.py:43,110; here the in-query from_json equivalent).
@query(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") > 50)


# --------------------------------------------------------------------------
# F5: date arithmetic — ship delay per order month (datediff between the
# fact's two date columns, date_trunc bucketing, integer-day stats).
@query(
    "ship_delay_by_month",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS order_month,
           COUNT(*)                           AS n_lines,
           MIN(DATE_DIFF('day', o.o_orderdate, l.l_shipdate)) AS min_delay_days,
           MAX(DATE_DIFF('day', o.o_orderdate, l.l_shipdate)) AS max_delay_days,
           CAST(FLOOR(AVG(DATE_DIFF('day', o.o_orderdate, l.l_shipdate)) * 100 + 0.5)
                AS BIGINT) AS avg_delay_x100
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def ship_delay_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    delay = F.datediff("l_shipdate", "o_orderdate")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min(delay).alias("min_delay_days"),
            F.max(delay).alias("max_delay_days"),
            F.floor(F.avg(delay) * 100 + 0.5).cast("bigint").alias("avg_delay_x100"),
        )
    )


# --------------------------------------------------------------------------
# Hypertable-style gap-fill: the time-series rollup's missing buckets
# are materialized from a generated month spine (one row per nation x
# month between that nation's first and last urgent order) and
# forward-filled with the last observed value. The spine is
# sequence+explode over per-nation integer bounds — |nations| input
# rows exploding to |nations x months|, never a cross join against a
# calendar table — and the fill is last_value(IGNORE NULLS) over the
# month order, one shuffle on the nation key shared by spine build,
# join, and fill window.
@query(
    "monthly_urgent_gapfill",
    oracle="""
    WITH rev AS (
      SELECT n.n_name,
             CAST((EXTRACT(year FROM o.o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o.o_orderdate) - 1 AS INTEGER) AS mo,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderpriority = '1-URGENT'
      GROUP BY 1, 2
    ),
    b AS (SELECT n_name, MIN(mo) AS lo, MAX(mo) AS hi FROM rev GROUP BY 1),
    spine AS (
      SELECT n_name, CAST(UNNEST(range(lo, hi + 1)) AS INTEGER) AS mo FROM b
    )
    SELECT s.n_name, s.mo,
           last_value(r.cents IGNORE NULLS) OVER (
             PARTITION BY s.n_name ORDER BY s.mo) AS cents,
           r.cents IS NULL AS filled
    FROM spine s
    LEFT JOIN rev r ON r.n_name = s.n_name AND r.mo = s.mo
    """,
)
def monthly_urgent_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mo = (
        (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
    ).cast("int")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", mo.alias("mo"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    spine = (
        rev.groupBy("n_name")
        .agg(F.min("mo").alias("lo"), F.max("mo").alias("hi"))
        .select(
            "n_name",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("mo"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("mo")
    joined = spine.join(
        rev.withColumnRenamed("cents", "raw_cents"), ["n_name", "mo"], "left"
    )
    return joined.select(
        "n_name",
        "mo",
        F.last("raw_cents", ignorenulls=True).over(w).alias("cents"),
        F.col("raw_cents").isNull().alias("filled"),
    )


# --------------------------------------------------------------------------
# F6+: VARIANT semi-structured access. ``get_json_object`` re-parses
# the JSON string at every extraction; ``parse_json`` decodes it ONCE
# into Spark 4's binary VARIANT encoding and ``variant_get`` then reads
# typed paths without re-parsing — at 100 TB of event payloads with
# several extracted fields, parse-once-read-many is the difference
# between one string parse per field and one per row. The oracle uses
# DuckDB's JSON type the same way.
@query(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


# --------------------------------------------------------------------------
# A4+: grouped statistical moments → correlation and least-squares fit.
# Spark's corr()/covar_samp()/regr_* aggregate floats, whose summation
# order varies with partitioning — not hash-gateable. Instead every
# moment (Σx, Σy, Σxy, Σx², Σy²) is an INTEGER sum over integer-cent /
# integer-k rows — exact, order-independent, overflow-safe in BIGINT at
# these magnitudes (and the same moments stream map-side-combined at
# 100 TB; a production variant widens to DECIMAL(38,0)). Correlation
# and the regression slope/intercept then derive from the moments with
# a fixed sequence of double ops on identical integers — deterministic
# cross-engine, floor-fixed to 1e-6.
@query(
    "moment_stats_by_type",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(k)  AS sx, SUM(cents) AS sy,
             SUM(k * cents) AS sxy,
             SUM(k * k) AS sxx, SUM(cents * cents) AS syy
      FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
      )
      GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
           CAST(sxy AS BIGINT) AS sxy,
           CAST(sxx AS BIGINT) AS sxx, CAST(syy AS BIGINT) AS syy,
           FLOOR((n * sxy - sx * sy) /
                 SQRT((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000 AS corr_r,
           FLOOR((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
                 * 1000000 + 0.5) / 1000000 AS slope
    FROM m
    """,
)
def moment_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    m = rows.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("k") * F.col("cents")).alias("sxy"),
        F.sum(F.col("k") * F.col("k")).alias("sxx"),
        F.sum(F.col("cents") * F.col("cents")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (
        F.floor(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
            * 1_000_000
            + 0.5
        )
        / 1_000_000
    )
    slope = (
        F.floor(
            (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * 1_000_000 + 0.5
        )
        / 1_000_000
    )
    return m.select(
        "event_type", "n", "sx", "sy", "sxy", "sxx", "syy",
        corr.alias("corr_r"), slope.alias("slope"),
    )


# --------------------------------------------------------------------------
# §2.4 widening: calendar gap-fill — the time-series densification every
# warehouse rollup needs before charting/joining: a day with no events
# must still produce a row (count 0), and running measures carry the
# last observed value forward across the gap. The spine is generated,
# not scanned: (min_day, max_day) is a 1-row aggregate, the day
# sequence explodes from it, and the cross with the (tiny) event-type
# dimension is a broadcast — so the fill costs O(days × types) extra
# rows regardless of fact size, and the carry-forward is one window
# per type ordered by day (bounded partitions: days, not events).
@query(
    "gap_fill_daily_counts",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM base),
    days AS (
      SELECT CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
                                         CAST(mx AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (SELECT t.event_type, d.day FROM types t CROSS JOIN days d)
    SELECT s.event_type, s.day,
           COALESCE(b.n_events, 0) AS n_events,
           LAST_VALUE(b.cents IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cents_carried
    FROM spine s LEFT JOIN base b
      ON b.event_type = s.event_type AND b.day = s.day
    """,
)
def gap_fill_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series per event type: zero-filled counts plus the
    last observed daily cents carried across gap days (NULL until the
    type's first active day)."""
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.select("event_type", F.col("ts").cast("date").alias("day"), "value")
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("cents"),
        )
    )
    span = base.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    days = span.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 day"))
        ).alias("day")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(days))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(base, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
            F.last("cents", ignorenulls=True).over(w).alias("cents_carried"),
        )
    )


# --------------------------------------------------------------------------
# §2.4 widening: robust outlier gate — median absolute deviation per
# event type, entirely in exact integer cents so both engines select
# literally identical medians (lower median = the element at
# row_number (n+1)//2 of the value-sorted partition — an actual data
# element, never an interpolation, so no float averaging exists to
# diverge). The curation use: value-distribution outliers are the
# numeric twin of text-quality outliers, and MAD is the robust scale
# estimator that a few corrupt rows cannot drag the way stddev can.
#
# Scale shape: the fact table is scanned ONCE, into a per-(type,
# cents) value census — a map-side-combined hash agg bounded by the
# quantized domain (distinct cent values), not the row count. Both
# medians then come from operators/rank_select.exact_rank_values in
# WEIGHTED mode over that checkpointed census (each census row stands
# for `count` events), the deviation relation is census⋈broadcast(5-row
# medians), and the outlier gate re-aggregates census weights — every
# post-census pass touches only the tiny relation. The earlier form
# ranked with row_number() OVER (PARTITION BY event_type) — a ~5-key
# partition of the whole fact table, i.e. five reducers each sorting
# 1/5th of 100 TB, twice; no Window (and no sort) remains in the plan
# (pinned by tests/test_rank_select.py), and even a pathological
# all-distinct value column only degrades the census to row grain,
# where the selector still never sorts.
@query(
    "value_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             event_id
      FROM events
      WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    med AS (
      SELECT event_type, cents AS med_cents FROM ranked
      WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT v.event_type, ABS(v.cents - m.med_cents) AS d, v.event_id,
             m.med_cents
      FROM v JOIN med m USING (event_type)
    ),
    dranked AS (
      SELECT event_type, d, med_cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (
      SELECT event_type, med_cents, d AS mad_cents FROM dranked
      WHERE rn = (n + 1) // 2
    )
    SELECT dev.event_type,
           MAX(mad.med_cents) AS med_cents,
           MAX(mad.mad_cents) AS mad_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN dev.d > 3 * mad.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
)
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier census: lower-median cents, the median
    absolute deviation, and how many events sit more than 3 MADs from
    the median."""
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint
    from bq_nvd_spark.operators.rank_select import exact_rank_values

    ev = load_table(spark, sf_dir, "events")
    # ONE fact scan: the per-(type, cents) census; everything below
    # runs over this domain-bounded relation.
    vc = stage_checkpoint(
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("w"))
    )

    def lower_median(rel: DataFrame, col: str) -> DataFrame:
        # exact element at weighted rank (n+1)//2 per type — tie-break
        # independent, so it matches the oracle's ROW_NUMBER selection
        cuts = exact_rank_values(
            rel,
            col,
            lambda n: {"m": (n + 1) // 2},
            group_col="event_type",
            weight_col="w",
            # wide single-round histograms: non-empty cells are bounded
            # by the census's distinct values, so the driver-side
            # collect stays census-sized no matter the bucket count
            n_buckets=1 << 17,
        )
        rows = sorted(
            ((g, int(c["m"])) for g, c in cuts.items()),
            key=lambda kv: (kv[0] is None, kv[0] or ""),
        )
        return spark.createDataFrame(
            rows, f"event_type string, med_{col} long"
        )

    med = lower_median(vc, "cents")
    dev = vc.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("med_cents")).alias("d"),
        "w",
        "med_cents",
    )
    mad = lower_median(dev, "d").withColumnRenamed("med_d", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum("w").cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"), F.col("w"))
                .otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
