"""Product-analytics shapes over the events table: funnel, cohort
retention, and re-aggregatable sketch rollups.

These are the canonical "mirror warehouse" analytics the reference's
README motivates (join/aggregate the mirrored data with other
datasets, ``/root/reference/README.md:7``) — re-expressed as the
query shapes every events warehouse runs at scale:

- ordered funnel (first-touch step ordering per user);
- cohort retention (first-activity cohort x activity offset);
- sketch ROLLUP — the reason sketches beat exact distinct counts at
  100 TB is not the single pass, it is re-aggregation: per-day HLL
  registers merge into monthly/any-window cardinalities without
  rescanning the fact table, where exact distinct counts cannot be
  re-aggregated at all;
- Markov transition matrix (consecutive-event pairs per user).

All are one-or-two-shuffle plans keyed on user_id, with the final
reduce over a few-row relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table


#: Shared funnel oracle — also the oracle of the streaming twin
#: (``streaming/stateful.py::streaming_funnel_conversion``), whose final
#: per-user state must equal the batch funnel for any micro-batch split.
FUNNEL_CONVERSION_ORACLE = """
    WITH pu AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END)     AS mv,
             MIN(CASE WHEN event_type = 'click' THEN ts END)    AS mc,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS mp
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(COUNT(CASE WHEN mv IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_view_users,
           CAST(COUNT(CASE WHEN mc > mv THEN 1 END) AS BIGINT)
             AS n_view_then_click,
           CAST(COUNT(CASE WHEN mc > mv AND mp > mc THEN 1 END) AS BIGINT)
             AS n_full_funnel
    FROM pu
    """


@query("funnel_conversion", oracle=FUNNEL_CONVERSION_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel, first-touch semantics.

    A user advances a step only if their FIRST occurrence of the next
    event type is strictly after the first occurrence of the previous
    one. Plan: one hash aggregation per user (conditional MIN per
    step — map-side partial agg does most of the work), then a
    single-row global count; the fact table is scanned once. The
    ``mc > mv`` predicates are null-rejecting on both engines, so a
    user missing a step never advances past it.
    """
    ev = load_table(spark, sf_dir, "events")

    def first_ts(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("ts")))

    pu = ev.groupBy("user_id").agg(
        first_ts("view").alias("mv"),
        first_ts("click").alias("mc"),
        first_ts("purchase").alias("mp"),
    )
    stepped = F.col("mc") > F.col("mv")
    full = stepped & (F.col("mp") > F.col("mc"))
    return pu.agg(
        F.count(F.when(F.col("mv").isNotNull(), 1)).alias("n_view_users"),
        F.count(F.when(stepped, 1)).alias("n_view_then_click"),
        F.count(F.when(full, 1)).alias("n_full_funnel"),
    )


@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS fts FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT
             e.user_id,
             CAST(date_trunc('week', f.fts) AS DATE) AS cohort_week,
             CAST(date_diff('day',
                            date_trunc('week', f.fts),
                            date_trunc('week', e.ts)) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act
    GROUP BY 1, 2
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users per (first-week cohort, week offset).

    Both sides truncate to Monday-start weeks (Spark ``date_trunc
    ('week')`` == DuckDB ``date_trunc('week')``), so the day delta is
    an exact multiple of 7 and the integer division is exact. Plan:
    first-activity per user (shuffle on user_id), join activity back
    on the same key (AQE can reuse the partitioning), distinct, then
    a small grouped count — output is O(weeks^2) rows regardless of
    fact-table size.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("fts"))
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", "fts").cast("date").alias("cohort_week"),
            (
                F.datediff(
                    F.date_trunc("week", "ts").cast("date"),
                    F.date_trunc("week", "fts").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )


@query(
    "hll_daily_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS rollup_within_bound
    FROM events
    GROUP BY event_type
    """,
)
def hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL sketches merged up to per-type cardinality.

    The point under test is RE-AGGREGATION: the per-(type, day) sketch
    table is what a 100 TB deployment materializes once, and every
    wider window (week, month, all-time) is then a register merge over
    that tiny table — no second scan of the fact data. The driver gate
    bounds the merged estimate against the exact distinct count with an
    EXPLICIT per-sketch bound: this query uses Datasketches HLL at
    lgK=12 (~1.6% relative standard error), so the bound is
    3.5σ × 1.6% = 0.056 — the same sigma level as the rsd=0.02 twins'
    shared 7% default, which is sized for approx_count_distinct and
    would be ~4.4σ here (tolerating a near-tripling of this sketch's
    error before failing). Same accuracy-bound contract as the other
    sketch queries: oracle emits exact + literal TRUE, Spark computes
    the comparison.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    from bq_nvd_spark.plans.sketches import sketch_within_bound

    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        sketch_within_bound(
            F.col("est"), F.col("exact_users"), bound=0.056
        ).alias("rollup_within_bound"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH nxt AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type, next_type, COUNT(*) AS n_trans
      FROM nxt WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
           FLOOR(CAST(n_trans AS DOUBLE)
                   / CAST(SUM(n_trans) OVER (PARTITION BY event_type)
                          AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS p_next
    FROM t
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    The fourth canonical events-warehouse shape (after funnel,
    retention, and rollup): for every ordered pair of consecutive
    events of the SAME user — ordered by (ts, event_id); event_id is
    unique, so the sequence and therefore the counts are deterministic
    — count the (event_type -> next event_type) transition and its
    conditional probability.

    Plan shape at 100 TB: ONE shuffle, on user_id, for the LEAD window
    (partitioned — there is never a global sort of the fact table);
    the transition counts then hash-aggregate with map-side combine
    down to an |event-types|^2 relation, and the probability
    normalization window runs over those few rows only. Probabilities
    round with the cross-engine floor rule and divide in the same
    double-op order on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    t = nxt.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    tot = Window.partitionBy("event_type")
    p = (
        F.col("n_trans").cast("double")
        / F.sum("n_trans").over(tot).cast("double")
        * 10000
    )
    return t.select(
        "event_type",
        "next_type",
        "n_trans",
        (F.floor(p + 0.5) / 10000).alias("p_next"),
    )
