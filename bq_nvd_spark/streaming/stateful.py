"""Custom stateful streaming operator via ``applyInPandasWithState``.

``dropDuplicates``/windowed aggs cover the declarative stateful shapes;
anything else (running per-key accumulators, custom sessionization,
decayed counters) goes through ``applyInPandasWithState``: per group,
the function receives the batch's rows as pandas frames plus a
``GroupState`` handle, updates arbitrary state, and emits arbitrary
rows.

The operator here is a per-user running accumulator: state is
``(n_events, total_cents)``, each micro-batch folds its rows in and
emits the group's updated totals. Drained with ``Trigger.AvailableNow``
the final emission per key equals the batch ``groupBy``, which is what
the registered query's DuckDB oracle hash-checks — the full stateful
path (Arrow group iteration, state encode/decode, emission) under an
exact gate.

Scale notes (100 TB): state lives in the state store partitioned by the
group key (same shuffle as a groupBy); per-batch work is O(batch) and
state size is O(distinct keys) — the operator never rescans history.
GroupStateTimeout would bound idle-key state in an unbounded deployment;
a finite AvailableNow drain needs none.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from bq_nvd_spark.plans.funnels import FUNNEL_CONVERSION_ORACLE
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.streaming.micro_batch import run_available_now, stream_events

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def _accumulate(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows into the running (count, cents) state and
    emit the updated totals. Each row is fixed to integer cents BEFORE
    accumulation (the 2-decimal source values make floor(v*100+0.5)
    exact per row), so the running state is an integer sum — identical
    under any batch split or row order, by construction rather than by
    error-margin argument."""
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(
            np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64).sum()
        )
    state.update((n, cents))
    yield pd.DataFrame(
        [(key[0], n, cents)], columns=[f.name for f in OUTPUT_SCHEMA.fields]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user accumulator over (user_id, event_id, value)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator, driven end to end: one AvailableNow
    drain emits each user's final running totals, which must equal the
    batch aggregate."""
    ev = stream_events(spark, sf_dir).select("user_id", "event_id", "value")
    totals = running_user_totals(ev)
    out = run_available_now(totals, output_mode="update")
    # An AvailableNow drain may span several micro-batches (file splits);
    # 'update' emits a row per touched key per batch — keep each key's
    # final (largest-count) emission.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.desc("total_cents")
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Stateful streaming FUNNEL: per-user first-touch step timestamps
# maintained incrementally. Unlike the running accumulator above (pure
# fold), funnel state interacts across columns — each batch can lower
# any step's first-touch time, and the conversion verdict (view before
# click before purchase) is only decidable from the final state — which
# is what makes it a genuine custom stateful operator rather than a
# windowed aggregate.

_INF = (1 << 62)  # "not seen" sentinel; min() folds it away

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("mv", LongType()),
        StructField("mc", LongType()),
        StructField("mp", LongType()),
    ]
)

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("mv", LongType()),
        StructField("mc", LongType()),
        StructField("mp", LongType()),
    ]
)


def _funnel_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's events into per-step first-touch micros.

    Emissions are per-batch snapshots; every field is monotonically
    non-increasing across batches, so the drain's final state per key
    is the column-wise MIN over all emissions — order- and
    split-independent by construction."""
    mv, mc, mp = state.get if state.exists else (_INF, _INF, _INF)
    for pdf in pdfs:
        # Normalize to micros explicitly: astype("int64") on the Series
        # would inherit whatever unit Arrow delivered (ns today, us if a
        # future pandas/Arrow config changes), silently scaling every
        # value and collapsing strict orderings into ties.  Going
        # through datetime64[us] pins the unit regardless of input.
        ts = pd.Series(
            pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64"),
            index=pdf.index,
        )
        et = pdf["event_type"]
        for step, cur in (("view", "mv"), ("click", "mc"), ("purchase", "mp")):
            hit = ts[et == step]
            if len(hit):
                m = int(hit.min())
                if cur == "mv":
                    mv = min(mv, m)
                elif cur == "mc":
                    mc = min(mc, m)
                else:
                    mp = min(mp, m)
    state.update((mv, mc, mp))
    yield pd.DataFrame(
        [(key[0], mv, mc, mp)],
        columns=[f.name for f in FUNNEL_OUTPUT_SCHEMA.fields],
    )


@query("streaming_funnel_conversion", oracle=FUNNEL_CONVERSION_ORACLE)
def streaming_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch funnel (``plans/funnels.py``) maintained as streaming
    state: one AvailableNow drain, then the conversion counts off the
    final per-user state — which must equal the batch/oracle answer
    for any micro-batch split of the input."""
    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_type")
    snap = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(snap, output_mode="update")
    final = out.groupBy("user_id").agg(
        F.min("mv").alias("mv"), F.min("mc").alias("mc"), F.min("mp").alias("mp")
    )
    seen_v = F.col("mv") < _INF
    stepped = seen_v & (F.col("mc") < _INF) & (F.col("mc") > F.col("mv"))
    full = stepped & (F.col("mp") < _INF) & (F.col("mp") > F.col("mc"))
    return final.agg(
        F.count(F.when(seen_v, 1)).alias("n_view_users"),
        F.count(F.when(stepped, 1)).alias("n_view_then_click"),
        F.count(F.when(full, 1)).alias("n_full_funnel"),
    )
