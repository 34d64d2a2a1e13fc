"""Plan-shape pins for the Spark 4 SQL-surface queries (recursive CTE,
LATERAL join). Oracle parity checks their values; these check HOW they
execute."""

from __future__ import annotations

from pyspark.sql import functions as F

from bq_nvd_spark.plans.sql_surface import (
    lateral_top2_orders,
    recursive_month_spine,
)


def test_lateral_decorrelates_to_join_plus_window(spark, sf_dir):
    """The correlated LATERAL subquery must not survive as per-row
    execution: the physical plan is one join plus a row_number window
    filtered to the limit (with the rewrite's residual global sort —
    the documented cost vs the hand-built window form)."""
    df = lateral_top2_orders(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number()" in plan
    assert "Join" in plan
    # decorrelated: no nested-loop / per-row subquery machinery
    assert "CartesianProduct" not in plan

    # semantics: exactly <=2 rows per customer, ordered by price
    counts = (
        df.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert counts and all(r["n"] <= 2 for r in counts)


def test_recursive_spine_is_contiguous_and_bounded(spark, sf_dir):
    """Twelve contiguous months, in at most 12 Spark jobs: a recursion
    step must not rescan the fact table."""
    from perfbench.tracing import Tracer

    tracer = Tracer(spark, "recursive-spine-job-budget", enabled=True)
    with tracer.span("recursive_month_spine") as span:
        rows = sorted(
            recursive_month_spine(spark, sf_dir).collect(), key=lambda r: r["month"]
        )
    assert span.jobs <= 12, span.jobs
    assert len(rows) == 12  # trailing year, one row per month
    for a, b in zip(rows, rows[1:]):
        # contiguous month steps
        assert (b["month"].year, b["month"].month) == (
            (a["month"].year + 1, 1)
            if a["month"].month == 12
            else (a["month"].year, a["month"].month + 1)
        )
    assert all(r["n_orders"] >= 0 for r in rows)
    assert any(r["n_orders"] > 0 for r in rows)
