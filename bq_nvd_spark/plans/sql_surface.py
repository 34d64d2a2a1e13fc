"""Spark 4 SQL-surface parity: recursive CTEs and LATERAL joins.

The reference's end-user surface is SQL against the mirror
(``/root/reference/README.md:27-62``); these queries pin the two SQL
constructs that historically forced users OFF such a mirror into
hand-written driver loops — ``WITH RECURSIVE`` (iteration) and
``JOIN LATERAL`` (per-row correlated subqueries) — both native in
Spark 4 SQL and both planned by Catalyst into the same distributed
shapes this repo builds by hand elsewhere:

- the recursive CTE executes as iterated joins with a union-loop
  (the engine-managed twin of ``operators/graph.py``'s hand-rolled
  label-propagation driver loop; depth capped by
  ``spark.sql.cteRecursionLevelLimit``, default 100);
- the correlated LATERAL top-k decorrelates to a join + per-group
  window limit — no per-row subquery execution survives in the
  physical plan (verified in ``tests/test_sql_surface.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table


@query(
    "recursive_month_spine",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT CAST(date_trunc('month', MAX(o_orderdate)) - INTERVAL 11 MONTH
                  AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM orders
    ),
    spine(m) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine, bounds WHERE m < hi
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT s.m AS month, CAST(COALESCE(mo.n, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
    """,
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-12-months spine generated by a RECURSIVE CTE, left-
    joined to order counts — the gap-fill shape of
    ``monthly_urgent_gapfill`` expressed as engine-managed recursion
    instead of ``sequence()``.

    The recursive row carries the upper bound (``spine(m, hi)``), so a
    step reads only the previous one-row step, never ``bounds``: the fact
    table is scanned once for the bounds and once for the counts.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_rcte")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT add_months(CAST(date_trunc('month', MAX(o_orderdate)) AS DATE),
                            -11) AS lo,
                 CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
          FROM orders_rcte
        ),
        spine(m, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL
          SELECT add_months(m, 1), hi FROM spine WHERE m < hi
        ),
        monthly AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 COUNT(*) AS n
          FROM orders_rcte GROUP BY 1
        )
        SELECT s.m AS month, CAST(COALESCE(mo.n, 0) AS BIGINT) AS n_orders
        FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
        """
    )


@query(
    "lateral_top2_orders",
    oracle="""
    SELECT c.c_custkey,
           o.o_orderkey,
           o.price_cents
    FROM customer c JOIN LATERAL (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o ON TRUE
    """,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's two most expensive orders via a correlated
    LATERAL subquery — the SQL users actually write for per-entity
    top-k. Catalyst decorrelates it to one join plus a per-group
    ``row_number`` limit: no per-customer subquery execution survives.
    Caveat pinned in ``tests/test_sql_surface.py``: the decorrelation
    keeps the subquery's ORDER BY as a *global* range sort before the
    window, so at 100 TB the hand-built window form
    (``window_top3_customers_per_nation`` family) is still the
    preferred formulation — this query exists for SQL-surface parity
    and documents exactly what the automatic rewrite costs.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c.c_custkey,
               o.o_orderkey,
               o.price_cents
        FROM customer_lat c JOIN LATERAL (
          SELECT o_orderkey,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
          FROM orders_lat
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        """
    )
