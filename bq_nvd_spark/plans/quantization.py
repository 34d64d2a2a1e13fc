"""E3 extension: scalar int8 embedding quantization.

The memory lever for vector search at 100 TB: per-vector min/max scalar
quantization maps each float64 component onto an 8-bit code, cutting
the index footprint ~8x (here float64 → int8) at a bounded
reconstruction error — the same scheme faiss calls SQ8. Everything is a
per-row projection (zero shuffle), and every step is deterministic
cross-engine:

- ``q_min``/``q_max`` are exact comparisons of the stored doubles;
- the scale ``(q_max - q_min)/255`` and each code
  ``floor((x - q_min)/scale + 0.5)`` are elementwise double ops on
  identical inputs — no summation-order sensitivity;
- the census reports integer code sums and a floor-fixed max
  reconstruction error, so the driver's value hash is stable.

``quantized_cosine_topk`` then runs the brute-force cosine ranking ON
THE DEQUANTIZED vectors — the fidelity check that the 8-bit index
returns the same top-k the exact vectors do (it does, at this corpus's
error level; the oracle recomputes the identical dequantized ranking).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.operators.checkpoint import shared_stage
from bq_nvd_spark.operators.similarity import (
    DUCK_QUERY_SET_SCORED,
    DUCK_TOP_K_TAIL,
    duck_fold_dot,
    fold_dot_np,
    score_query_set,
    top_k_per_query,
)
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table

N_LEVELS = 255  # int8 code points 0..255 (stored unsigned in a long)


def _v() -> Column:
    return F.transform("embedding", lambda x: x.cast("double"))


def _codes(v: Column, mn: Column, scale: Column) -> Column:
    """Elementwise code: floor((x - mn)/scale + 0.5), clamped by math
    (x in [mn, mx] → code in [0, 255]); scale degenerates to 1 for
    constant vectors so their codes are all zero."""
    return F.transform(v, lambda x: F.floor((x - mn) / scale + 0.5).cast("long"))


@query(
    "embedding_int8_census",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    rng AS (
      SELECT vec_id, v,
             list_aggregate(v, 'min') AS q_min,
             list_aggregate(v, 'max') AS q_max
      FROM e
    ),
    s AS (
      SELECT vec_id, v, q_min, q_max,
             CASE WHEN q_max > q_min THEN (q_max - q_min) / {N_LEVELS}.0
                  ELSE 1.0 END AS scale
      FROM rng
    ),
    c AS (
      SELECT vec_id, q_min, q_max, scale,
             list_transform(v, x -> CAST(FLOOR((x - q_min) / scale + 0.5)
                                         AS BIGINT)) AS codes,
             v
      FROM s
    )
    SELECT vec_id,
           FLOOR(q_min * 1000000 + 0.5) / 1000000 AS q_min_r,
           FLOOR(q_max * 1000000 + 0.5) / 1000000 AS q_max_r,
           list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                       (a, c) -> a + c) AS code_sum,
           FLOOR(list_aggregate(
                   list_transform(range(1, len(v) + 1),
                                  i -> ABS(v[i] - (q_min + codes[i] * scale))),
                   'max') * 1000000 + 0.5) / 1000000 AS max_abs_err
    FROM c
    """,
)
def embedding_int8_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector quantization summary: range, integer code checksum,
    and the max reconstruction error (bounded by scale/2 ≈ range/510)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _v().alias("v"))
    rng = emb.select(
        "vec_id",
        "v",
        F.array_min("v").alias("q_min"),
        F.array_max("v").alias("q_max"),
    )
    s = rng.withColumn(
        "scale",
        F.when(
            F.col("q_max") > F.col("q_min"),
            (F.col("q_max") - F.col("q_min")) / N_LEVELS,
        ).otherwise(F.lit(1.0)),
    )
    c = s.withColumn("codes", _codes(F.col("v"), F.col("q_min"), F.col("scale")))
    err = F.zip_with(
        "v",
        "codes",
        lambda x, code: F.abs(x - (F.col("q_min") + code * F.col("scale"))),
    )
    return c.select(
        "vec_id",
        (F.floor(F.col("q_min") * 1e6 + 0.5) / 1e6).alias("q_min_r"),
        (F.floor(F.col("q_max") * 1e6 + 0.5) / 1e6).alias("q_max_r"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "code_sum"
        ),
        (F.floor(F.array_max(err) * 1e6 + 0.5) / 1e6).alias("max_abs_err"),
    )


@query(
    "quantized_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_aggregate(v, 'min') AS q_min,
             CASE WHEN list_aggregate(v, 'max') > list_aggregate(v, 'min')
                  THEN (list_aggregate(v, 'max') - list_aggregate(v, 'min'))
                       / {N_LEVELS}.0
                  ELSE 1.0 END AS scale
      FROM e
    ),
    dq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> q_min + CAST(FLOOR((x - q_min) / scale
                                                       + 0.5) AS BIGINT)
                                            * scale) AS v
      FROM s
    ),
    n AS (
      SELECT vec_id, v, SQRT({duck_fold_dot('v', 'v')}) AS nrm FROM dq
    ),
    {DUCK_QUERY_SET_SCORED}
    SELECT q_id, vec_id, sim
    {DUCK_TOP_K_TAIL}
    """,
)
def quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over DEQUANTIZED int8 vectors — the
    recall-fidelity twin of ``plans/llm.py::cosine_topk``. Same
    broadcast-the-queries shape (``score_query_set``): the corpus never
    shuffles, each row pays one fold per query, and the scale cost
    model is identical to the exact version (the quantization is a
    per-row projection)."""
    scored = score_query_set(_sq8_normed(spark, sf_dir)).select(
        "q_id", "vec_id", (F.col("sim_e4") / 10000).alias("sim")
    )
    return top_k_per_query(scored)


def _sq8_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm) over the DEQUANTIZED vectors. Query and corpus
    sides both read it, so it is a session memo (``shared_stage``): the
    quantize→dequantize→norm chain (two Arrow kernel passes over every
    vector) runs once per session, not per consumer or invocation."""

    def build() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .repartition(spark.sparkContext.defaultParallelism, "vec_id")
            .select("vec_id", _v().alias("v"))
        )
        s = emb.select(
            "vec_id",
            "v",
            F.array_min("v").alias("q_min"),
            F.when(
                F.array_max("v") > F.array_min("v"),
                (F.array_max("v") - F.array_min("v")) / N_LEVELS,
            )
            .otherwise(F.lit(1.0))
            .alias("scale"),
        )
        dq = s.select(
            "vec_id",
            F.transform(
                "v",
                lambda x: F.col("q_min")
                + F.floor((x - F.col("q_min")) / F.col("scale") + 0.5).cast("long")
                * F.col("scale"),
            ).alias("v"),
        )
        return dq.select(
            "vec_id", "v", F.sqrt(fold_dot_np("v", "v")).alias("nrm")
        )

    return shared_stage(spark, ("sq8_normed", sf_dir), build)
