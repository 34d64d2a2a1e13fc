"""E3 extension: product quantization with asymmetric-distance search.

SQ8 (``plans/quantization.py``) compresses each component to 8 bits —
an 8x footprint cut. Product quantization is the next rung on the same
memory ladder: split each 64-dim vector into ``PQ_M`` = 8 subspaces,
represent every subvector by the id of its nearest codebook centroid,
and the whole vector becomes 8 small integers (8 × 6 bits vs
64 × 64-bit floats — a ~85x index shrink). Search uses **ADC**
(asymmetric distance computation): the query stays exact, a per-query
lookup table of query-subvector · centroid dot products is built once
(``PQ_M × K_CENTROIDS`` doubles), and scoring a candidate is ``PQ_M``
table lookups + adds — no float vector is ever touched at shortlist
time. The ADC shortlist (``max(100, corpus/10)`` candidates) is then
re-ranked with the exact cosine — the same shortlist-refine shape as
``ivf_refined_topk``, and the standard production arrangement (ADC
prunes 90%+ of the corpus; floats are fetched only for survivors).

Determinism without training: the codebook is NOT learned by k-means
(whose float mean-reduction order varies with partitioning); each
subspace's centroids are the subvectors of ``K_CENTROIDS`` corpus rows
picked by md5 order — fixed for all time, engine- and layout-
independent. That costs recall vs a trained codebook, which is exactly
why the registered query measures recall instead of assuming it
(measured ≥0.6 at every fixture scale; bounded at ≥ ``RECALL_MIN``).

Oracle contract (same shape as ``plans/sketches.py``): the PQ index is
an engine-specific structure DuckDB can't be asked to reproduce, so the
hash surface is the EXACT cosine top-k (recomputed independently by the
oracle) plus a ``recall_ok`` boolean that Spark computes from the PQ
results and the oracle emits as literal TRUE — the driver hash therefore
fails if ADC recall@10 ever drops below ``RECALL_MIN``.

Scale shape: encode = one Arrow-kernel pass over the corpus against the
broadcast K-centroid codebook; LUT build touches only the query set;
scoring is a per-row projection over the codes relation; the top-k is a
per-query window. The corpus is never cross-joined against itself, and
the float embeddings are read once per session: the shared normed
corpus feeds both the encode and the fidelity check's exact side. The
codes and the exact scores are session memos.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bq_nvd_spark.operators.checkpoint import shared_stage
from bq_nvd_spark.operators.similarity import (
    DUCK_NORMS_CTE,
    DUCK_QUERY_SET_SCORED,
    DUCK_TOP_K_TAIL,
    PQ_M,
    QUERY_MAX_ID,
    TOP_K,
    make_pq_encoder,
    normed_corpus,
    score_query_set,
    subspace_dots_np,
    top_k_per_query,
)
from bq_nvd_spark.plans.registry import query

K_CENTROIDS = 64
SHORTLIST_MIN = 100  # ADC shortlist: max(SHORTLIST_MIN, corpus/10)
RECALL_MIN = 0.5  # measured >= 0.6 per query at sf0.001/0.01/0.1

_PQ_ORACLE = f"""
    WITH {DUCK_NORMS_CTE},
    {DUCK_QUERY_SET_SCORED}
    SELECT q_id, vec_id, sim, TRUE AS recall_ok
    {DUCK_TOP_K_TAIL}
"""


@query("pq_adc_recall_topk", oracle=_PQ_ORACLE)
def pq_adc_recall_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k plus a bound on PQ-ADC recall against it.

    Emits one row per (query, exact-top-k member) with ``recall_ok`` =
    (|ADC top-10 ∩ exact top-10| / 10 >= RECALL_MIN) for that query —
    the oracle emits literal TRUE, so the driver gate bounds the PQ
    index's retrieval quality the way the sketch queries bound estimator
    error.
    """
    # The corpus and the query set are the E3-family shared
    # (vec_id, v, nrm): the embeddings scan + Arrow norm kernel run
    # once per SESSION (shared with the IVF/SemDeDup/D4 consumers), not
    # once per pq invocation.
    normed = normed_corpus(spark, sf_dir)
    corpus = normed.filter(F.col("vec_id") >= QUERY_MAX_ID)
    queries = normed.filter(F.col("vec_id") < QUERY_MAX_ID)

    # Codebook: K corpus subvector sets picked by md5(vec_id) — layout-
    # independent, no training reduction.
    md5_key = F.md5(F.col("vec_id").cast("string"))
    w_seed = Window.orderBy("seed_key")
    seeds = (
        corpus.select(md5_key.alias("seed_key"), F.col("v").alias("cv"))
        .orderBy("seed_key")
        .limit(K_CENTROIDS)
        .select(
            (F.row_number().over(w_seed) - 1).alias("cid"),
            "cv",
        )
    )

    # Encode: nearest centroid per subspace via d^2 = aa - 2ab + cc,
    # tie-break to the smallest cid. Optimization round 17 (guide §4/§8):
    # the previous shape cross-joined the corpus against the broadcast
    # codebook (corpus × K rows) and pushed BOTH 64-dim vectors of every
    # pair through the Arrow boundary (~130 MB per run at sf0.1), then
    # shuffled a groupBy(vec_id) argmin. The codebook is a CONSTANT
    # K_CENTROIDS×DIM matrix (32 KB), so the encoder ships it as a
    # broadcast variable and each corpus vector crosses the Arrow
    # boundary exactly ONCE (encode exchanges 1 → 0). The bounded
    # codebook collect, the broadcast, and the kernel live in
    # operators/similarity.py::make_pq_encoder — the operators tree is
    # where the repo's documented bounded-collect sites belong, and its
    # pure encode math (pq_encode_codes, bit-identical to the crossJoin
    # formulation) is exercised directly by the code-parity test.
    #
    # The codes relation is a session memo: the codebook collect and
    # the encode pass run once per session, not per invocation.
    def encode() -> DataFrame:
        pq_encode_np = make_pq_encoder(spark, seeds)
        # nrm rides along so the ADC scorer needs no join back to the
        # corpus (one fewer exchange); the kernel runs ONCE per row
        # (single projection), elements split in a follow-up narrow
        # select.
        return corpus.select(
            "vec_id", "nrm", pq_encode_np("v").alias("codes")
        ).select(
            "vec_id",
            "nrm",
            *[
                F.element_at("codes", m + 1).cast("int").alias(f"code_{m}")
                for m in range(PQ_M)
            ],
        )

    codes = shared_stage(spark, ("pq_codes", sf_dir), encode)

    # Per-query ADC lookup tables: PQ_M arrays of K query·centroid dots,
    # cid-ordered (array_sort on unique cids — deterministic).
    ql = queries.crossJoin(F.broadcast(seeds)).withColumn(
        "qd", subspace_dots_np("v", "cv")
    )
    luts = ql.groupBy(F.col("vec_id").alias("q_id")).agg(
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("cid"), F.element_at("qd", m + 1).alias("d")
                        )
                    )
                ),
                lambda s: s["d"],
            ).alias(f"lut_{m}")
            for m in range(PQ_M)
        ]
    )

    # ADC score: PQ_M lookups summed in fixed textual order, normalized
    # by the stored corpus norm (query norm is constant per query — it
    # cannot change the ranking). The shortlist keeps the best
    # max(SHORTLIST_MIN, corpus/10) per query.
    scored = codes.crossJoin(F.broadcast(luts))
    adc = (
        sum(
            F.element_at(f"lut_{m}", F.col(f"code_{m}") + 1)
            for m in range(PQ_M)
        )
        / F.col("nrm")
    ).alias("adc")
    corpus_n_rows = corpus.agg(F.count(F.lit(1)).alias("corpus_rows"))
    w_pq = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    shortlist = (
        scored.select("q_id", "vec_id", adc)
        .select("q_id", "vec_id", F.row_number().over(w_pq).alias("rn"))
        .crossJoin(F.broadcast(corpus_n_rows))
        .filter(
            F.col("rn")
            <= F.greatest(
                F.lit(SHORTLIST_MIN), (F.col("corpus_rows") / 10).cast("long")
            )
        )
        .select("q_id", "vec_id")
    )

    # Exact side — the oracle-matched hash surface AND the refine stage's
    # scoring relation (one fold pass, a session memo, serves both
    # consumers).
    exact_scored = shared_stage(
        spark,
        ("pq_exact_scored", sf_dir),
        lambda: score_query_set(normed).select(
            "q_id", "vec_id", (F.col("sim_e4") / 10000).alias("sim")
        ),
    )
    exact_top = top_k_per_query(exact_scored)

    # Refine: exact re-rank of the ADC shortlist = the PQ pipeline's
    # final answer. (In production only these rows would ever read the
    # float vectors; here they reuse the already-computed exact scores.)
    pq_top = top_k_per_query(
        exact_scored.join(shortlist, ["q_id", "vec_id"], "left_semi")
    ).select("q_id", "vec_id", F.lit(1).alias("hit"))

    recall = (
        exact_top.join(pq_top, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) / TOP_K).alias("recall"))
    )
    return exact_top.join(recall, "q_id").select(
        "q_id",
        "vec_id",
        "sim",
        (F.col("recall") >= RECALL_MIN).alias("recall_ok"),
    )
