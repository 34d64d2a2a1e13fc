"""E3 queries: LSH-bucketed approximate nearest neighbor (scale path).

The exactness baseline is ``plans/llm.py::cosine_topk`` (brute force,
O(N·Q)); here the same query/candidate split runs through the sign-LSH
bucket join from ``operators/similarity.py``. The result is the exact
cosine top-k *restricted to bucket-sharing candidates* — deterministic
in both engines because the hyperplanes are fixed literals and every
float reduction is a sequential fold. The query split, the cosine, the
normed corpus and the query-set scorer come from the E3 vector kit in
``operators/similarity.py``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.operators.graph import duck_near_dup_closure, near_dup_clusters
from bq_nvd_spark.operators.similarity import (
    DUCK_NORMS_CTE,
    DUCK_TOP_K_TAIL,
    QUERY_MAX_ID,
    TOP_K,
    band_buckets_np,
    cos_e4,
    cosine,
    duck_band_buckets,
    duck_cos_e4,
    duck_cosine,
    duck_fold_dot,
    duck_refine_bucket_case,
    fold_dot,
    normed_corpus,
    refine_bucket_np,
    score_query_set,
    sorted_pairs,
    top_k_per_query,
)
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table


def _emb_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, bands) — the sign-LSH signature relation over
    the shared normalized corpus. Optimization round 17:
    ``shared_stage``-memoized per (application, sf_dir); its two
    registered consumers (ann_lsh_topk and the
    embedding_similar_pairs chain) each ran the band-projection Arrow
    kernel twice per invocation (query side + corpus side of their
    joins). Values identical: same kernel over the same shared norms."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        return normed_corpus(spark, sf_dir).select(
            "vec_id", "v", "nrm", band_buckets_np("v").alias("bands")
        )

    return shared_stage(spark, ("emb_sig", sf_dir), build)


#: The sign-LSH signature relation as oracle CTEs: ``e`` (raw vectors),
#: ``sig`` (norm + band buckets) and ``buckets`` (one row per band) —
#: one text for ann_lsh_topk and the embedding-pair chain.
_DUCK_LSH_BUCKETS_CTE = f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sig AS MATERIALIZED (
      SELECT vec_id, v,
             SQRT({duck_fold_dot('v', 'v')}) AS nrm,
             {duck_band_buckets('v')}        AS bands
      FROM e
    ),
    buckets AS (
      SELECT vec_id, v, nrm, b.band_idx, bands[b.band_idx + 1] AS bucket
      FROM sig, (SELECT UNNEST(range(0, 4)) AS band_idx) b
    )"""


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_DUCK_LSH_BUCKETS_CTE},
    q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, band_idx, bucket
          FROM buckets WHERE vec_id < {QUERY_MAX_ID}),
    c AS (SELECT vec_id, v AS cv, nrm AS cn, band_idx, bucket
          FROM buckets WHERE vec_id >= {QUERY_MAX_ID}),
    cand AS (
      SELECT DISTINCT q.q_id, q.qv, q.qn, c.vec_id, c.cv, c.cn
      FROM q JOIN c ON q.band_idx = c.band_idx AND q.bucket = c.bucket
    ),
    scored AS (
      SELECT q_id, vec_id,
             {duck_cos_e4('qv', 'cv', 'qn', 'cn')} / 10000 AS sim
      FROM cand
    )
    SELECT q_id, vec_id, sim
    {DUCK_TOP_K_TAIL}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-k: signatures are a per-row projection, candidate
    generation is an equi-join on (band, bucket) — never a corpus cross
    join — and only bucket-sharing pairs pay the exact cosine."""
    # Signatures + norms via the Arrow/numpy twins: one matmul (and one
    # cumsum fold) per batch instead of ~4k interpreted HOF lambda
    # evaluations per row (HOFs never codegen; fold_dot_np reproduces
    # the sequential fold bit-for-bit — see operators/similarity.py).
    # Optimization round 17: the whole signature relation is the shared
    # _emb_sig stage (norm + band kernels once per session; this plan's
    # query and corpus sides previously each re-ran them per run).
    sig = _emb_sig(spark, sf_dir)
    buckets = sig.select(
        "vec_id", "v", "nrm", F.posexplode("bands").alias("band_idx", "bucket")
    )
    q = buckets.filter(F.col("vec_id") < QUERY_MAX_ID).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "band_idx",
        "bucket",
    )
    c = buckets.filter(F.col("vec_id") >= QUERY_MAX_ID).select(
        "vec_id",
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        "band_idx",
        "bucket",
    )
    # Score straight off the broadcast join, THEN distinct: the score is
    # deterministic per (q, c) pair, so band-duplicate matches collapse in
    # a distinct over three scalar columns — no 64-double vector payload
    # ever enters a shuffle. The exact re-rank dot runs in the Arrow
    # kernel (fold-order-identical cumsum), not an interpreted HOF.
    scored = (
        c.join(F.broadcast(q), ["band_idx", "bucket"])
        .select(
            "q_id",
            "vec_id",
            (cos_e4("qv", "cv", "qn", "cn") / 10000).alias("sim"),
        )
        .distinct()
    )
    return top_k_per_query(scored)


IVF_CELLS = 16  # centroid count; cells ≈ corpus/16
IVF_NPROBE = 4  # cells probed per query
_CENT_MAX_ID = QUERY_MAX_ID + IVF_CELLS


#: the deterministic IVF coarse quantizer as oracle CTEs — ONE text,
#: interpolated into ivf_topk's oracle AND _MMR_IVF_REL below, so a
#: tie-break or quantization fix cannot drift between the two (the
#: Spark twin is _ivf_assign_and_probes). Expects an ``n`` CTE of
#: (vec_id, v, nrm) in scope. ivf_refined_topk's FINAL quantizer is its
#: own (the refined, re-trained centroid set), but its seed pass is
#: this fixed quantizer and consumes the shared ``assign`` relation.
_IVF_QUANTIZER_CTE = f"""cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM n WHERE vec_id >= {QUERY_MAX_ID} AND vec_id < {_CENT_MAX_ID}
    ),
    assign AS (
      SELECT vec_id, v, nrm, cell FROM (
        SELECT a.vec_id, a.v, a.nrm, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {duck_cosine('a.v', 'c.cv', 'a.nrm', 'c.cnrm')} DESC,
                          c.cent_id) AS rn
        FROM n a, cents c
        WHERE a.vec_id >= {QUERY_MAX_ID}
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, qv, qn, cell FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {duck_cosine('q.v', 'c.cv', 'q.nrm', 'c.cnrm')} DESC,
                          c.cent_id) AS rn
        FROM n q, cents c
        WHERE q.vec_id < {QUERY_MAX_ID}
      ) WHERE rn <= {IVF_NPROBE}
    )"""


def _ivf_assign_and_probes(spark: SparkSession, sf_dir: str):
    """The deterministic IVF coarse quantizer, shared VERBATIM by
    ivf_topk and mmr_ann_diverse_topk (its oracle twin is
    _IVF_QUANTIZER_CTE — one text each side, so a tie-break or
    quantization fix cannot drift between consumers). Returns
    ``(assign, probes)``: every corpus vector with its argmax-cosine
    cell (ties to the smallest cent_id), and each query replicated
    onto its IVF_NPROBE best cells. ivf_refined_topk's FINAL quantizer
    stays its own (the refined, re-trained centroid set), but its seed
    coarse-assign pass is content-identical to ``assign`` and consumes
    it (optimization round 17).

    Optimization round 17: ``assign`` and ``probes`` are
    ``shared_stage``-memoized per (application, sf_dir). Eight
    registered queries consume this quantizer; each used to recompute
    the per-row HOF argmax over the 16-centroid array (16 interpreted
    64-dim folds per corpus row — HOFs never codegen) on every
    invocation. The relations are content-identical to the previous
    per-query build; plan audits bypass the memo and still see the
    full pipeline (AUDIT_BYPASS_SHARED).
    """
    from bq_nvd_spark.operators.checkpoint import shared_stage

    n = normed_corpus(spark, sf_dir)
    # One row: every centroid in an array sorted by cent_id
    # (collect_list order is nondeterministic; sort_array on the leading
    # struct field restores it — the argmax tie-break relies on it).
    cent_arr = (
        n.filter(
            (F.col("vec_id") >= QUERY_MAX_ID) & (F.col("vec_id") < _CENT_MAX_ID)
        )
        .select(
            F.struct(
                F.col("vec_id").alias("cent_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cnrm"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )

    def cent_cos(c):
        return fold_dot("v", c["cv"]) / (F.col("nrm") * c["cnrm"])

    # Per-row argmax: strictly-greater keeps the first (= smallest
    # cent_id) on exact ties, matching the oracle's
    # (cos DESC, cent_id ASC) row_number.
    best_cell = F.aggregate(
        "cents",
        F.struct(
            F.lit(-2.0).cast("double").alias("cos"),
            F.lit(None).cast("long").alias("cell"),
        ),
        lambda acc, c: F.when(
            cent_cos(c) > acc["cos"],
            F.struct(cent_cos(c).alias("cos"), c["cent_id"].alias("cell")),
        ).otherwise(acc),
    )["cell"]
    # Per-row top-nprobe: negate cos so ascending sort_array yields
    # (cos DESC, cent_id ASC); IEEE negation is exact, so ties resolve
    # identically to the oracle.
    probe_cells = F.slice(
        F.sort_array(
            F.transform(
                "cents",
                lambda c: F.struct(
                    (-cent_cos(c)).alias("neg_cos"), c["cent_id"].alias("cell")
                ),
            )
        ),
        1,
        IVF_NPROBE,
    )

    assign = shared_stage(
        spark,
        ("ivf_assign", sf_dir),
        lambda: (
            n.filter(F.col("vec_id") >= QUERY_MAX_ID)
            .crossJoin(F.broadcast(cent_arr))
            .select("vec_id", "v", "nrm", best_cell.alias("cell"))
        ),
    )
    probes = shared_stage(
        spark,
        ("ivf_probes", sf_dir),
        lambda: (
            n.filter(F.col("vec_id") < QUERY_MAX_ID)
            .crossJoin(F.broadcast(cent_arr))
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
                F.explode(probe_cells).alias("p"),
            )
            .select("q_id", "qv", "qn", F.col("p.cell").alias("cell"))
        ),
    )
    return assign, probes


@query(
    "ivf_topk",
    oracle=f"""
    WITH {DUCK_NORMS_CTE},
    {_IVF_QUANTIZER_CTE},
    scored AS (
      SELECT p.q_id, a.vec_id,
             {duck_cos_e4('p.qv', 'a.v', 'p.qn', 'a.nrm')} / 10000 AS sim
      FROM probes p JOIN assign a ON a.cell = p.cell
    )
    SELECT q_id, vec_id, sim
    {DUCK_TOP_K_TAIL}
    """,
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: IVF-bucketed top-k — the coarse-quantizer alternative to sign-
    LSH. Centroids are a fixed, deterministic subset of the corpus (a
    real deployment k-means-trains them offline; the index structure,
    not the training, is what this plan exercises). Every corpus vector
    is assigned to its nearest centroid (argmax cosine, ties to the
    smallest centroid id), queries probe their ``IVF_NPROBE`` best
    cells, and only vectors in probed cells pay the exact re-rank.

    All-declarative and shuffle-free until the candidate join: the
    centroid set folds into ONE broadcast row holding a sorted
    array<struct>, and each vector picks its cells with a per-row
    higher-order argmax / top-nprobe over that array — no 16× cross-join
    row blowup, no argmax window, no exchange touches the corpus before
    candidates exist. Cell sizes are corpus/IVF_CELLS by construction —
    tunable against executor memory the same way N_BITS tunes LSH
    buckets.
    """
    assign, probes = _ivf_assign_and_probes(spark, sf_dir)
    scored = assign.join(F.broadcast(probes), "cell").select(
        "q_id",
        "vec_id",
        (cos_e4("qv", "v", "qn", "nrm") / 10000).alias("sim"),
    )
    return top_k_per_query(scored)


SIMILAR_COS = 0.40

# Bucket-size cap for the corpus self-pair path (the twin of
# plans/llm.py::PAIR_BUCKET_CAP on the MinHash side). Buckets with
# 2..CAP members emit all pairs (≤ CAP²/2 each); an OVERSIZED bucket —
# the degenerate case a dedup-worthy corpus is full of: mass
# near-duplicates or zero-heavy vectors collapsing to one signature —
# is REFINED on REFINE_BITS extra sign bits, and sub-buckets still past
# the cap emit a STAR to their min-id member (m−1 pairs, not m(m−1)/2).
# Refine-then-star keeps a mass-duplicate cluster connected for the
# downstream connected components even when unrelated vectors share its
# 8-bit level-1 bucket (see _emb_bucket_pairs — starring the RAW bucket
# could anchor on such an outsider and lose the whole cluster), while
# per-bucket output stays O(m). Fixture max bucket sizes: 9 at sf0.01,
# 28 at sf0.1 — the refined path is exercised at bench scale and by the
# degenerate-bucket and recall tests in tests/test_similarity_ops.py.
EMB_BUCKET_CAP = 20


def _emb_bucket_pairs(sig: DataFrame) -> DataFrame:
    """Candidate (id_a,id_b,va,na,vb,nb) pairs from capped LSH buckets.

    Input: (vec_id, v, nrm, bands). Sized-then-emitted so no per-bucket
    state is ever unbounded: a per-bucket window COUNT rides the same
    (band, bucket) shuffle that feeds pair emission (WindowExec spills
    a mega-bucket's rows to disk; it never buffers them in one
    aggregation row), then

    - buckets of 2..EMB_BUCKET_CAP members collect their sorted member
      array (buffer ≤ CAP structs by construction) and expand to all
      pairs with index-aware HOFs;
    - OVERSIZED buckets are REFINED before any fallback: members
      compute REFINE_BITS extra sign bits (Arrow matmul over only the
      oversized rows) and re-window on (band, bucket, sub-bucket).
      Sub-buckets of 2..CAP emit all pairs; sub-buckets STILL past the
      cap emit the min-id star (m−1 pairs via filter + projection —
      each row carries the sub-bucket's min-struct anchor, vector
      included, so no join-back and no collect buffer; a 4M-member
      mass-duplicate sub-bucket costs O(m) output rows, never an
      O(m·dim) collect_list that would blow the 2 GB row limit).

    WHY the refinement exists (round 11, found by the retired embedding
    recall probe, SCALE.md): a level-1 bucket is only an 8-bit
    signature, so a mass-duplicate cluster shares its bucket with
    unrelated vectors; starring the RAW bucket anchors on the min-id
    member, which can be such an outsider — every star pair is then
    (dissimilar anchor, member), ALL dropped by the cosine threshold,
    in every band, and the cluster the cap exists to keep connected
    falls apart (measured: a 120-member planted cluster split into 118
    components). Agreeing on all 16 refine bits requires near-zero
    angle, so the bottom-level star anchors on a true near-duplicate
    with overwhelming probability and the cluster stays one component
    for the downstream connected components. A member whose sub-bucket
    is a singleton emits nothing from that band (its partners, if any,
    surface via bands where they genuinely co-bucket — better than the
    old behavior of emitting a doomed dissimilar anchor pair).

    No join and no checkpoint; the groupBy and the filters reuse each
    branch's window partitioning. The union's three branches each
    evaluate the signature projection and the (band, bucket) shuffle
    (Spark does not dedupe identical exchange subtrees across union
    branches) — linear passes, and the two refined branches only carry
    rows of oversized buckets (rare in healthy corpora, linear in
    degenerate ones). The stage_checkpoint variant that materializes
    the exploded relation once was measured SLOWER at bench scale in
    round 10 (3.43 s vs 2.83 s at sf0.1); re-measured after this
    change in round 11 — see SCALE.md.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("band_idx", "bucket")
    tagged = sig.select(
        "vec_id", "v", "nrm",
        F.posexplode("bands").alias("band_idx", "bucket"),
    ).select(
        "*",
        F.count(F.lit(1)).over(w).alias("c"),
    ).filter(F.col("c") >= 2)

    def _all_pairs(rel: DataFrame, *keys: str) -> DataFrame:
        members = rel.groupBy(*keys).agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "v", "nrm"))
            ).alias("m")
        )
        pairs = sorted_pairs("m", "a", "b")
        return members.select(F.explode(pairs).alias("p")).select(
            F.col("p.a.vec_id").alias("id_a"),
            F.col("p.b.vec_id").alias("id_b"),
            F.col("p.a.v").alias("va"),
            F.col("p.a.nrm").alias("na"),
            F.col("p.b.v").alias("vb"),
            F.col("p.b.nrm").alias("nb"),
        )

    small_pairs = _all_pairs(
        tagged.filter(F.col("c") <= EMB_BUCKET_CAP), "band_idx", "bucket"
    )
    # Refinement pass: only oversized-bucket rows pay the extra Arrow
    # matmul and the (band, bucket, rb) window; min over the struct
    # orders by the unique vec_id, so `anc` is the sub-bucket's anchor
    # member WITH its vector.
    w2 = Window.partitionBy("band_idx", "bucket", "rb")
    refined = (
        tagged.filter(F.col("c") > EMB_BUCKET_CAP)
        .withColumn("rb", refine_bucket_np("v", "band_idx"))
        .select(
            "*",
            F.count(F.lit(1)).over(w2).alias("c2"),
            F.min(F.struct("vec_id", "v", "nrm")).over(w2).alias("anc"),
        )
        .filter(F.col("c2") >= 2)
    )
    refined_pairs = _all_pairs(
        refined.filter(F.col("c2") <= EMB_BUCKET_CAP),
        "band_idx", "bucket", "rb",
    )
    star_pairs = (
        refined.filter(
            (F.col("c2") > EMB_BUCKET_CAP)
            & (F.col("vec_id") > F.col("anc.vec_id"))
        )
        .select(
            F.col("anc.vec_id").alias("id_a"),
            F.col("vec_id").alias("id_b"),
            F.col("anc.v").alias("va"),
            F.col("anc.nrm").alias("na"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
    )
    return (
        small_pairs.unionByName(refined_pairs)
        .unionByName(star_pairs)
        .dropDuplicates(["id_a", "id_b"])
    )


def _duck_emb_pairs_cte() -> str:
    """The oracle twin of ``_emb_bucket_pairs`` + cosine, as CTE text
    ending in a ``pairs(id_a, id_b, sim)`` relation; shared verbatim by
    ``embedding_similar_pairs`` and ``semantic_dedup_survivors`` so the
    cap/star semantics can never drift between the two oracles."""
    return f"""
    {_DUCK_LSH_BUCKETS_CTE},
    sized AS (
      SELECT band_idx, bucket, COUNT(*) AS c
      FROM buckets GROUP BY band_idx, bucket HAVING COUNT(*) >= 2
    ),
    -- members of OVERSIZED buckets with their band-specific refine
    -- sub-bucket (lazy CASE: only these rows pay the 16 extra folds)
    over_m AS MATERIALIZED (
      SELECT x.vec_id, x.v, x.nrm, x.band_idx, x.bucket,
             {duck_refine_bucket_case('x.v', 'x.band_idx')} AS rb
      FROM buckets x
      JOIN sized s ON s.band_idx = x.band_idx AND s.bucket = x.bucket
      WHERE s.c > {EMB_BUCKET_CAP}
    ),
    sized2 AS (
      SELECT band_idx, bucket, rb,
             COUNT(*) AS c2, MIN(vec_id) AS min_id
      FROM over_m
      GROUP BY band_idx, bucket, rb HAVING COUNT(*) >= 2
    ),
    cand AS (
      -- level-1 buckets at or under the cap: all pairs
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.v AS va, a.nrm AS na, b.v AS vb, b.nrm AS nb
      FROM buckets a
      JOIN buckets b ON a.band_idx = b.band_idx AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id
      JOIN sized s  ON s.band_idx = a.band_idx AND s.bucket = a.bucket
      WHERE s.c <= {EMB_BUCKET_CAP}
      UNION
      -- refined sub-buckets at or under the cap: all pairs
      SELECT a.vec_id, b.vec_id, a.v, a.nrm, b.v, b.nrm
      FROM over_m a
      JOIN over_m b ON a.band_idx = b.band_idx AND a.bucket = b.bucket
                    AND a.rb = b.rb AND a.vec_id < b.vec_id
      JOIN sized2 t ON t.band_idx = a.band_idx AND t.bucket = a.bucket
                    AND t.rb = a.rb
      WHERE t.c2 <= {EMB_BUCKET_CAP}
      UNION
      -- sub-buckets STILL past the cap: min-id star
      SELECT t.min_id, b.vec_id, ma.v, ma.nrm, b.v, b.nrm
      FROM sized2 t
      JOIN over_m b  ON b.band_idx = t.band_idx AND b.bucket = t.bucket
                     AND b.rb = t.rb AND b.vec_id > t.min_id
      JOIN over_m ma ON ma.band_idx = t.band_idx AND ma.bucket = t.bucket
                     AND ma.rb = t.rb AND ma.vec_id = t.min_id
      WHERE t.c2 > {EMB_BUCKET_CAP}
    ),
    pairs AS (
      SELECT DISTINCT id_a, id_b,
             {duck_cos_e4('va', 'vb', 'na', 'nb')} / 10000 AS sim
      FROM cand
    )"""


@query(
    "embedding_similar_pairs",
    oracle=f"""
    WITH {_duck_emb_pairs_cte()}
    SELECT id_a, id_b, sim FROM pairs WHERE sim >= {SIMILAR_COS}
    """,
)
def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: embedding-cosine near-dup pairs — the vector-space twin of
    MinHash near-dedup. Candidates are corpus self-pairs sharing any LSH
    band bucket, emitted per bucket from its collected member array
    (all pairs up to EMB_BUCKET_CAP members; oversized buckets refine
    on extra sign bits, then star — see _emb_bucket_pairs); only
    candidates pay the exact fold-ordered cosine, and pairs at or above
    the threshold survive. The threshold is the only dedup parameter:
    this corpus contains no true near-duplicates (max pairwise cosine
    ~0.51), so the registered query runs the identical plan at 0.40 to
    keep the correctness signal non-vacuous.

    At 100 TB the bucket relation is the whole story: the corpus never
    cross-joins itself, shuffle keys are hash-uniform, per-bucket pair
    output is bounded (CAP²/2 small, m−1 star), and the cosine
    threshold prunes before anything aggregates. Near-identical vectors
    agree on all bands, so recall at 0.99 cosine is near-exact.

    The recall contract (numbers in SCALE.md; pinned by
    test_emb_star_recall_via_other_bands): a similar pair in an
    oversized bucket whose refined sub-bucket still exceeds the cap is
    scored only against the sub-bucket's min-id anchor — by
    construction a near-duplicate of both, so mass-duplicate clusters stay fully connected for
    semantic_dedup_survivors even when unrelated vectors share their
    level-1 bucket (the round-10 raw-bucket star could anchor on such
    an outsider and lose every cluster pair to the threshold). Pairs
    split across sub-buckets surface via any other band where they
    share a ≤CAP bucket (4 independent bands). This bounded-recall
    trade is the price of never emitting O(m²) from degenerate input;
    the oracle implements the identical rule from the shared CTE.
    """
    from bq_nvd_spark.operators.checkpoint import shared_stage

    # Shared chain stage (round 12): semantic_dedup_survivors closes
    # this relation into clusters, so under the one-query-at-a-time
    # contract the signature/bucket/cosine pipeline ran twice per
    # session pass. Same immutable-input contract as the MinHash chain
    # (operators/checkpoint.py::shared_stage).
    return shared_stage(
        spark,
        ("similarity.embedding_similar_pairs", sf_dir),
        lambda: _embedding_similar_pairs_build(spark, sf_dir),
    )


def _embedding_similar_pairs_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sig = _emb_sig(spark, sf_dir)
    cand = _emb_bucket_pairs(sig)
    return cand.select(
        "id_a",
        "id_b",
        (cos_e4("va", "vb", "na", "nb") / 10000).alias("sim"),
    ).filter(F.col("sim") >= SIMILAR_COS)


# --------------------------------------------------------------------------
# E3 support: per-label centroids — the k-means/classifier building
# block (class prototypes, cluster seeds, nearest-centroid baselines).
# Element-wise mean over float rows is summation-order-sensitive, so
# each component is fixed to integer NANO-units per row first: row sums
# become exact integer math (|component| ≤ ~2, 64-dim, ≤1e5 rows →
# ≤ 2e14 ≪ 2^53, exact in BIGINT and in the final double divide), and
# the mean is rounded at 1e-6 with the floor form. Scale shape: one
# posexplode (row-local, ×DIM) and ONE hash agg on (label, pos) —
# map-side partial sums absorb the per-label skew; no window, no sort.
@query(
    "label_centroids",
    oracle="""
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    x AS (
      SELECT label, i - 1 AS pos,
             CAST(FLOOR(v[i] * 1000000000 + 0.5) AS BIGINT) AS nano
      FROM e, UNNEST(range(1, 65)) t(i)
    )
    SELECT label, pos,
           COUNT(*) AS n_vecs,
           FLOOR(CAST(SUM(nano) AS DOUBLE) / COUNT(*) / 1000 + 0.5)
             / 1000000 AS centroid_r
    FROM x
    GROUP BY label, pos
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    x = e.select("label", F.posexplode("v").alias("pos", "val")).select(
        "label",
        "pos",
        F.floor(F.col("val") * 1_000_000_000 + 0.5).cast("long").alias("nano"),
    )
    return x.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.floor(
                F.sum("nano").cast("double") / F.count(F.lit(1)) / 1000 + 0.5
            )
            / 1_000_000
        ).alias("centroid_r"),
    )


N_ANCHORS = 5  # per-cell anchor sample for the medoid centrality score
_SCORE_SCALE = 1_000_000_000_000  # cos → integer at 1e-12 — exact int sums


@query(
    "ivf_refined_topk",
    oracle=f"""
    WITH {DUCK_NORMS_CTE},
    cents AS (
      SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
      FROM n WHERE vec_id >= {QUERY_MAX_ID} AND vec_id < {_CENT_MAX_ID}
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, v, nrm, cell FROM (
        SELECT a.vec_id, a.v, a.nrm, c.cent_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {duck_cosine('a.v', 'c.cv', 'a.nrm', 'c.cnrm')} DESC,
                          c.cent_id) AS rn
        FROM n a, cents c
        WHERE a.vec_id >= {QUERY_MAX_ID}
      ) WHERE rn = 1
    ),
    anchors AS (
      SELECT cell, v AS av, nrm AS anrm FROM (
        SELECT cell, v, nrm,
               ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        FROM assign
      ) WHERE rn <= {N_ANCHORS}
    ),
    member_scores AS (
      SELECT m.cell, m.vec_id,
             SUM(CAST(FLOOR({duck_cosine('m.v', 'a.av', 'm.nrm', 'a.anrm')}
                            * {_SCORE_SCALE} + 0.5) AS BIGINT)) AS score
      FROM assign m JOIN anchors a ON a.cell = m.cell
      GROUP BY m.cell, m.vec_id
    ),
    reps AS (
      SELECT rep_id FROM (
        SELECT vec_id AS rep_id,
               ROW_NUMBER() OVER (PARTITION BY cell
                                  ORDER BY score DESC, vec_id) AS rn
        FROM member_scores
      ) WHERE rn = 1
    ),
    rcents AS (
      SELECT n.vec_id AS rep_id, n.v AS rv, n.nrm AS rnrm
      FROM reps r JOIN n ON n.vec_id = r.rep_id
    ),
    reassign AS (
      SELECT vec_id, v, nrm, rcell FROM (
        SELECT a.vec_id, a.v, a.nrm, r.rep_id AS rcell,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {duck_cosine('a.v', 'r.rv', 'a.nrm', 'r.rnrm')} DESC,
                          r.rep_id) AS rn
        FROM n a, rcents r
        WHERE a.vec_id >= {QUERY_MAX_ID}
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, qv, qn, rcell FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, r.rep_id AS rcell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {duck_cosine('q.v', 'r.rv', 'q.nrm', 'r.rnrm')} DESC,
                          r.rep_id) AS rn
        FROM n q, rcents r
        WHERE q.vec_id < {QUERY_MAX_ID}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id,
             {duck_cos_e4('p.qv', 'a.v', 'p.qn', 'a.nrm')} / 10000 AS sim
      FROM probes p JOIN reassign a ON a.rcell = p.rcell
    )
    SELECT q_id, vec_id, sim
    {DUCK_TOP_K_TAIL}
    """,
)
def ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: IVF with DATA-ADAPTIVE centroids — the training step ivf_topk
    leaves offline, expressed as one deterministic refinement pass
    (sampled-medoid, PAM-style): coarse-assign the corpus to the fixed
    seeds, score each member's centrality as the sum of cosines to its
    cell's N_ANCHORS lowest-id members, promote each cell's best-scoring
    member to be the refined centroid, then re-assign, probe, and
    re-rank exactly as the plain IVF does.

    Determinism at the argmax: each anchor cosine is fixed to an integer
    at 1e-12 BEFORE summation, so the centrality score is an exact
    integer sum — the winning medoid cannot flip on float addition
    order, which a raw SUM(cos) argmax could. Scale shape: anchors are
    N_ANCHORS×|cells| rows (broadcast), scoring is one broadcast join
    over the corpus, and both assignment passes are per-row HOF argmaxes
    against a single broadcast centroid array — the corpus shuffles only
    at the final (cell ⋈ probe) candidate join, same as ivf_topk.
    """
    from pyspark.sql.window import Window

    from bq_nvd_spark.operators.checkpoint import shared_stage

    # The normalized corpus feeds FIVE consumers (seed centroids, coarse
    # assign, refined-centroid lookup, re-assign, query probes); without
    # materialization each one replays the scan + norm kernel and the
    # whole plan balloons to 34 shuffles / 26 broadcasts. It is the
    # E3-shared normed_corpus (session-memoized).
    n = normed_corpus(spark, sf_dir)
    corpus = n.filter(F.col("vec_id") >= QUERY_MAX_ID)

    def argmax_cell(arr_col: str, id_field: str, vec_field: str, nrm_field: str):
        def cos(c):
            return fold_dot("v", c[vec_field]) / (F.col("nrm") * c[nrm_field])

        return F.aggregate(
            arr_col,
            F.struct(
                F.lit(-2.0).cast("double").alias("cos"),
                F.lit(None).cast("long").alias("cell"),
            ),
            lambda acc, c: F.when(
                cos(c) > acc["cos"],
                F.struct(cos(c).alias("cos"), c[id_field].alias("cell")),
            ).otherwise(acc),
        )["cell"]

    # Seed (coarse) assignment: content-identical to the session-shared
    # fixed-seed quantizer — same centroid subset, same sorted array,
    # same strictly-greater argmax fold — so consume the shared
    # relation instead of re-running the corpus × 16-centroid HOF pass
    # per invocation (optimization round 17). Only the RE-assign below
    # is refined-specific.
    assign, _ = _ivf_assign_and_probes(spark, sf_dir)

    # Per-cell anchor sample: the N_ANCHORS lowest-id members, folded to
    # one array per cell and broadcast back onto the members.
    w_anchor = Window.partitionBy("cell").orderBy("vec_id")
    anchors = (
        assign.select(
            "cell", "vec_id", "v", "nrm", F.row_number().over(w_anchor).alias("rn")
        )
        .filter(F.col("rn") <= N_ANCHORS)
        .groupBy("cell")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("a_id"),
                        F.col("v").alias("av"),
                        F.col("nrm").alias("anrm"),
                    )
                )
            ).alias("anchor_arr")
        )
    )
    scored_members = assign.join(F.broadcast(anchors), "cell").select(
        "cell",
        "vec_id",
        F.aggregate(
            "anchor_arr",
            F.lit(0).cast("long"),
            lambda acc, a: acc
            + F.floor(
                fold_dot("v", a["av"])
                / (F.col("nrm") * a["anrm"])
                * F.lit(_SCORE_SCALE)
                + 0.5
            ).cast("long"),
        ).alias("score"),
    )
    w_rep = Window.partitionBy("cell").orderBy(F.desc("score"), F.asc("vec_id"))
    reps = (
        scored_members.select(
            "cell", "vec_id", F.row_number().over(w_rep).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("rep_id"))
    )

    # Refined centroids → ONE broadcast row, a session memo: both the
    # re-assign and the query-probe sides consume it, and its upstream
    # (member scoring + per-cell window) is the plan's deepest branch.
    rcent_arr = shared_stage(
        spark,
        ("ivf_refined_cents", sf_dir),
        lambda: reps.join(n, reps.rep_id == n.vec_id)
        .select(
            F.struct(
                F.col("rep_id").alias("cent_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cnrm"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("rcents")),
    )

    def rcent_cos(c):
        return fold_dot("v", c["cv"]) / (F.col("nrm") * c["cnrm"])

    probe_cells = F.slice(
        F.sort_array(
            F.transform(
                "rcents",
                lambda c: F.struct(
                    (-rcent_cos(c)).alias("neg_cos"), c["cent_id"].alias("cell")
                ),
            )
        ),
        1,
        IVF_NPROBE,
    )
    reassign = corpus.crossJoin(F.broadcast(rcent_arr)).select(
        "vec_id",
        "v",
        "nrm",
        argmax_cell("rcents", "cent_id", "cv", "cnrm").alias("rcell"),
    )
    probes = (
        n.filter(F.col("vec_id") < QUERY_MAX_ID)
        .crossJoin(F.broadcast(rcent_arr))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.explode(probe_cells).alias("p"),
        )
        .select("q_id", "qv", "qn", F.col("p.cell").alias("rcell"))
    )
    scored = reassign.join(F.broadcast(probes), "rcell").select(
        "q_id",
        "vec_id",
        (cos_e4("qv", "v", "qn", "nrm") / 10000).alias("sim"),
    )
    return top_k_per_query(scored)


# --------------------------------------------------------------------------
# E2/E3 composition: SEMANTIC dedup — near-dup removal by embedding
# cosine rather than lexical overlap (the SemDeDup recipe: cluster
# vectors whose cosine clears a threshold, keep one representative per
# cluster). Reuses the whole existing stack: LSH-bucketed candidate
# pairs (never a corpus self cross-join) → connected components
# (driver loops over rounds, never rows) → min-id survivorship via a
# broadcast anti-join. The oracle recomputes the identical fixpoint as
# a recursive-CTE reachability closure over the same bucketed pairs.
@query(
    "semantic_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_duck_emb_pairs_cte()},
    edge AS (
      SELECT id_a, id_b FROM pairs WHERE sim >= {SIMILAR_COS}
    ),
    {duck_near_dup_closure("edge", "id_a", "id_b")},
    dropped AS (
      SELECT id FROM walk GROUP BY id HAVING id != MIN(rep)
    )
    SELECT vec_id, label
    FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM dropped)
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantically deduplicated embedding corpus: every vector
    survives except non-minimum members of cosine-similarity clusters."""
    dropped = (
        near_dup_clusters(
            spark,
            "emb_lsh",
            sf_dir,
            lambda: embedding_similar_pairs(spark, sf_dir),
            "id_a",
            "id_b",
        )
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("vec_id"))
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    # No forced broadcast: the dropped set is corpus-proportional on a
    # high-dup corpus, so let AQE pick broadcast vs shuffled anti-join
    # from the observed build-side size.
    return emb.join(dropped, "vec_id", "left_anti")


# --------------------------------------------------------------------------
# E3g: intra-label cohesion WITHOUT pairs — the sum-vector identity
#   sum_{i!=j} <v_i, v_j>  =  ||sum_i v_i||^2  -  sum_i ||v_i||^2
# turns an O(n^2)-pair statistic (mean pairwise dot within a label, the
# standard cluster-cohesion diagnostic) into two O(n) aggregations.
# At 100 TB this is the difference between impossible and one shuffle:
# a label with 10^9 members never materializes a pair. All sums run in
# integer units (components quantized at 1e-5) so partial aggregation
# is order-exact across any partitioning; the single cast to double
# happens once per label on the final division. Overflow headroom:
# |sum q| <= n * 1e5 * max|v| keeps (sum q)^2 inside int64 for n well
# past 10^6 rows per label at this fixture's value range — at larger n,
# raise to DECIMAL(38) sums, same plan.
_COH_SCALE = 100_000  # 1e-5 quantization; squares land in S^2 = 1e10 units


@query(
    "label_cohesion_stats",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    x AS (
      SELECT label, i,
             CAST(FLOOR(v[i] * {_COH_SCALE} + 0.5) AS BIGINT) AS q
      FROM e, UNNEST(range(1, 65)) t(i)
    ),
    comp AS (
      SELECT label, i,
             CAST(SUM(q) AS BIGINT) AS s,
             CAST(SUM(q * q) AS BIGINT) AS sq
      FROM x GROUP BY label, i
    ),
    agg AS (
      SELECT label,
             CAST(SUM(s * s) AS BIGINT) AS tot,
             CAST(SUM(sq) AS BIGINT) AS self
      FROM comp GROUP BY label
    ),
    nv AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
    SELECT nv.label,
           CAST(nv.n AS BIGINT) AS n_vecs,
           FLOOR(CAST(agg.tot - agg.self AS DOUBLE)
                 / (nv.n * (nv.n - 1))
                 / {_COH_SCALE}.0 / {_COH_SCALE}.0 * 1000000 + 0.5) / 1000000
             AS cohesion_r
    FROM nv JOIN agg ON nv.label = agg.label
    """,
)
def label_cohesion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean intra-label pairwise dot product, pair-free.

    One posexplode feeding a (label, pos) aggregation (map-side combine
    absorbs the 64x row expansion), then a per-label rollup of the
    component sums — both shuffles keyed on label(+pos), output one row
    per label. The naive formulation is a self-join producing
    n^2/|labels| pair rows; this plan's peak relation is |labels| x 64.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        "pos",
        F.floor(F.col("val").cast("double") * _COH_SCALE + 0.5)
        .cast("long")
        .alias("q"),
    )
    comp = x.groupBy("label", "pos").agg(
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    agg = comp.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("tot"),
        F.sum("sq").alias("self"),
    )
    nv = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    coh = (
        (F.col("tot") - F.col("self")).cast("double")
        / (F.col("n_vecs") * (F.col("n_vecs") - 1))
        / float(_COH_SCALE)
        / float(_COH_SCALE)
    )
    return nv.join(agg, "label").select(
        "label",
        "n_vecs",
        (F.floor(coh * 1_000_000 + 0.5) / 1_000_000).alias("cohesion_r"),
    )


# --------------------------------------------------------------------------
# E3 widening (round 14): MMR diversified retrieval (Carbonell &
# Goldstein 1998) — the re-rank every production retrieval stack runs
# between ANN candidates and the consumer: greedily pick the candidate
# maximizing lam*rel(q,d) - (1-lam)*max_{s in S} sim(d, s), so the
# result page trades raw relevance for coverage. Exactness contract:
# relevance and pairwise sims are quantized to integer 1e-4 units
# (the family's floor(x*10000+0.5) discipline), lam = 7/10 enters as
# integer cross-multiplication (score = 7*rel - 3*maxsim), and every
# argmax tie-breaks on vec_id — the whole greedy trace is exact
# integer arithmetic, hash-identical cross-engine.
#
# Scale shape (100 TB): the corpus-sized work is ONE relevance pass
# (the cosine_topk shape: broadcast query set, per-row Arrow fold, one
# top-POOL window per query); the greedy loop then runs over the
# CHECKPOINTED pool (queries x MMR_POOL rows) and its pairwise-sim
# relation (queries x POOL^2) — both limit-bounded, so the K driver-
# side plan-building iterations never touch the corpus again and the
# K argmaxes window over bounded relations. MMR's sequential data
# dependency is irreducible (pick i needs picks 1..i-1); bounding the
# pool is what makes the greedy loop scale-free.
MMR_POOL = 20  # relevance pool the greedy re-rank selects from
MMR_K = 5  # picks per query
MMR_LAM_NUM = 7  # lam = 7/10: score = 7*rel_e4 - 3*maxsim_e4
MMR_LAM_DEN = 10


#: brute-force relevance CTE: every (query, corpus) pair scored — the
#: exact pool. The ANN variant swaps in _MMR_IVF_REL below; the
#: unrolled greedy blocks are shared verbatim.
_MMR_BRUTE_REL = f"""q AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
      WHERE vec_id < {QUERY_MAX_ID}
    ),
    c AS (
      SELECT vec_id, v AS cv, nrm AS cn FROM n
      WHERE vec_id >= {QUERY_MAX_ID}
    ),
    rel AS (
      SELECT q.q_id, c.vec_id, c.cv, c.cn,
             CAST({duck_cos_e4('qv', 'cv', 'qn', 'cn')} AS BIGINT) AS rel_e4
      FROM c CROSS JOIN q
    )"""

#: IVF-shortlisted relevance CTE: the same deterministic coarse
#: quantizer as ivf_topk (fixed centroid subset, argmax-cosine cell
#: assignment with smallest-cent_id ties, IVF_NPROBE probed cells per
#: query) — relevance is scored ONLY for candidates in probed cells,
#: so the 100 TB path never scans the corpus per query batch.
_MMR_IVF_REL = f"""{_IVF_QUANTIZER_CTE},
    rel AS (
      SELECT p.q_id, a.vec_id, a.v AS cv, a.nrm AS cn,
             CAST({duck_cos_e4('p.qv', 'a.v', 'p.qn', 'a.nrm')} AS BIGINT) AS rel_e4
      FROM probes p JOIN assign a ON a.cell = p.cell
    )"""


def _mmr_oracle(rel_cte: str = _MMR_BRUTE_REL) -> str:
    """Unrolled greedy MMR in SQL: one (m_i, c_i, p_i, s_i) CTE block
    per pick, generated from the same constants the Spark plan uses so
    the two traces cannot drift apart. ``rel_cte`` supplies the pool's
    relevance relation — brute-force by default, IVF-shortlisted for
    the ANN variant; everything downstream of ``rel`` is shared."""
    lam, mu = MMR_LAM_NUM, MMR_LAM_DEN - MMR_LAM_NUM
    blocks = [
        f"""
    p1 AS (
      SELECT q_id, vec_id, CAST(1 AS INTEGER) AS mmr_rank,
             CAST({lam} * rel_e4 AS BIGINT) AS mmr_score
      FROM pool WHERE prn = 1
    ),
    s1 AS (SELECT * FROM p1)"""
    ]
    for i in range(2, MMR_K + 1):
        blocks.append(f"""
    m{i} AS (
      SELECT p.q_id, p.vid_a AS vec_id, MAX(p.sim_e4) AS ms
      FROM pairs p
      JOIN s{i - 1} s ON s.q_id = p.q_id AND s.vec_id = p.vid_b
      GROUP BY p.q_id, p.vid_a
    ),
    c{i} AS (
      SELECT r.q_id, r.vec_id,
             CAST({lam} * r.rel_e4 - {mu} * m.ms AS BIGINT) AS sc
      FROM pool r
      JOIN m{i} m ON m.q_id = r.q_id AND m.vec_id = r.vec_id
      WHERE NOT EXISTS (
        SELECT 1 FROM s{i - 1} s
        WHERE s.q_id = r.q_id AND s.vec_id = r.vec_id
      )
    ),
    p{i} AS (
      SELECT q_id, vec_id, CAST({i} AS INTEGER) AS mmr_rank,
             sc AS mmr_score
      FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY q_id ORDER BY sc DESC, vec_id) AS rn
        FROM c{i}
      ) WHERE rn = 1
    ),
    s{i} AS (SELECT * FROM s{i - 1} UNION ALL SELECT * FROM p{i})""")
    return (
        f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, SQRT({duck_fold_dot('v', 'v')}) AS nrm FROM e
    ),
    {rel_cte},
    pool AS MATERIALIZED (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY q_id ORDER BY rel_e4 DESC, vec_id) AS prn
        FROM rel
      ) WHERE prn <= {MMR_POOL}
    ),
    pairs AS MATERIALIZED (
      SELECT a.q_id, a.vec_id AS vid_a, b.vec_id AS vid_b,
             CAST({duck_cos_e4('a.cv', 'b.cv', 'a.cn', 'b.cn')} AS BIGINT) AS sim_e4
      FROM pool a
      JOIN pool b ON b.q_id = a.q_id AND b.vec_id <> a.vec_id
    ),"""
        + ",".join(blocks)
        + f"""
    SELECT q_id, mmr_rank, vec_id, mmr_score FROM s{MMR_K}
    """
    )


@query("mmr_diverse_topk", oracle=_mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR re-rank of the per-query top-MMR_POOL relevance pool
    (see the section note for the exactness and scale contracts)."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    rel = score_query_set(normed_corpus(spark, sf_dir), "v", "nrm").select(
        "q_id",
        "vec_id",
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("sim_e4").cast("long").alias("rel_e4"),
    )
    # The ONE corpus-sized pass ends here: the pool (with vectors,
    # queries x MMR_POOL rows) is a session memo, so the greedy loop's
    # K consumers and the pairwise-sim relation read a materialized
    # limit-bounded relation instead of replaying the scan.
    # Materialize at the window's natural width, THEN coalesce the
    # <= queries x MMR_POOL rows to one partition for the tiny
    # downstream stages. coalesce is narrow — placing it INSIDE the
    # memo build would collapse the corpus-sized top-pool Sort+Window
    # stage into a single task (the un-partitioned-window trap),
    # because coalesce propagates up to the previous shuffle boundary.
    pool = shared_stage(spark, ("mmr_pool", sf_dir), lambda: _mmr_pool(rel))
    return _mmr_greedy_from_pool(pool.coalesce(1))


def _mmr_pool(rel: DataFrame) -> DataFrame:
    """The per-query top-MMR_POOL of a (q_id, vec_id, cv, cn, rel_e4)
    relevance relation, (rel_e4 DESC, vec_id ASC) — the pool both MMR
    variants memoize."""
    from pyspark.sql.window import Window

    wpool = Window.partitionBy("q_id").orderBy(
        F.desc("rel_e4"), F.asc("vec_id")
    )
    return (
        rel.withColumn("prn", F.row_number().over(wpool))
        .filter(F.col("prn") <= MMR_POOL)
        .select("q_id", "vec_id", "cv", "cn", "rel_e4")
    )


def _mmr_greedy_from_pool(pool: DataFrame) -> DataFrame:
    """The irreducibly sequential greedy MMR trace, shared verbatim by
    the brute-force and ANN-pooled variants. ``pool`` must be a
    MATERIALIZED, limit-bounded relation (<= queries x MMR_POOL rows)
    with columns (q_id, vec_id, cv, cn, rel_e4): pairwise sims over
    the bounded pool, then ONE grouped applyInPandas running the exact
    integer-scored trace the unrolled SQL oracle walks."""
    a = pool.select(
        "q_id",
        F.col("vec_id").alias("vid_a"),
        F.col("cv").alias("va"),
        F.col("cn").alias("na"),
    )
    b = pool.select(
        "q_id",
        F.col("vec_id").alias("vid_b"),
        F.col("cv").alias("vb"),
        F.col("cn").alias("nb"),
    )
    pairs = (
        a.join(b, "q_id")
        .filter(F.col("vid_a") != F.col("vid_b"))
        .select(
            "q_id",
            "vid_a",
            "vid_b",
            cos_e4("va", "vb", "na", "nb").cast("long").alias("sim_e4"),
        )
    )
    # The greedy trace is irreducibly sequential (pick i needs picks
    # 1..i-1), so it runs per query group in ONE applyInPandas over the
    # bounded (candidate, candidate) sim relation joined with the
    # candidates' relevance — exact integer arithmetic in pandas, the
    # same trace the unrolled SQL oracle walks. A DataFrame-op loop
    # (window argmax + anti-join per pick) is semantically identical
    # but pays ~10 exchanges of scheduling for 100-row relations; the
    # grouped kernel pays one.
    rel_a = pool.select(
        "q_id", F.col("vec_id").alias("vid_a"), "rel_e4"
    )
    # LEFT join from the pool side: a query whose pool has exactly ONE
    # candidate produces no pairs rows, but its rank-1 pick must still
    # be emitted (the oracle's p1 CTE selects from pool, not pairs) —
    # an inner join would silently drop the whole group.
    feed = rel_a.join(pairs, ["q_id", "vid_a"], "left")
    lam, mu = MMR_LAM_NUM, MMR_LAM_DEN - MMR_LAM_NUM

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        q_id = pdf["q_id"].iloc[0]
        rel_by = {
            int(a): int(r)
            for a, r in pdf[["vid_a", "rel_e4"]]
            .drop_duplicates("vid_a")
            .itertuples(index=False)
        }
        # vid_b/sim_e4 are null on a singleton pool's seed row (and
        # arrive as float64 once nullable) — skip them and re-int keys
        sim = {
            (int(a), int(b)): int(s_)
            for a, b, s_ in zip(pdf["vid_a"], pdf["vid_b"], pdf["sim_e4"])
            if not pd.isna(b)
        }
        picked: "list[tuple]" = []
        chosen: "list[int]" = []
        remaining = sorted(rel_by)
        while remaining and len(picked) < MMR_K:
            best = None
            for v in remaining:
                if chosen:
                    score = int(lam) * rel_by[v] - int(mu) * max(
                        sim[(v, c)] for c in chosen
                    )
                else:
                    score = int(lam) * rel_by[v]
                # argmax, ties to the SMALLEST vec_id (remaining is
                # sorted ascending, so strict > keeps the first)
                if best is None or score > best[0]:
                    best = (score, v)
            picked.append(
                (q_id, len(picked) + 1, best[1], best[0])
            )
            chosen.append(best[1])
            remaining.remove(best[1])
        return pd.DataFrame(
            picked, columns=["q_id", "mmr_rank", "vec_id", "mmr_score"]
        )

    return feed.groupBy("q_id").applyInPandas(
        _greedy,
        schema="q_id bigint, mmr_rank int, vec_id bigint, mmr_score bigint",
    )

# --------------------------------------------------------------------------
# E3 (round 15): MMR over an IVF shortlist — the scale path for
# diversified retrieval. mmr_diverse_topk's relevance pass is the
# brute-force corpus scan (the exactness baseline, same accepted shape
# as cosine_topk); here the pool is drawn from the SAME deterministic
# coarse quantizer as ivf_topk (fixed centroid subset, argmax-cosine
# assignment, IVF_NPROBE probed cells per query), so only vectors in
# probed cells pay the relevance dot product and the 100 TB path never
# scans the corpus per query batch. Downstream of the pool, the
# pairwise-sim relation and the greedy trace are _mmr_greedy_from_pool
# — shared VERBATIM with the brute variant — and the oracle shares the
# unrolled CTE blocks, swapping only the relevance CTE; the quantizer
# is deterministic in both engines, so the contract stays hash-exact
# (stronger than a recall bound).
@query("mmr_ann_diverse_topk", oracle=_mmr_oracle(_MMR_IVF_REL))
def mmr_ann_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR re-rank over the IVF-shortlisted relevance pool (see
    the section note; pool semantics match ivf_topk's candidate set)."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    assign, probes = _ivf_assign_and_probes(spark, sf_dir)
    rel = assign.join(F.broadcast(probes), "cell").select(
        "q_id",
        "vec_id",
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        cos_e4("qv", "v", "qn", "nrm").cast("long").alias("rel_e4"),
    )
    # Same memo-then-coalesce discipline as the brute variant:
    # materialize at the shortlist's natural width, then collapse the
    # <= queries x MMR_POOL rows for the tiny downstream stages.
    pool = shared_stage(
        spark, ("mmr_ann_pool", sf_dir), lambda: _mmr_pool(rel)
    )
    return _mmr_greedy_from_pool(pool.coalesce(1))

# --------------------------------------------------------------------------
# E3 (round 15): HARD-NEGATIVE MINING for contrastive training — for
# every labeled corpus vector, the most-similar vector carrying a
# DIFFERENT label among candidates in its IVF cell (the standard
# ANN-restricted mining loop: the hardest negatives live in the same
# coarse cell by construction, which is why FAISS-based miners batch
# by cell). Reuses the shared quantizer's ``assign`` relation — no
# third copy of the quantizer, per the round-15 review rule.
#
# Exactness: the per-anchor argmax is ONE integer MIN aggregate —
# key = (10000 − sim_e4)·2^44 + vec_id, so MIN key sorts by
# (sim DESC, vec_id ASC) exactly and the pair decodes back out — the
# same single-integer-argmin trick as the winnowing kernel. The id
# term is additive (never a subtraction that can go negative), and
# vec_id < 2^44 is structurally unreachable at the target scale
# (2^44 64-float vectors ≈ 4.5 EB); (10000−sim) ≤ 20000 keeps the key
# under 20001·2^44 ≈ 3.5e17 < 2^63.
#
# Scale shape (100 TB): the within-cell self-join is (corpus²/cells);
# IVF_CELLS is THE knob — a real deployment scales cells with the
# corpus so cell size stays ~constant and the join stays linear in
# corpus size (the same sizing argument as ivf_topk's candidate join
# and EMB_BUCKET_CAP's bucket bound). No broadcast anywhere: the
# self-join is a shuffle equi-join on the cell id.
HN_M = 1 << 44  # argmin encoder: key = (10000-sim_e4)*HN_M + vec_id


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS MATERIALIZED (
      SELECT vec_id, v, SQRT({duck_fold_dot('v', 'v')}) AS nrm FROM e
    ),
    {_IVF_QUANTIZER_CTE},
    la AS (
      SELECT a.vec_id, e.label, a.v, a.nrm, a.cell
      FROM assign a JOIN e ON e.vec_id = a.vec_id
    ),
    keyed AS (
      SELECT a.vec_id, a.label,
             MIN((10000 - CAST({duck_cos_e4('a.v', 'b.v', 'a.nrm', 'b.nrm')}
                               AS BIGINT))
                 * {HN_M} + b.vec_id) AS key
      FROM la a JOIN la b
        ON b.cell = a.cell AND b.label <> a.label
      GROUP BY a.vec_id, a.label
    )
    SELECT vec_id, label,
           CAST(key % {HN_M} AS BIGINT) AS neg_id,
           CAST(10000 - key // {HN_M} AS BIGINT) AS neg_sim_e4
    FROM keyed
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor hardest different-label negative within the anchor's
    IVF cell (see the section note). Anchors whose cell holds no
    other-label vector emit nothing, identically in both engines."""
    assign, _ = _ivf_assign_and_probes(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    la = assign.join(labels, "vec_id")
    a = la.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
        "cell",
    )
    b = la.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
        "cell",
    )
    sim_e4 = cos_e4("av", "bv", "an", "bn").cast("long")
    keyed = (
        a.join(b, "cell")
        .filter(F.col("b_label") != F.col("a_label"))
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("a_label").alias("label"),
            ((10000 - sim_e4) * HN_M + F.col("b_id")).alias("k"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("k").alias("key"))
    )
    return keyed.select(
        "vec_id",
        "label",
        (F.col("key") % HN_M).cast("long").alias("neg_id"),
        (10000 - F.expr(f"key div {HN_M}")).cast("long").alias("neg_sim_e4"),
    )


# --------------------------------------------------------------------------
# E2 × E3 (round 16): SemDeDup — embedding-space semantic near-dedup,
# the standard companion to MinHash for PARAPHRASE duplicates (Abbas
# et al. 2023, arXiv:2303.09540): cluster the corpus with a coarse
# quantizer, compare pairs only WITHIN a cluster, and keep one
# representative per connected group of above-threshold pairs. The
# quantizer is the same deterministic IVF assignment every other E3
# consumer uses (_ivf_assign_and_probes / _IVF_QUANTIZER_CTE — no
# third copy), the pair join is hard_negative_mining's shuffle
# equi-join on cell id, the closure is operators/graph.py connected
# components (driver loops over rounds, never rows), survivorship is
# the min-id rule. Differs from `semantic_dedup_survivors` above by
# design, not duplication: that one is LSH-band-bucketed with a
# global threshold; this is the SemDeDup recipe proper —
# cluster-scoped comparison, which misses cross-cell near-dups by
# construction (the paper's own recall trade; IVF_CELLS is the knob).
#
# Exactness: similarities are e4-quantized BEFORE the threshold
# compare (integer >=, no float in the decision); pairs are oriented
# id_a < id_b so each unordered pair appears once.
#
# Scale shape (100 TB): within-cell self-join is (corpus²/cells) with
# IVF_CELLS scaled to hold cell size ~constant (the
# hard_negative_mining argument); the component loop touches only the
# above-threshold EDGE set, a tiny fraction of the corpus; the
# survivor anti-join lets AQE pick broadcast vs shuffle from the
# observed dropped-set size. Nothing corpus-proportional is ever
# broadcast or collected.
SEMDEDUP_TAU_E4 = 4200  # cosine*1e4 threshold — tuned to split the
# driver fixture non-degenerately at every SF (the REP_DUP precedent;
# the paper's production value is ~9500 on real embedding models,
# this corpus' random-ish vectors top out near 0.6)

_SEMDEDUP_PAIRS_CTE = f"""n AS MATERIALIZED (
      SELECT vec_id, v, SQRT({duck_fold_dot('v', 'v')}) AS nrm
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings)
    ),
    {_IVF_QUANTIZER_CTE},
    sd_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST({duck_cos_e4('a.v', 'b.v', 'a.nrm', 'b.nrm')} AS BIGINT) AS sim_e4
      FROM assign a JOIN assign b
        ON b.cell = a.cell AND b.vec_id > a.vec_id
    ),
    sd_edges AS (
      SELECT id_a, id_b, sim_e4 FROM sd_pairs
      WHERE sim_e4 >= {SEMDEDUP_TAU_E4}
    )"""


def _semdedup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cell above-threshold pair relation (id_a < id_b, sim_e4)
    — shared by the pair diagnostic and the survivor transform via
    ``shared_stage`` so the cell self-join runs once per session."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        assign, _ = _ivf_assign_and_probes(spark, sf_dir)
        a = assign.select(
            F.col("vec_id").alias("id_a"),
            F.col("v").alias("av"),
            F.col("nrm").alias("an"),
            "cell",
        )
        b = assign.select(
            F.col("vec_id").alias("id_b"),
            F.col("v").alias("bv"),
            F.col("nrm").alias("bn"),
            "cell",
        )
        sim_e4 = cos_e4("av", "bv", "an", "bn").cast("long")
        return (
            a.join(b, "cell")
            .filter(F.col("id_b") > F.col("id_a"))
            .select("id_a", "id_b", sim_e4.alias("sim_e4"))
            .filter(F.col("sim_e4") >= SEMDEDUP_TAU_E4)
        )

    return shared_stage(spark, ("semdedup_edges", sf_dir), build)


def _semdedup_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-minimum members of the within-cell cosine clusters — the
    vec_ids SemDeDup removes. Shared by the survivor transform and
    the composed D4 pipeline below, both reading the one memoized
    closure of the family."""
    return (
        near_dup_clusters(
            spark,
            "semdedup",
            sf_dir,
            lambda: _semdedup_edges(spark, sf_dir),
            "id_a",
            "id_b",
        )
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("vec_id"))
    )


_DUCK_SEMDEDUP_CLOSURE = duck_near_dup_closure("sd_edges", "id_a", "id_b")


@query(
    "semdedup_pairs",
    oracle=f"""
    WITH {_SEMDEDUP_PAIRS_CTE}
    SELECT id_a, id_b, sim_e4 FROM sd_edges
    """,
)
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-IVF-cell cosine pairs at or above SEMDEDUP_TAU_E4 (see
    the section note) — the audit artifact behind the survivor
    transform: which vectors the dedup would merge, and how close
    they actually are."""
    return _semdedup_edges(spark, sf_dir)


@query(
    "semdedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_SEMDEDUP_PAIRS_CTE},
    {_DUCK_SEMDEDUP_CLOSURE},
    dropped AS (
      SELECT id FROM walk GROUP BY id HAVING id != MIN(rep)
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label
    FROM embeddings
    WHERE vec_id >= {QUERY_MAX_ID}
      AND vec_id NOT IN (SELECT id FROM dropped)
    """,
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup'd corpus: every indexed vector survives except
    non-minimum members of within-cell cosine clusters. The spine is
    the IVF-indexed corpus (vec_id >= QUERY_MAX_ID) — query vectors
    are retrieval probes, not dedup candidates."""
    dropped = _semdedup_dropped(spark, sf_dir)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= QUERY_MAX_ID)
        .select("vec_id", F.col("label").cast("long").alias("label"))
    )
    # No forced broadcast: the dropped set is corpus-proportional on a
    # high-dup corpus, so let AQE pick broadcast vs shuffled anti-join
    # from the observed build-side size.
    return emb.join(dropped, "vec_id", "left_anti")


# --------------------------------------------------------------------------
# E3 (round 16): IVF index BALANCE census — the index-operations
# diagnostic behind every within-cell cost argument in this file
# (ivf_topk's candidate join, hard_negative_mining's and SemDeDup's
# (corpus²/cells) self-joins): per-cell population. A cell whose
# population is a large multiple of corpus/IVF_CELLS breaks those
# cost models (the FAISS "imbalance factor"); at 100 TB this census
# is the monitoring row that tells you to re-train centroids or raise
# IVF_CELLS. One groupBy over the shared assignment — 16 rows out,
# nothing else retained. Integer counts; the imbalance factor is the
# reader's division against n_vecs/IVF_CELLS.
@query(
    "ivf_cell_census",
    oracle=f"""
    WITH {DUCK_NORMS_CTE},
    {_IVF_QUANTIZER_CTE}
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
           CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
    FROM assign GROUP BY cell
    """,
)
def ivf_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell population of the shared IVF coarse quantizer (see
    the section note), with the id range as a cheap cell fingerprint
    — the index-balance row every within-cell join's cost model
    assumes is flat."""
    assign, _ = _ivf_assign_and_probes(spark, sf_dir)
    return assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
        F.max("vec_id").cast("long").alias("max_vec_id"),
    )


# --------------------------------------------------------------------------
# E3 × E6 (round 17): D4-style PROTOTYPICALITY pruning — SemDeDup's
# published companion stage (Tirumala et al. 2023, arXiv:2308.12284,
# which runs SemDeDup then SSL-prototype pruning; Sorscher et al.
# 2022, arXiv:2206.14486 for the prototypicality metric): within each
# cluster, rank members by cosine to the cluster centroid and drop
# the most PROTOTYPICAL fraction — near-centroid examples are the
# most redundant with the rest of their cluster, so when data is
# abundant they contribute the least marginal signal. The cluster
# structure is the SAME deterministic IVF assignment every other E3
# consumer uses (_ivf_assign_and_probes / _IVF_QUANTIZER_CTE — no new
# quantizer copy); the ranking reuses hard_negative_mining's
# e4-integer cosine discipline with vec_id tie-breaks.
#
# Exactness: cosine-to-centroid is e4-quantized BEFORE ranking
# (integer ORDER BY, ties to the smaller vec_id); the drop count per
# cell is exact integer arithmetic, floor(n_cell * NUM / DEN) via
# div/'//' (both engines truncate toward zero; counts are positive).
#
# Scale shape (100 TB): ONE broadcast join of the 16-row centroid
# relation onto the shared assignment (per-row fold, no self-join —
# strictly cheaper than any pair stage in this file), one window
# partitioned BY CELL (the same corpus/IVF_CELLS partition bound as
# the within-cell joins; IVF_CELLS is the knob that caps partition
# width), one groupBy for the census. The ranked relation is
# shared_stage'd across the transform and the census.
PROTO_NUM, PROTO_DEN = 1, 4  # drop the top quarter of each cell


def proto_rank_kernel(assign: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, cos_cent_e4, rn, n_cell) over any IVF-style
    assignment (vec_id, v, nrm, cell) and centroid relation
    (cent_id, cv, cnrm): e4-integer cosine to the OWN-cell centroid,
    prototypicality rank (cos DESC, vec_id ASC), and the cell
    population the drop quota derives from. Exposed for constructed-
    corpus tests; the registered queries bind the shared quantizer."""
    from pyspark.sql.window import Window

    ac = assign.join(
        F.broadcast(cents), F.col("cell") == F.col("cent_id")
    ).select(
        "vec_id",
        "cell",
        cos_e4("v", "cv", "nrm", "cnrm").cast("long").alias("cos_cent_e4"),
    )
    w_rank = Window.partitionBy("cell").orderBy(
        F.desc("cos_cent_e4"), F.asc("vec_id")
    )
    w_cell = Window.partitionBy("cell")
    return ac.select(
        "*",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cell).cast("long").alias("n_cell"),
    )


#: the per-cell drop quota — ONE expression string, used verbatim in
#: both engine halves (Spark `div` and DuckDB `//` truncate
#: identically on the positive counts involved).
_PROTO_DROP_SPARK = f"rn <= (n_cell * {PROTO_NUM}) div {PROTO_DEN}"
_PROTO_DROP_DUCK = f"rn <= (n_cell * {PROTO_NUM}) // {PROTO_DEN}"


def _centroid_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF centroid relation (cent_id, cv, cnrm) — IVF_CELLS=16
    rows, the same fixed corpus subset the shared quantizer folds
    into its array form. ONE definition for every consumer that
    joins against centroids relationally (the D4 rank, the nprobe
    sweep's probe-rank re-derivation, the composed pipeline).

    Optimization round 17: sliced from the shared ``normed_corpus``
    relation instead of re-running the embeddings scan + Arrow norm
    kernel per consumer — same rows, same kernel, same values."""
    return (
        normed_corpus(spark, sf_dir)
        .filter(
            (F.col("vec_id") >= QUERY_MAX_ID)
            & (F.col("vec_id") < _CENT_MAX_ID)
        )
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )


def _proto_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered queries' ranked relation over the shared IVF
    quantizer — memoized via ``shared_stage`` so the transform and
    the census pay the centroid fold + cell window once per session."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        assign, _ = _ivf_assign_and_probes(spark, sf_dir)
        return proto_rank_kernel(assign, _centroid_rel(spark, sf_dir))

    return shared_stage(spark, ("proto_ranked", sf_dir), build)


def _proto_ranked_body(src_rel: str) -> str:
    """The cosine-to-own-centroid + rank CTE pair over any assignment
    relation ``src_rel`` (vec_id, v, nrm, cell) with ``cents`` in
    scope — parameterized so the D4 pipeline oracle can re-rank over
    the SemDeDup SURVIVORS while the standalone queries rank the full
    assignment; one text, no drift."""
    return f"""ac AS (
      SELECT a.vec_id, a.cell,
             CAST({duck_cos_e4('a.v', 'c.cv', 'a.nrm', 'c.cnrm')} AS BIGINT)
               AS cos_cent_e4
      FROM {src_rel} a JOIN cents c ON c.cent_id = a.cell
    ),
    ranked AS (
      SELECT vec_id, cell, cos_cent_e4,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY cos_cent_e4 DESC, vec_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cell
      FROM ac
    )"""


_PROTO_RANKED_CTE = f"""n AS MATERIALIZED (
      SELECT vec_id, v, SQRT({duck_fold_dot('v', 'v')}) AS nrm
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings)
    ),
    {_IVF_QUANTIZER_CTE},
    {_proto_ranked_body('assign')}"""


@query(
    "proto_pruned_survivors",
    oracle=f"""
    WITH {_PROTO_RANKED_CTE}
    SELECT r.vec_id, CAST(e.label AS BIGINT) AS label, r.cell,
           r.cos_cent_e4
    FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
    WHERE NOT ({_PROTO_DROP_DUCK})
    """,
)
def proto_pruned_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prototypicality-pruned corpus (see the section note): every
    indexed vector except the top PROTO_NUM/PROTO_DEN of its IVF cell
    by cosine-to-centroid — the D4 diversification step a training-
    data pipeline runs after SemDeDup."""
    ranked = _proto_ranked(spark, sf_dir).filter(
        ~F.expr(_PROTO_DROP_SPARK)
    )
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    return ranked.join(labels, "vec_id").select(
        "vec_id", "label", "cell", "cos_cent_e4"
    )


@query(
    "proto_pruning_census",
    oracle=f"""
    WITH {_PROTO_RANKED_CTE}
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN {_PROTO_DROP_DUCK} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN {_PROTO_DROP_DUCK} THEN 0 ELSE 1 END)
                AS BIGINT) AS n_kept,
           CAST(MAX(cos_cent_e4) AS BIGINT) AS top_cos_e4,
           CAST(MIN(cos_cent_e4) AS BIGINT) AS min_cos_e4
    FROM ranked GROUP BY cell
    """,
)
def proto_pruning_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell pruning accounting (see the section note): population,
    dropped/kept split under the PROTO quota, and the cell's cosine
    envelope — the knob-tuning artifact (a quota that never bites, or
    a cell whose envelope is flat, argues for a different PROTO_FRAC
    or re-trained centroids)."""
    dropped = F.expr(_PROTO_DROP_SPARK).cast("long")
    return _proto_ranked(spark, sf_dir).groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(dropped).cast("long").alias("n_dropped"),
        F.sum(1 - dropped).cast("long").alias("n_kept"),
        F.max("cos_cent_e4").cast("long").alias("top_cos_e4"),
        F.min("cos_cent_e4").cast("long").alias("min_cos_e4"),
    )


#: the exact brute-force top-K ground truth as CTEs (expects the
#: normalized ``n`` relation in scope) — one text for both recall
#: oracles.
_BRUTE_TOP_CTES = f"""bscored AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             {duck_cos_e4('q.v', 'c.v', 'q.nrm', 'c.nrm')} AS sim_e4
      FROM n q JOIN n c
        ON q.vec_id < {QUERY_MAX_ID} AND c.vec_id >= {QUERY_MAX_ID}
    ),
    btop AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim_e4 DESC, vec_id) AS rn
        FROM bscored
      ) WHERE rn <= {TOP_K}
    )"""


# --------------------------------------------------------------------------
# E3 (round 17, beyond-brief): IVF RECALL census — the other half of
# the index-operations dashboard next to ivf_cell_census: per query,
# how many of the brute-force cosine top-K the IVF index actually
# retrieved at the current IVF_NPROBE. pq_adc_recall_topk plays this
# role for the PQ index; this is the same artifact for the coarse
# quantizer itself — the number you read before touching IVF_NPROBE
# or IVF_CELLS (recall too low → probe more cells; recall 1.0 with
# fat cells → cells too few to prune anything).
#
# Exactness: both sides are e4-floor-quantized cosines with vec_id
# tie-breaks (the IVF family's one discipline), so retrieved and
# ground-truth sets are deterministic in both engines and the census
# is pure integer counts. Scale shape: the retrieved side IS
# ivf_topk's plan; the ground-truth side is one broadcast of the
# ≤QUERY_MAX_ID-row query set against the corpus (the cosine_topk
# shape — exactly the full scan the index avoids, paid here because
# measuring recall REQUIRES the exact answer; a production deployment
# runs this census on a sampled query set, which is what the bounded
# query relation models).
@query(
    "ivf_recall_census",
    oracle=f"""
    WITH {DUCK_NORMS_CTE},
    {_IVF_QUANTIZER_CTE},
    iscored AS (
      SELECT p.q_id, a.vec_id,
             {duck_cos_e4('p.qv', 'a.v', 'p.qn', 'a.nrm')} AS sim_e4
      FROM probes p JOIN assign a ON a.cell = p.cell
    ),
    itop AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim_e4 DESC, vec_id) AS rn
        FROM iscored
      ) WHERE rn <= {TOP_K}
    ),
    {_BRUTE_TOP_CTES}
    SELECT i.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_retrieved,
           CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits
    FROM itop i LEFT JOIN btop b
      ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY i.q_id
    """,
)
def ivf_recall_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOP_K of the IVF index against the exact
    brute-force top-K (see the section note) — integer counts only;
    recall is the reader's n_hits/n_retrieved division."""
    itop = ivf_topk(spark, sf_dir).select("q_id", "vec_id")
    return (
        itop.join(_brute_topk(spark, sf_dir), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
    )


def _brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, vec_id, hit=1) — the exact brute-force cosine top-K per
    query, the ground truth both recall queries compare against.
    Memoized via ``shared_stage``: a session pass pays the full
    corpus scan once, not per consumer (the Spark twin of
    _BRUTE_TOP_CTES — one relation, one text, no drift)."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy("q_id").orderBy(
            F.desc("sim_e4"), F.asc("vec_id")
        )
        return (
            score_query_set(normed_corpus(spark, sf_dir))
            .select("q_id", "vec_id", F.col("sim_e4").cast("long").alias("sim_e4"))
            .select("q_id", "vec_id", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= TOP_K)
            .select("q_id", "vec_id", F.lit(1).alias("hit"))
        )

    return shared_stage(spark, ("brute_topk", sf_dir), build)


# --------------------------------------------------------------------------
# E3 (round 17, beyond-brief): NPROBE recall SWEEP — ivf_recall_census
# gives one point (recall at the configured IVF_NPROBE); this emits
# the whole tuning curve, recall@K for every nprobe in 1..IVF_NPROBE,
# in ONE pass: the artifact you actually read before spending probe
# budget at 100 TB (the FAISS nprobe-sweep benchmark, as a query).
#
# The exact brute-force ground truth is ONE text and ONE relation for
# both recall queries: _BRUTE_TOP_CTES below and the shared_stage'd
# _brute_topk (a session pass pays the full scan once, not per
# consumer — and the two formulations cannot drift).
#
# Probe ranks are NOT exposed by the shared quantizer (exposing them
# would edit _IVF_QUANTIZER_CTE and thereby the oracle text of every
# quantizer consumer); instead the rank is RE-DERIVED on the probed
# (query, cell) pairs themselves — the probed cells are by
# construction the global top-IVF_NPROBE under (cos DESC, cent_id),
# so ranking those same pairs by the same key yields their true probe
# order. The re-rank touches only |queries|·IVF_NPROBE rows against
# the 16-row centroid relation.
#
# Exactness: the rank key recomputes the identical float fold the
# quantizer used (same expression both engines), ties to the smaller
# cell id; sims e4-floor-quantized with vec_id tie-breaks. Scale
# shape: the candidate relation is the ivf_topk join replicated once
# per sweep point (nprobe ≤ IVF_NPROBE, a constant ×4 here); windows
# partition by (nprobe, q_id); ground truth is the same bounded
# brute pass ivf_recall_census pays.
@query(
    "ivf_nprobe_sweep",
    oracle=f"""
    WITH {DUCK_NORMS_CTE},
    {_IVF_QUANTIZER_CTE},
    pr AS (
      SELECT p.q_id, p.qv, p.qn, p.cell,
             ROW_NUMBER() OVER (
               PARTITION BY p.q_id
               ORDER BY {duck_cosine('p.qv', 'c.cv', 'p.qn', 'c.cnrm')}
                        DESC, p.cell) AS prank
      FROM probes p JOIN cents c ON c.cent_id = p.cell
    ),
    sweep AS (SELECT UNNEST(range(1, {IVF_NPROBE + 1})) AS nprobe),
    cand AS (
      SELECT s.nprobe, pr.q_id, a.vec_id,
             {duck_cos_e4('pr.qv', 'a.v', 'pr.qn', 'a.nrm')} AS sim_e4
      FROM pr JOIN assign a ON a.cell = pr.cell
      JOIN sweep s ON pr.prank <= s.nprobe
    ),
    itop AS (
      SELECT nprobe, q_id, vec_id FROM (
        SELECT nprobe, q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, q_id
                                  ORDER BY sim_e4 DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn <= {TOP_K}
    ),
    {_BRUTE_TOP_CTES}
    SELECT i.nprobe, i.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_retrieved,
           CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits
    FROM itop i LEFT JOIN btop b
      ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY i.nprobe, i.q_id
    """,
)
def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@TOP_K per (nprobe, query) for nprobe = 1..IVF_NPROBE
    (see the section note) — the index-tuning curve; the
    nprobe = IVF_NPROBE rows coincide with ivf_recall_census by
    construction (pinned by pytest)."""
    from pyspark.sql.window import Window

    assign, probes = _ivf_assign_and_probes(spark, sf_dir)
    cents = _centroid_rel(spark, sf_dir)
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc(cosine("qv", "cv", "qn", "cnrm")),
        F.asc("cell"),
    )
    pr = (
        probes.join(F.broadcast(cents), F.col("cell") == F.col("cent_id"))
        .select(
            "q_id", "qv", "qn", "cell",
            F.row_number().over(w_rank).alias("prank"),
        )
    )
    sweep = spark.range(1, IVF_NPROBE + 1).select(
        F.col("id").cast("long").alias("nprobe")
    )
    # Score each (query, candidate) pair ONCE, below the sweep
    # replication: sim_e4 is a pure function of (qv, av), so computing
    # it above the prank<=nprobe join re-ran the Arrow dot kernel up to
    # IVF_NPROBE times per pair (and shipped the 64-double vectors into
    # the replicated rows). The sweep join now fans out scalar rows
    # only (optimization round 17; guide §4.1).
    pair_scored = pr.join(
        assign.select(
            "vec_id", F.col("v").alias("av"), F.col("nrm").alias("an"),
            "cell",
        ),
        "cell",
    ).select(
        "q_id",
        "vec_id",
        "prank",
        cos_e4("qv", "av", "qn", "an").cast("long").alias("sim_e4"),
    )
    cand = pair_scored.join(
        F.broadcast(sweep), F.col("prank") <= F.col("nprobe")
    ).select("nprobe", "q_id", "vec_id", "sim_e4")
    w_top = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("sim_e4"), F.asc("vec_id")
    )
    itop = (
        cand.select(
            "nprobe", "q_id", "vec_id",
            F.row_number().over(w_top).alias("rn"),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("nprobe", "q_id", "vec_id")
    )
    return (
        itop.join(_brute_topk(spark, sf_dir), ["q_id", "vec_id"], "left")
        .groupBy("nprobe", "q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
    )


# --------------------------------------------------------------------------
# E2 × E3 × E6 (round 17, beyond-brief): the COMPOSED D4 pipeline —
# the published recipe end-to-end (Tirumala et al. 2023: SemDeDup
# first, then prototypicality pruning over what SURVIVES). Running
# the stages independently over the full corpus (as the standalone
# queries do) is not the same operator: the proto quota must be
# re-derived over each cell's post-dedup population, or a cell whose
# near-duplicates were just removed still prunes as if they were
# there. Both stages ride their existing machinery — the
# shared_stage'd SemDeDup edge relation + connected components for
# stage 1, proto_rank_kernel re-ranked over the surviving assignment
# for stage 2 — so the composition adds one anti-join between them
# and nothing else.
@query(
    "d4_pipeline_survivors",
    oracle=f"""
    WITH RECURSIVE {_SEMDEDUP_PAIRS_CTE},
    {_DUCK_SEMDEDUP_CLOSURE},
    dropped AS (
      SELECT id FROM walk GROUP BY id HAVING id != MIN(rep)
    ),
    sassign AS (
      SELECT vec_id, v, nrm, cell FROM assign
      WHERE vec_id NOT IN (SELECT id FROM dropped)
    ),
    {_proto_ranked_body('sassign')}
    SELECT r.vec_id, CAST(e.label AS BIGINT) AS label, r.cell,
           r.cos_cent_e4
    FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
    WHERE NOT ({_PROTO_DROP_DUCK})
    """,
)
def d4_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full D4 pipeline's surviving corpus (see the section
    note): SemDeDup's min-id survivors, then the prototypicality
    quota re-derived per cell over THAT population."""
    assign, _ = _ivf_assign_and_probes(spark, sf_dir)
    sassign = assign.join(
        _semdedup_dropped(spark, sf_dir), "vec_id", "left_anti"
    )
    cents = _centroid_rel(spark, sf_dir)
    ranked = proto_rank_kernel(sassign, cents).filter(
        ~F.expr(_PROTO_DROP_SPARK)
    )
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    return ranked.join(labels, "vec_id").select(
        "vec_id", "label", "cell", "cos_cent_e4"
    )
