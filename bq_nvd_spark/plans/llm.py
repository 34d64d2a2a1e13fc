"""LLM-training-data pipeline operators (SURVEY.md §2.11, E1–E5).

Driver-mandated extensions over ``documents(doc_id, text, lang, source,
n_chars)`` and ``embeddings(vec_id, embedding: array<float>, label)``:

- E1 exact dedup        — hash-groupBy on sha2(text, 256)
- E2 near-dedup         — MinHash+LSH (md5-keyed, deterministic; capped
                          pair generation + exact-Jaccard verification
                          + transitive dedup clusters via
                          operators/graph.py), word-bigram Jaccard,
                          SimHash (signatures + banded hamming pairs) —
                          all SQL-expressible so the DuckDB oracle
                          hash-checks them; the embedding-cosine flavor
                          lives in plans/similarity_search.py
- E3 similarity search  — brute-force cosine top-k via HOF fold (baseline);
                          LSH + IVF scale paths in plans/similarity_search.py
                          over operators/similarity.py
- E4 text analysis      — token counts, quality stats + quality gate,
                          rolling-hash fingerprint, language
                          distribution, token-length histogram (the
                          Column factories live in bq_nvd_spark.functions)
- E5 multimodal columns — binary payload + typed metadata (Arrow decode
                          in operators/multimodal.py via plans/python_udfs.py)

Cross-engine determinism rules used throughout:
- hashes are md5/sha2 (identical lowercase hex in Spark and DuckDB);
- float reductions are sequential left-folds in BOTH engines
  (Spark ``aggregate`` with 0.0 init == DuckDB ``list_reduce``, since
  ``0.0 + x == x`` exactly in IEEE-754);
- every float output is rounded identically on both sides;
- integer math (rolling hash, SimHash bits) is exact by construction.

Scale notes (100 TB): MinHash/SimHash signatures are per-row
projections (Arrow-batched hashlib kernels, with the HOF formulations
kept as pinned semantic specs); the only shuffle is the band-bucket
groupBy, whose keys are uniformly distributed by construction (hashes).
Candidate pairs come from size-capped buckets, verification touches
only candidates, and clusters close via operators/graph.py. Brute-force
cosine broadcasts the query set — the candidate side never shuffles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StringType

from bq_nvd_spark.operators.graph import duck_near_dup_closure, near_dup_clusters
from bq_nvd_spark.operators.similarity import (
    DUCK_NORMS_CTE,
    DUCK_QUERY_SET_SCORED,
    DUCK_TOP_K_TAIL,
    normed_corpus,
    score_query_set,
    sorted_pairs,
    top_k_per_query,
)
from bq_nvd_spark.operators.text import word_bigrams
from bq_nvd_spark.plans.registry import query
from bq_nvd_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# E1: exact dedup by content hash.
@query(
    "exact_dedup_docs",
    oracle="""
    SELECT sha256(text)  AS content_sha,
           MIN(doc_id)   AS doc_id,
           COUNT(*)      AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("content_sha")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# E2a: MinHash + LSH. K=16 md5-keyed hash functions, 4 bands x 4 rows.
# Deterministic: h_i(tok) = md5('{i}:' || tok); minhash_i = lexicographic min
# over the doc's distinct tokens; band signature = concat of its 4 minhashes.
# Docs sharing any band signature are near-duplicate candidates.
N_HASHES = 16
BAND_SIZE = 4
N_BANDS = N_HASHES // BAND_SIZE

_DUCK_TOKS = "list_distinct(string_split(text, ' '))"


def _duck_minhash(i: int) -> str:
    return f"list_min(list_transform({_DUCK_TOKS}, t -> md5('{i}:' || t))) AS mh{i}"


def _duck_band_cte() -> str:
    sig = ",\n        ".join(_duck_minhash(i) for i in range(N_HASHES))
    bands = "\n      UNION ALL ".join(
        f"SELECT {b} AS band_idx, "
        + " || ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + " AS band_sig, doc_id FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
    WITH sig AS (
      SELECT doc_id,
        {sig}
      FROM documents
    ),
    bands AS (
      {bands}
    )
    """


def _duck_capped_pairs_ctes() -> str:
    """The capped-pair rule as oracle CTEs ending in
    ``cpairs(doc_a, doc_b)`` — generated from the SAME constants as the
    Spark plan so cap/refine/star semantics cannot drift. Refine
    minhashes (salts N_HASHES..2·N_HASHES−1) are computed ONLY for docs
    appearing in an oversized bucket (the ``over_ids`` join), the
    mirror of the Spark side's pruned Arrow kernel."""
    rsig_cols = ",\n        ".join(
        _duck_minhash(i) for i in range(N_HASHES, 2 * N_HASHES)
    )
    rsig_arr = "[" + ", ".join(
        " || ".join(
            f"mh{N_HASHES + b * BAND_SIZE + j}" for j in range(BAND_SIZE)
        )
        for b in range(N_BANDS)
    ) + "]"
    return f"""
    , sizedall AS (
      SELECT band_idx, band_sig, COUNT(*) AS c
      FROM bands GROUP BY band_idx, band_sig HAVING COUNT(*) >= 2
    ),
    over_ids AS (
      SELECT DISTINCT x.doc_id
      FROM bands x
      JOIN sizedall s ON s.band_idx = x.band_idx AND s.band_sig = x.band_sig
      WHERE s.c > {PAIR_BUCKET_CAP}
    ),
    refine AS MATERIALIZED (
      SELECT doc_id, {rsig_arr} AS rsigs
      FROM (
        SELECT d.doc_id,
        {rsig_cols}
        FROM documents d JOIN over_ids o ON o.doc_id = d.doc_id
      )
    ),
    over_m AS MATERIALIZED (
      SELECT x.band_idx, x.band_sig, x.doc_id,
             r.rsigs[x.band_idx + 1] AS rsig
      FROM bands x
      JOIN sizedall s ON s.band_idx = x.band_idx AND s.band_sig = x.band_sig
      JOIN refine r ON r.doc_id = x.doc_id
      WHERE s.c > {PAIR_BUCKET_CAP}
    ),
    sized2 AS (
      SELECT band_idx, band_sig, rsig,
             COUNT(*) AS c2, MIN(doc_id) AS min_id
      FROM over_m
      GROUP BY band_idx, band_sig, rsig
    ),
    core AS (
      -- the bucket's most-corroborated sub-bucket anchor: largest
      -- sub-bucket first, ties by min id (the Spark side's w_core)
      SELECT band_idx, band_sig, min_id AS core_anc
      FROM (
        SELECT band_idx, band_sig, min_id,
               ROW_NUMBER() OVER (
                 PARTITION BY band_idx, band_sig
                 ORDER BY c2 DESC, min_id ASC
               ) AS rn
        FROM sized2
      )
      WHERE rn = 1
    ),
    cpairs AS (
      -- level-1 buckets at or under the cap: all pairs
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
        JOIN sizedall s ON s.band_idx = a.band_idx AND s.band_sig = a.band_sig
        WHERE s.c <= {PAIR_BUCKET_CAP}
        UNION ALL
        -- refined sub-buckets of 2..CAP members: all pairs
        SELECT a.doc_id, b.doc_id
        FROM over_m a
        JOIN over_m b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                     AND a.rsig = b.rsig AND a.doc_id < b.doc_id
        JOIN sized2 t ON t.band_idx = a.band_idx AND t.band_sig = a.band_sig
                     AND t.rsig = a.rsig
        WHERE t.c2 BETWEEN 2 AND {PAIR_BUCKET_CAP}
        UNION ALL
        -- sub-buckets STILL past the cap: min-id star
        SELECT t.min_id, b.doc_id
        FROM sized2 t
        JOIN over_m b ON b.band_idx = t.band_idx AND b.band_sig = t.band_sig
                     AND b.rsig = t.rsig AND b.doc_id > t.min_id
        WHERE t.c2 > {PAIR_BUCKET_CAP}
        UNION ALL
        -- every sub-bucket anchor (incl. refine-singletons) links to
        -- the bucket's core anchor
        SELECT LEAST(k.core_anc, t.min_id), GREATEST(k.core_anc, t.min_id)
        FROM sized2 t
        JOIN core k ON k.band_idx = t.band_idx AND k.band_sig = t.band_sig
        WHERE t.min_id <> k.core_anc
      )
    )
    """


def _minhash(toks, i: int):
    """i-th md5-keyed minhash of a token array.

    NOTE: the inner lambda must stay unary — PySpark treats a two-parameter
    lambda as an (element, index) binary HOF lambda, which would rebind the
    salt to the array-index Column instead of the captured Python int.
    """
    salt = f"{i}:"
    return F.array_min(F.transform(toks, lambda t: F.md5(F.concat(F.lit(salt), t))))


def band_sigs_hof(text) -> "Column":
    """The semantic definition: per-row HOF minhashes folded into an
    array of band signatures (mirrored exactly by the DuckDB oracle)."""
    toks = F.array_distinct(F.split(text, " "))
    return F.array(
        *[
            F.concat(
                *[_minhash(toks, b * BAND_SIZE + j) for j in range(BAND_SIZE)]
            )
            for b in range(N_BANDS)
        ]
    )


def _banded_minhash_kernel(
    texts: "pd.Series", salt_offset: int
) -> "pd.Series":
    """Shared Arrow minhash kernel: per-band concatenation of the
    N_HASHES md5-keyed minhashes whose salts start at ``salt_offset``
    (0 for the level-1 band signatures, N_HASHES for the refine
    signatures — ONE kernel body so level-1 and refine can never
    diverge in tokenization, memoization, or band slicing, and both
    stay in lockstep with the oracle's ``_duck_minhash``).

    Token digests are memoized per Arrow batch: natural-language token
    frequency is Zipfian, so the same tokens recur across the batch's
    documents and each unique token pays its N_HASHES md5s once (~8× on
    the repetitive test corpus). The cache is batch-scoped, so its
    footprint is bounded by the batch vocabulary, not the corpus."""
    import hashlib

    salts = [f"{i}:".encode() for i in range(salt_offset, salt_offset + N_HASHES)]
    digests: dict[bytes, list[str]] = {}
    out = []
    for text in texts:
        toks = {t.encode() for t in text.split(" ")}
        per_tok = []
        for t in toks:
            d = digests.get(t)
            if d is None:
                d = [hashlib.md5(s + t).hexdigest() for s in salts]
                digests[t] = d
            per_tok.append(d)
        mins = [min(d[i] for d in per_tok) for i in range(N_HASHES)]
        out.append(
            [
                "".join(mins[b * BAND_SIZE : (b + 1) * BAND_SIZE])
                for b in range(N_BANDS)
            ]
        )
    return pd.Series(out)


@pandas_udf(ArrayType(StringType()))
def band_sigs_np(texts: "pd.Series") -> "pd.Series":
    """Arrow fast path, bit-identical to ``band_sigs_hof``: same md5
    hex, same lexicographic min over distinct tokens, same band concat —
    pure string math, so unlike the float ANN twin there is no ordering
    caveat at all. Higher-order functions never codegen; hashlib's C md5
    over Arrow batches beats the interpreted expression walk ~3×.
    Body shared with the refine signatures (``_banded_minhash_kernel``)."""
    return _banded_minhash_kernel(texts, 0)


@pandas_udf(ArrayType(StringType()))
def refine_sigs_np(texts: "pd.Series") -> "pd.Series":
    """One REFINE signature per band for oversized-bucket members:
    band b's refine sig concatenates minhashes
    N_HASHES + b·BAND_SIZE .. N_HASHES + (b+1)·BAND_SIZE − 1 — the same
    md5 scheme continued past the band hashes, mirrored exactly by the
    oracle. Per-BAND refine hashes matter (the embedding twin's round-11
    lesson): a shared refine key would split a borderline duplicate
    cluster identically in every band, defeating multi-band recovery;
    independent hashes make the split boundaries differ so the union of
    per-band stars keeps the cluster connected. Same Zipf-memoized
    kernel as ``band_sigs_np`` (``_banded_minhash_kernel``); it runs
    only on docs that appear in an oversized bucket."""
    return _banded_minhash_kernel(texts, N_HASHES)


def _bands_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-corpus (band_idx, band_sig, doc_id) relation, memoized
    via ``shared_stage`` (optimization round 17): the signature kernel
    is the CPU-bound stage of the whole MinHash family, and five
    registered consumers (bucket census, capped-candidate chain,
    incremental dedup, snapshot dup delta, sampled pairs) each re-ran
    it per session pass — in aggregate ~4 full corpus passes for one
    relation's worth of content. Built once per (app, sf_dir); every
    consumer slices the memoized frame.

    The repartition exists for the same reason as the ANN corpus
    spread: signature computation is the CPU-bound stage, and a toy
    single-file table would otherwise feed exactly one Arrow worker;
    real inputs arrive already partitioned."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        return docs.select(
            "doc_id",
            F.posexplode(band_sigs_np("text")).alias("band_idx", "band_sig"),
        ).select("band_idx", "band_sig", "doc_id")

    return shared_stage(spark, ("llm.bands", sf_dir), build)


def _spark_bands(
    spark: SparkSession, sf_dir: str, pre_filter: Column | None = None
) -> DataFrame:
    """doc_id → (band_idx, band_sig) pairs, computed in ONE pass: the 16
    minhashes fold into an array of 4 band signatures which posexplode
    unrolls — the signature subtree is scanned once, not once per band.

    Backed by the session-shared full-corpus relation (``_bands_rel``);
    ``pre_filter`` — every registered caller's is a pure function of
    ``doc_id``, which the band relation carries — now slices the
    memoized frame instead of re-running the signature kernel over its
    shard. (Pre-memo, the filter was pushed below the signature stage
    so each shard paid hashes only for its own rows; with the session
    memo the full relation is built exactly once and the post-filter
    is a free scan of checkpointed rows. Under ``AUDIT_BYPASS_SHARED``
    the filter sits above the signature kernel — the audit plan shows
    the true pipeline shape but pays full-corpus hashes; a sharded
    deployment that cannot hold the session memo should pass its shard
    predicate to ``_bands_rel``'s underlying build instead.)"""
    bands = _bands_rel(spark, sf_dir)
    if pre_filter is not None:
        bands = bands.filter(pre_filter)
    return bands


@query(
    "minhash_lsh_buckets",
    oracle=_duck_band_cte()
    + """
    SELECT band_idx, band_sig, COUNT(*) AS n_docs
    FROM bands
    GROUP BY band_idx, band_sig
    HAVING COUNT(*) > 1
    """,
)
def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket census: bucket cardinalities, not materialized pairs —
    the aggregate stays linear in |docs| even when buckets are huge."""
    bands = _spark_bands(spark, sf_dir)
    return (
        bands.groupBy("band_idx", "band_sig")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "minhash_candidate_pairs",
    oracle=_duck_band_cte()
    + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id
    WHERE a.doc_id % 50 = 0 AND b.doc_id % 50 = 0
    """,
)
def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized candidate pairs on a doc_id-sampled subset (bounded
    output for the oracle check; the full-scale path is the bucket census
    + per-bucket pair generation with a bucket-size cap)."""
    bands = _spark_bands(spark, sf_dir, pre_filter=F.col("doc_id") % 50 == 0)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# E2a at scale: per-bucket pair emission with a bucket-size cap. This is the
# 100 TB candidate-pair path: group docs by (band_idx, band_sig), drop
# pathological buckets (> PAIR_BUCKET_CAP members — a giant bucket of
# near-identical boilerplate would emit O(n²) pairs), then emit each
# bucket's pairs from its sorted member array with index-aware HOFs.
# Output is bounded by cap²/2 × n_buckets; no all-pairs join ever happens.
PAIR_BUCKET_CAP = 20


def _capped_pairs(
    bands: DataFrame, refine_docs: DataFrame | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b) candidates from capped LSH buckets, with
    the signature stage evaluated ONCE and no aggregation buffer that
    scales with a degenerate bucket (same discipline as the embedding
    twin ``similarity_search._emb_bucket_pairs``): a per-bucket window
    COUNT sizes every bucket in the same single pass that reads the
    signatures — WindowExec buffers a mega-bucket's rows with disk
    spill, never in one aggregation row — and only rows of buckets
    already known to hold 2..CAP members reach the ``collect_list``,
    so member arrays are ≤ CAP by construction. Collecting first and
    filtering after would build an O(m) doc_id array in one buffer/row
    for a mass-boilerplate bucket before discarding it (the 2 GB
    single-row limit arrives near ~250M members). Sizing and emission
    share ONE exchange — the collect_list groupBy reuses the window's
    (band, signature) partitioning (pinned by
    tests/test_scale_paths.py) — and the other shuffles are the
    refinement join and the final pair distinct. The self-join
    formulation (the oracle's shape) would re-run the Arrow signature
    UDF on both join sides plus a size subtree.

    OVERSIZED buckets (> PAIR_BUCKET_CAP members) are REFINED, not
    dropped (round 11, ported from the embedding twin): a mega-bucket
    is mass boilerplate — THE most dedup-worthy input — and dropping
    it meant those duplicates never paired, never verified, never
    deduped (at sf0.01 a full 442 of 500 fixture docs sit in at least
    one oversized bucket). Members of oversized buckets compute one
    refine signature per band (``refine_sigs_np`` over ``refine_docs``,
    pruned to exactly those docs by a distinct-id join) and re-window
    on (band, band_sig, refine_sig); sub-buckets of 2..CAP emit all
    pairs, sub-buckets still past the cap emit the min-id STAR (m−1
    pairs), and EVERY sub-bucket anchor — refine-singletons included —
    links to the bucket's CORE anchor (the largest sub-bucket's
    anchor), so each oversized bucket closes into one component per
    band through its most-corroborated member (see the inline comment
    for why the raw bucket min would be an unsafe cut vertex). Per-bucket
    output stays O(m); the refined branches carry only
    oversized-bucket rows. With ``refine_docs=None`` (callers without
    document text, e.g. synthetic band relations) oversized buckets
    are dropped as before. Recall on planted near-dups is pinned by
    tests/test_similarity_ops.py::test_minhash_recall_gate_on_planted_near_dups.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("band_idx", "band_sig")
    tagged = bands.withColumn("c", F.count(F.lit(1)).over(w)).filter(
        F.col("c") >= 2
    )

    def _all_pairs(rel: DataFrame, *keys: str) -> DataFrame:
        buckets = rel.groupBy(*keys).agg(
            F.array_sort(F.collect_list("doc_id")).alias("docs")
        )
        pairs = sorted_pairs("docs", "doc_a", "doc_b")
        return buckets.select(F.explode(pairs).alias("p")).select(
            F.col("p.doc_a"), F.col("p.doc_b")
        )

    small_pairs = _all_pairs(
        tagged.filter(F.col("c") <= PAIR_BUCKET_CAP), "band_idx", "band_sig"
    )
    if refine_docs is None:
        return small_pairs.distinct()
    over = tagged.filter(F.col("c") > PAIR_BUCKET_CAP)
    # Refine sigs for exactly the docs that need them: the distinct-id
    # build side prunes the Arrow kernel to oversized-bucket members.
    rsigs = refine_docs.join(
        over.select("doc_id").distinct(), "doc_id"
    ).select("doc_id", refine_sigs_np("text").alias("rsigs"))
    over2 = over.join(rsigs, "doc_id").select(
        "band_idx",
        "band_sig",
        "doc_id",
        F.element_at("rsigs", (F.col("band_idx") + 1).cast("int")).alias(
            "rsig"
        ),
    )
    w2 = Window.partitionBy("band_idx", "band_sig", "rsig")
    refined = over2.select(
        "*",
        F.count(F.lit(1)).over(w2).alias("c2"),
        F.min("doc_id").over(w2).alias("anc"),
    )
    refined_pairs = _all_pairs(
        refined.filter(F.col("c2").between(2, PAIR_BUCKET_CAP)),
        "band_idx", "band_sig", "rsig",
    )
    star_pairs = refined.filter(
        (F.col("c2") > PAIR_BUCKET_CAP) & (F.col("doc_id") > F.col("anc"))
    ).select(F.col("anc").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    # Every refined sub-bucket's anchor — including refine-SINGLETONS —
    # links to the bucket's CORE anchor: the anchor of the bucket's
    # largest sub-bucket (ties broken by min id). Without any link, a
    # member whose refine signature is unique in every band's bucket
    # would vanish from the candidate set entirely despite its level-1
    # evidence (measured: ~1% of a planted 120-member cluster isolated;
    # SCALE.md, pinned by test_minhash_recall_gate_on_planted_near_dups),
    # and two ≤CAP sub-cliques of one bucket would rely solely on other
    # bands for connectivity. The core anchor — NOT the raw bucket min —
    # is the cut vertex because a moderately similar below-threshold doc
    # shares the band bucket with probability J^BAND_SIZE and could hold
    # the min id, and an outsider cut vertex fails every verification,
    # re-isolating the singletons (the round-10 embedding star defect in
    # new clothes).
    # The largest sub-bucket's members agree on 2·BAND_SIZE hashes
    # (P = J^8), so its anchor is the bucket's most-corroborated member;
    # an all-singleton bucket degenerates to the min id, the best guess
    # available there. O(#sub-buckets) extra pairs; exact-Jaccard
    # verification still gates every pair.
    w_core = Window.partitionBy("band_idx", "band_sig").orderBy(
        F.col("c2").desc(), F.col("anc").asc()
    )
    sub_anchors = refined.filter(F.col("doc_id") == F.col("anc")).select(
        "band_idx", "band_sig", "anc", "c2"
    )
    anchor_links = (
        sub_anchors.select(
            "anc", F.first("anc").over(w_core).alias("core_anc")
        )
        .filter(F.col("anc") != F.col("core_anc"))
        .select(
            F.least("core_anc", "anc").alias("doc_a"),
            F.greatest("core_anc", "anc").alias("doc_b"),
        )
    )
    return (
        small_pairs.unionByName(refined_pairs)
        .unionByName(star_pairs)
        .unionByName(anchor_links)
        .distinct()
    )


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash capped-candidate relation as a SHARED chain stage
    (round 12): three registered queries consume it
    (``minhash_pairs_capped``, ``jaccard_verified_pairs`` via the
    verified relation, ``edit_distance_verified_pairs``) and under the
    one-query-at-a-time driver contract each used to re-run the
    signature UDF + window + refine pipeline from scratch.
    ``shared_stage`` materializes it once per (application, sf_dir);
    inputs under a fixture path are immutable for the session (see the
    contract note on ``operators/checkpoint.py::shared_stage``)."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    return shared_stage(
        spark,
        ("llm.minhash_candidates", sf_dir),
        lambda: _capped_pairs(
            _spark_bands(spark, sf_dir),
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        ),
    )


@query(
    "minhash_pairs_capped",
    oracle=_duck_band_cte()
    + _duck_capped_pairs_ctes()
    + """
    SELECT doc_a, doc_b FROM cpairs
    """,
)
def minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_candidates(spark, sf_dir)


# --------------------------------------------------------------------------
# E2b: word-bigram-shingle Jaccard over adjacent doc-id pairs (the Jaccard
# kernel itself, demonstrated on a bounded, deterministic pair set).
@query(
    "ngram_jaccard_adjacent",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i + 1])) AS sh
      FROM t
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           ROUND(
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             / (len(a.sh) + len(b.sh)
                - len(list_filter(a.sh, x -> list_contains(b.sh, x)))),
             4) AS jaccard
    FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
    """,
)
def ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    shingled = with_toks.select(
        "doc_id",
        F.array_distinct(word_bigrams("toks")).alias("sh"),
    )
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter.cast("double") / union, 4).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# E2c: SimHash — 32-bit signature; bit i of a token is the parity of the
# i-th hex char of md5(token) (deterministic in both engines); the doc bit
# is the sign of the token-vote sum. Integer math throughout → exact match.
def simhash_hof() -> Column:
    """The semantic definition as a pure per-row HOF column: token md5s
    once, then a fold over the 32 bit positions, each position folding
    the per-token parity votes. Zero shuffle, zero row blowup. Kept as
    the readable spec and pinned bit-equal to the Arrow fast path
    ``_simhash_np`` (which the registered queries run — 32 interpreted
    position-folds per row never enter codegen and cost ~7× the hashlib
    kernel)."""
    hashes = F.transform(F.array_distinct(F.split("text", " ")), F.md5)

    def votes_at(i):  # i: lambda-variable Column (1-based hex position)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.ascii(h.substr(i, F.lit(1))) % 2 == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )

    # 2^(i-1) via pow: exact in a double up to 2^53, and i <= 32 here
    # (shiftleft needs a literal shift amount, so it can't consume a
    # lambda variable).
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(32)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            votes_at(i) > 0,
            F.pow(F.lit(2.0), (i - 1).cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def _simhash_sig_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) through the Arrow kernel (``_simhash_np``),
    memoized per session via ``shared_stage`` (optimization round 17):
    both registered consumers (``simhash_signatures``,
    ``simhash_near_dup_pairs``) need the identical full-corpus
    signature relation, and the pairs query's plan consumes it twice
    (bucket-size census + capped band join) — without the memo the md5
    kernel ran ~3× per session pass. The corpus is spread across cores
    first — the signature stage is CPU-bound and a single-file toy
    input would otherwise feed one Arrow worker."""
    from bq_nvd_spark.operators.checkpoint import shared_stage

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        return docs.select("doc_id", _simhash_np("text").alias("simhash"))

    return shared_stage(spark, ("simhash_sigs", sf_dir), build)


#: The SimHash signature relation ``sigs(doc_id, simhash)`` as oracle
#: CTEs, shared by the signature census and the near-dup pair query.
_DUCK_SIMHASH = """
    toks AS (
      SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    votes AS (
      SELECT doc_id, i,
             SUM(CASE WHEN ascii(substr(md5(tok), i, 1)) % 2 = 1
                      THEN 1 ELSE -1 END) AS w
      FROM toks, (SELECT UNNEST(range(1, 33)) AS i)
      GROUP BY doc_id, i
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN w > 0
                           THEN CAST(1 AS BIGINT) << CAST(i - 1 AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes
      GROUP BY doc_id
    )
"""


@query(
    "simhash_signatures",
    oracle=f"""
    WITH {_DUCK_SIMHASH}
    SELECT doc_id, simhash FROM sigs
    """,
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature census through the shared Arrow-kernel relation
    (``_simhash_sig_rel``). The HOF twin ``simhash_hof`` is the
    semantic spec; a pytest pins them bit-equal and this query's
    oracle checks the kernel against the SQL formulation besides."""
    return _simhash_sig_rel(spark, sf_dir)


# --------------------------------------------------------------------------
# E3: brute-force cosine top-k — the query set broadcast against the
# corpus and scored through the E3 vector kit (operators/similarity.py):
# dot/norm are sequential left-folds, so both engines produce
# bit-identical doubles, and sims are e4-floored (not ROUND, which the
# engines round differently at half boundaries).
@query(
    "cosine_topk",
    oracle=f"""
    WITH {DUCK_NORMS_CTE},
    {DUCK_QUERY_SET_SCORED}
    SELECT q_id, vec_id, sim
    {DUCK_TOP_K_TAIL}
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = score_query_set(normed_corpus(spark, sf_dir)).select(
        "q_id", "vec_id", (F.col("sim_e4") / 10000).alias("sim")
    )
    return top_k_per_query(scored)


# --------------------------------------------------------------------------
# E4a: per-document quality stats.
@query(
    "text_quality_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT)                 AS n_chars_actual,
           ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)     AS avg_token_len,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ('the', 'a'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)     AS stopword_ratio
    FROM documents
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bq_nvd_spark.functions import avg_token_len, stopword_ratio, token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(avg_token_len("text"), 4).alias("avg_token_len"),
        F.round(stopword_ratio("text"), 4).alias("stopword_ratio"),
    )


# --------------------------------------------------------------------------
# E4b: corpus token frequencies, deterministic top 20.
@query(
    "token_counts_top20",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def token_counts_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# E4g: per-document TF-IDF top terms — the keyword-extraction workhorse
# of corpus analysis. IDF uses the log-free rational form N/df so every
# float op (one divide, one multiply, the floor-fix) is an IEEE-754
# correctly-rounded operation and the two engines agree bit-for-bit —
# ln()/log() carry no such guarantee across libms and are the one thing
# a cross-engine-deterministic ranking must avoid. Scale shape: explode
# → two hash aggs (map-side partials absorb token Zipf) → equi-join on
# term → per-doc window. The df relation is vocabulary-sized; at 100 TB
# it stays a shuffle join (vocabulary outgrows broadcast), with the
# stopword head handled by the same partial-agg combine.
@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             FLOOR(tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df)
                   * 1000000 + 0.5) / 1000000 AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.floor(
                    F.col("tf")
                    * (F.col("n_docs").cast("double") / F.col("df"))
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select("doc_id", "term", "tfidf", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# E4g2: BM25 retrieval — rank the corpus against a fixed term-set query,
# the lexical-retrieval half of every RAG / training-data-curation
# stack (TF-IDF above extracts keywords; this SCORES documents).
# Okapi BM25 with k1=1.2, b=0.75 and one deliberate, documented
# substitution: the idf is the Lucene log ARGUMENT (N+1)/(df+0.5)
# rather than its ln — ln() is libm-dependent across engines (see
# tfidf_top_terms) and this rational surrogate is a strictly monotone
# transform of the standard idf computed as one correctly-rounded
# divide of two exact integers, (2N+2)/(2df+1). Per-term contributions
# are quantized to integer MICRO-units before the per-doc sum so the
# aggregation is order-independent (float sums are not); every float
# op before quantization is a single correctly-rounded IEEE-754
# operation on identically-shaped expressions in both engines.
#
# Scale shape: the explode is filtered to the 4 query terms before any
# shuffle (codegen'd generator+filter), so the tf agg touches only
# matching tokens; the df relation is |query|-rows (broadcast); the
# length stats are a 1-row broadcast; the final top-k compiles to
# TakeOrderedAndProject — no global sort shuffle. At 100 TB nothing
# here scales with vocabulary, only with query-term postings.
BM25_TERMS = ("hash", "join", "vector", "filter")
BM25_TOPK = 10

# E4g3 (round 13): the multi-query retrieval surface. One fixed query
# set relation (query_id, term) scored per-query — the shape a RAG
# eval harness or a batched retrieval service runs, and the lexical
# twin of the ANN family's multi-probe queries. The per-(doc, term)
# BM25 kernel is computed ONCE over the union term set and the tiny
# query relation is broadcast onto the scored contributions, so adding
# queries costs a broadcast fan-out, never another corpus scan.
BM25_QUERY_SET = (
    ("q_joins", ("hash", "join", "merge")),
    ("q_streaming", ("stream", "window", "batch")),
    ("q_retrieval", ("vector", "scan", "dup")),
)
BM25_MQ_TOPK = 5
_BM25_MQ_TERMS = tuple(sorted({t for _, ts in BM25_QUERY_SET for t in ts}))


def _bm25_contrib(spark: SparkSession, sf_dir: str, terms: tuple) -> DataFrame:
    """Shared lexical-retrieval scoring kernel over ``documents``.

    Returns a ``contrib`` relation that carries TWO integer
    micro-unit per-(doc_id, term) contributions computed in the same
    pass — ``micro`` (Okapi BM25: tf saturation + length norm, exactly
    as documented on ``bm25_topk_docs``) and ``micro_vsm`` (a
    length-normalized vector-space-model weight, idf · tf/dl, the
    classic no-saturation ranker RRF fusion wants as its second voice).
    Both use the rational idf surrogate (2N+2)/(2df+1) and are
    micro-quantized before any sum so downstream aggregation is
    order-independent. A consumer that selects only one column gets the
    other pruned by Catalyst — BM25-only queries pay nothing for the
    extra projection.

    Scale shape: the explode is filtered to the query terms before any
    shuffle, df is a |terms|-row broadcast, stats a 1-row broadcast —
    cost scales with query-term postings, never with vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("dl"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    qtoks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*terms))
    tf = qtoks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_rel = qtoks.groupBy("term").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    tfd = F.col("tf").cast("double")
    # identical expression shape to the oracle: every float op is one
    # correctly-rounded IEEE step, quantized to micro-units before SUM
    contrib = (
        tf.join(F.broadcast(df_rel), "term")
        .join(docs.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.floor(
                (
                    (2 * F.col("n_docs") + 2).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
                * (tfd * 2.2)
                / (
                    tfd
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * (
                            (F.col("dl") * F.col("n_docs")).cast("double")
                            / F.col("total_dl").cast("double")
                        )
                    )
                )
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("micro"),
            F.floor(
                (
                    (2 * F.col("n_docs") + 2).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
                * (tfd / F.col("dl").cast("double"))
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("micro_vsm"),
        )
    )
    return contrib


def _bm25_mq_scored(spark: SparkSession, sf_dir: str, *aggs) -> DataFrame:
    """Per-(query_id, doc_id) aggregation of the shared kernel.

    Broadcasts the (query_id, term) query-set relation onto the
    contribution kernel (computed once over the union term set) and
    aggregates with the caller's column list — the one place the
    query-set fan-out and its join key live, shared by every
    multi-query retrieval consumer.

    The contrib relation is memoized per session via ``shared_stage``
    (optimization round 17): its two registered consumers
    (``bm25_multi_query_topk``, ``rrf_fusion_topk``) each re-ran the
    corpus token explode + postings aggregation for the identical
    per-(doc_id, term) relation; the memoized frame is postings-sized
    (query terms only), never corpus-sized.
    """
    from bq_nvd_spark.operators.checkpoint import shared_stage

    contrib = shared_stage(
        spark,
        ("bm25_mq_contrib", sf_dir),
        lambda: _bm25_contrib(spark, sf_dir, _BM25_MQ_TERMS),
    )
    qrel = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERY_SET for t in ts],
        "query_id string, term string",
    )
    return (
        contrib.join(F.broadcast(qrel), "term")
        .groupBy("query_id", "doc_id")
        .agg(*aggs)
    )


_BM25_ORACLE_KERNEL = """
    docs AS (
      SELECT doc_id, text,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_dl
      FROM docs
    ),
    toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM docs
    ),
    qtoks AS (
      SELECT doc_id, term FROM toks
      WHERE term IN ({term_list})
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM qtoks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtoks GROUP BY term
    ),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             CAST(FLOOR(
               (CAST(2 * s.n_docs + 2 AS DOUBLE)
                  / CAST(2 * df.df + 1 AS DOUBLE))
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75
                           * (CAST(d.dl * s.n_docs AS DOUBLE)
                              / CAST(s.total_dl AS DOUBLE))))
               * 1000000 + 0.5) AS BIGINT) AS micro,
             CAST(FLOOR(
               (CAST(2 * s.n_docs + 2 AS DOUBLE)
                  / CAST(2 * df.df + 1 AS DOUBLE))
               * (CAST(tf.tf AS DOUBLE) / CAST(d.dl AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS micro_vsm
      FROM tf
      JOIN df USING (term)
      JOIN docs d ON d.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
"""


def _bm25_mq_oracle_prefix(agg_cols: str) -> str:
    """Shared multi-query oracle prefix — the SQL twin of
    ``_bm25_mq_scored``: query-set VALUES CTE + the scoring kernel +
    a per-(query_id, doc_id) ``scored`` CTE with the caller's
    aggregate column list. Keeping both engines' query-set fan-out in
    one template each means a change to BM25_QUERY_SET handling cannot
    desynchronize the consumers."""
    values = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in BM25_QUERY_SET for t in ts
    )
    kernel = _BM25_ORACLE_KERNEL.format(
        term_list=", ".join(f"'{t}'" for t in _BM25_MQ_TERMS)
    )
    return f"""
    WITH queryset(query_id, term) AS (
      VALUES {values}
    ),
    {kernel},
    scored AS (
      SELECT q.query_id, c.doc_id, {agg_cols}
      FROM contrib c
      JOIN queryset q ON q.term = c.term
      GROUP BY q.query_id, c.doc_id
    )"""


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH {_BM25_ORACLE_KERNEL.format(
        term_list=", ".join(f"'{t}'" for t in BM25_TERMS)
    )}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           CAST(SUM(micro) AS BIGINT) AS bm25_micro
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    contrib = _bm25_contrib(spark, sf_dir, BM25_TERMS)
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum("micro").cast("long").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


@query(
    "bm25_multi_query_topk",
    oracle=_bm25_mq_oracle_prefix(
        "CAST(COUNT(*) AS BIGINT) AS n_terms_matched, "
        "CAST(SUM(c.micro) AS BIGINT) AS bm25_micro"
    )
    + f"""
    SELECT query_id, doc_id, n_terms_matched, bm25_micro, rnk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY bm25_micro DESC, doc_id) AS INT) AS rnk
      FROM scored
    )
    WHERE rnk <= {BM25_MQ_TOPK}
    """,
)
def bm25_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query BM25 top-k over a query-set relation (SURVEY §2.11 E4).

    The retrieval twin of the ANN family's multi-probe queries: the
    per-(doc, term) kernel runs ONCE over the union term set, then the
    |queries×terms|-row query relation is broadcast onto the scored
    contributions, fanned out per query_id, and ranked per query with
    ``Window.partitionBy(query_id)``. At 100 TB the corpus-side cost is
    identical to the single-query form (postings of the union term
    set); each extra query adds one broadcast fan-out row, never a
    corpus scan, and the window's partition count equals |queries| ×
    candidate docs — tiny, after the contributions aggregation.
    """
    from pyspark.sql.window import Window

    scored = _bm25_mq_scored(
        spark,
        sf_dir,
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        F.sum("micro").cast("long").alias("bm25_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    return scored.select(
        "query_id",
        "doc_id",
        "n_terms_matched",
        "bm25_micro",
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= BM25_MQ_TOPK)


# --------------------------------------------------------------------------
# E4g4 (round 13): reciprocal-rank-fusion hybrid retrieval. Production
# retrieval is rarely one ranker: a curation/RAG stack fuses a
# saturating lexical ranker (BM25) with at least one other voice and
# takes the RRF consensus — robust to either ranker's score scale
# because it consumes only RANKS. Here the second voice is the classic
# length-normalized vector-space model (idf · tf/dl, no saturation),
# computed in the SAME corpus pass as BM25 (one extra projection on the
# shared kernel — no second scan). RRF contribution per ranker is the
# EXACT integer 10^9 div (K + rank) (floor division in both engines),
# so the fused score is hash-exact cross-engine with no float sums.
# Docs outside a ranker's top-RRF_POOL get no contribution from it —
# standard RRF over truncated lists; a doc in neither pool is dropped.
RRF_K = 60  # the canonical RRF damping constant (Cormack et al.)
RRF_POOL = 20  # per-ranker candidate list depth
RRF_TOPK = 10


@query(
    "rrf_fusion_topk",
    oracle=_bm25_mq_oracle_prefix(
        "CAST(SUM(c.micro) AS BIGINT) AS bm25_micro, "
        "CAST(SUM(c.micro_vsm) AS BIGINT) AS vsm_micro"
    )
    + f""",
    ranked AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY bm25_micro DESC, doc_id) AS r_bm25,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY vsm_micro DESC, doc_id) AS r_vsm
      FROM scored
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(
               (CASE WHEN r_bm25 <= {RRF_POOL}
                     THEN 1000000000 // ({RRF_K} + r_bm25) ELSE 0 END)
             + (CASE WHEN r_vsm <= {RRF_POOL}
                     THEN 1000000000 // ({RRF_K} + r_vsm) ELSE 0 END)
             AS BIGINT) AS rrf_micro
      FROM ranked
    )
    SELECT query_id, doc_id, rrf_micro, rnk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_micro DESC, doc_id) AS INT) AS rnk
      FROM fused
      WHERE rrf_micro > 0
    )
    WHERE rnk <= {RRF_TOPK}
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF consensus of BM25 and VSM rankings.

    Scale shape: identical corpus cost to ``bm25_multi_query_topk`` —
    the shared kernel computes both per-(doc, term) contributions in
    one filtered-postings pass, both rankers aggregate in ONE shuffle
    (same (query_id, doc_id) keys), and the two rank windows + fusion
    run over the small scored relation (|queries| × matched docs). At
    100 TB adding a third ranker is one more projection column and one
    more window over that small relation, never another corpus scan.
    """
    from pyspark.sql.window import Window

    scored = _bm25_mq_scored(
        spark,
        sf_dir,
        F.sum("micro").cast("long").alias("bm25_micro"),
        F.sum("micro_vsm").cast("long").alias("vsm_micro"),
    )
    w_bm25 = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    w_vsm = Window.partitionBy("query_id").orderBy(
        F.desc("vsm_micro"), F.asc("doc_id")
    )
    ranked = scored.select(
        "query_id",
        "doc_id",
        F.row_number().over(w_bm25).alias("r_bm25"),
        F.row_number().over(w_vsm).alias("r_vsm"),
    )
    # exact integer floor division — hash-identical in both engines
    rrf_of = lambda r: F.when(  # noqa: E731 — tiny local expression
        F.col(r) <= RRF_POOL,
        F.expr(f"div(CAST(1000000000 AS BIGINT), CAST({RRF_K} + {r} AS BIGINT))"),
    ).otherwise(F.lit(0).cast("long"))
    fused = ranked.select(
        "query_id",
        "doc_id",
        (rrf_of("r_bm25") + rrf_of("r_vsm")).cast("long").alias("rrf_micro"),
    ).filter(F.col("rrf_micro") > 0)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return fused.select(
        "query_id",
        "doc_id",
        "rrf_micro",
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") <= RRF_TOPK)


# --------------------------------------------------------------------------
# E4c: language distribution (the lang-id *evaluation* surface; the n-gram
# classifier itself lives in operators/text.py).
@query(
    "lang_distribution",
    oracle="""
    SELECT lang, source,
           COUNT(*)                 AS n_docs,
           ROUND(AVG(n_chars), 2)   AS avg_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# E4d: document fingerprint — polynomial rolling hash over characters
# (h = h*31 + code mod 1e9+7), exact integer math in both engines.
@query(
    "doc_rolling_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_transform(range(1, length(text) + 1),
                            i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)),
             (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint
    FROM documents
    WHERE length(text) > 0
    """,
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bq_nvd_spark.functions import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return docs.select(
        "doc_id", rolling_fingerprint("text").alias("fingerprint")
    )


# --------------------------------------------------------------------------
# E5: multimodal column plumbing — opaque binary payload + typed metadata.
# (Real decode/feature-extraction is a Pandas-UDF stub in
# operators/multimodal.py; this query verifies the binary-column plumbing.)
@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text)                               AS content_sha,
           lang                                       AS media_lang
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    media = docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(F.col("lang").alias("media_lang"), F.col("source")).alias("meta"),
    )
    return media.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("content_sha"),
        F.col("meta.media_lang").alias("media_lang"),
    )


# --------------------------------------------------------------------------
# E4e: quality filtering — the pipeline step the stats exist FOR. A doc
# survives when it clears minimum length, bounded mean token length, and
# a stopword floor; integer/ratio thresholds keep the gate exact.
@query(
    "quality_filtered_docs",
    oracle="""
    SELECT doc_id, n_tokens
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             length(text)                                 AS n_chars,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a')))     AS stop_hits
      FROM documents
    )
    WHERE n_tokens >= 10
      AND n_chars <= 12 * n_tokens
      AND stop_hits * 20 >= n_tokens
    """,
)
def quality_filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    return (
        docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.length("text").alias("n_chars"),
            stop_hits.alias("stop_hits"),
        )
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_chars") <= 12 * F.col("n_tokens"))
            & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
        )
        .select("doc_id", "n_tokens")
    )


# --------------------------------------------------------------------------
# E4f: token-length histogram — corpus shape at a glance; fixed-width
# integer buckets so the hash check is exact.
@query(
    "token_length_histogram",
    oracle="""
    SELECT CAST(len(string_split(text, ' ')) // 5 AS BIGINT) AS bucket,
           COUNT(*)                                          AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.size(F.split("text", " ")) / 5).cast("long")
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# E2d: SimHash near-dup pairs — byte-banded candidates, bucket-size cap,
# exact hamming. Splitting the 32-bit signature into 4 bytes makes band
# agreement a pigeonhole guarantee for distance <= 3 (4 bands can't all
# differ); buckets above SIMHASH_BUCKET_CAP are dropped before pair
# generation (this synthetic corpus is duplicate-dense — an uncapped
# byte bucket holding half the corpus would emit O(n^2) pairs, the same
# failure minhash_pairs_capped guards against); the exact popcount then
# keeps pairs within HAM_MAX. Both engines compute the identical capped
# candidate set, so the hash check stays exact.
HAM_MAX = 2
SIMHASH_BUCKET_CAP = 20


@pandas_udf(LongType())
def _simhash_np(texts: "pd.Series") -> "pd.Series":
    """hashlib twin of the simhash_signatures HOF fold — identical
    integer by construction (same md5 hex, same per-position parity
    votes, same >0 bit rule). Exists because the pairs query references
    the signature inside a 4-element band array on BOTH sides of a
    self-join: the HOF expression tree gets duplicated ~10x per row,
    while a Python UDF is extracted into its own eval node and runs
    once per row per side.

    Per-token vote vectors are memoized per Arrow batch (same Zipfian
    argument as ``band_sigs_np``): each unique token pays its md5 and
    parity expansion once per batch instead of once per document."""
    import hashlib

    import numpy as np

    tok_votes: dict[str, "np.ndarray"] = {}
    bit_vals = 1 << np.arange(32, dtype=np.int64)
    out = []
    for text in texts:
        votes = np.zeros(32, dtype=np.int64)
        for t in set(text.split(" ")):
            v = tok_votes.get(t)
            if v is None:
                h = hashlib.md5(t.encode()).hexdigest().encode()
                v = np.where(np.frombuffer(h, dtype=np.uint8) % 2 == 1, 1, -1)
                tok_votes[t] = v
            votes += v
        out.append(int(np.where(votes > 0, bit_vals, 0).sum()))
    return pd.Series(out)


@query(
    "simhash_near_dup_pairs",
    oracle=f"""
    WITH {_DUCK_SIMHASH},
    bands AS (
      SELECT doc_id, simhash, b.band_idx,
             (simhash >> CAST(8 * b.band_idx AS INTEGER)) & 255 AS byte
      FROM sigs, (SELECT UNNEST(range(0, 4)) AS band_idx) b
    ),
    sized AS (
      SELECT band_idx, byte FROM bands
      GROUP BY 1, 2
      HAVING COUNT(*) BETWEEN 2 AND {SIMHASH_BUCKET_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.byte = b.byte
                AND a.doc_id < b.doc_id
    JOIN sized s ON s.band_idx = a.band_idx AND s.byte = a.byte
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAM_MAX}
    """,
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _simhash_sig_rel(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "byte"),
    )
    sized = (
        bands.groupBy("band_idx", "byte")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= SIMHASH_BUCKET_CAP))
        .select("band_idx", "byte")
    )
    capped = bands.join(F.broadcast(sized), ["band_idx", "byte"])
    a = capped.alias("a")
    b = capped.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAM_MAX)
        .distinct()
    )


# --------------------------------------------------------------------------
# E2 end-to-end: the textbook near-dup pipeline — MinHash-banded
# candidates (capped buckets), then EXACT bigram-shingle Jaccard
# verification, keeping pairs at or above the threshold. This is the
# composition minhash_pairs_capped and ngram_jaccard_adjacent exist to
# feed: candidates come from the LSH index (never all-pairs), and only
# candidates pay the exact set intersection.
JACCARD_MIN = 0.8


# The capped-pairs→sh→vpairs chain, shared by jaccard_verified_pairs
# (the pairs themselves) and dedup_clusters (their transitive closure);
# candidates come from the refined two-level rule (_duck_capped_pairs_ctes).
_DUCK_VERIFIED_PAIRS_CTES = _duck_capped_pairs_ctes() + f"""
    , sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
             )) AS sh
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    vpairs AS (
      SELECT c.doc_a, c.doc_b,
             ROUND(
               CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
               / (len(a.sh) + len(b.sh)
                  - len(list_filter(a.sh, x -> list_contains(b.sh, x)))),
               4) AS jaccard
      FROM cpairs c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
            / (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
            >= {JACCARD_MIN}
    )
"""


@pandas_udf(ArrayType(LongType()))
def _shingle_hashes_np(texts: "pd.Series") -> "pd.Series":
    """Arrow kernel: the DISTINCT bigram-shingle hash set of a document
    as array<long>. Any stable collision-free 64-bit hash works — the
    hashes only drive intersection counts, never the output values (the
    oracle compares raw shingle strings). Window digests are memoized
    per batch; bigrams repeat across a corpus the same Zipfian way
    tokens do (template: sampling.py::_decon_grams_np)."""
    import hashlib

    cache: dict[str, int] = {}
    out = []
    for text in texts:
        ts = text.split(" ")
        seen = set()
        for i in range(len(ts) - 1):
            w = ts[i] + " " + ts[i + 1]
            h = cache.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.md5(w.encode()).digest()[:8], "big", signed=True
                )
                cache[w] = h
            seen.add(h)
        out.append(list(seen))
    return pd.Series(out)


@query(
    "jaccard_verified_pairs",
    oracle=_duck_band_cte()
    + _DUCK_VERIFIED_PAIRS_CTES
    + """
    SELECT doc_a, doc_b, jaccard FROM vpairs
    """,
)
def jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bq_nvd_spark.operators.checkpoint import shared_stage

    # The verified relation is itself a shared chain stage: four
    # downstream queries (clusters, both survivor rules, the histogram)
    # consume it through dedup_clusters' own shared stage (the "minhash"
    # near_dup_clusters family, built from this relation), and the verify
    # join is the chain's second-most expensive stage after the
    # signatures.
    return shared_stage(
        spark,
        ("llm.verified_pairs", sf_dir),
        lambda: _verified_pairs_build(spark, sf_dir),
    )


def _verified_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint

    cand = _minhash_candidates(spark, sf_dir)
    # Intersection as explode + equi-join + groupBy-count over 64-bit
    # shingle tokens, NOT array_intersect over the full string arrays:
    # the earlier array formulation shuffled both docs' complete bigram
    # arrays per candidate pair and ran the intersect interpreted
    # (never codegen).  Here every shuffled row is (int, int, long),
    # every operator is whole-stage-codegen hash join/agg, and the join
    # keys (doc ids, hashes) are uniformly distributed — the shape that
    # survives 100 TB.  The distinct-shingle hash set comes from one
    # Arrow kernel pass over the text (split/join/md5 as C-speed Python
    # over the batch, window digests memoized Zipf-style) — the earlier
    # interpreted sequence→concat_ws→array_distinct HOF chain was the
    # verify path's dominant cost.  A 64-bit collision would perturb one
    # count by one; the DuckDB oracle (which compares the raw strings)
    # hash-checks that none occurs on the actual data.
    #
    # Checkpointed eagerly: both intersection probes AND the size lookup
    # read this compact (long, long) set, so the kernel runs exactly
    # once; sizes fall out of the distinct token set itself, sparing a
    # second pass over the text.
    tok = stage_checkpoint(
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 2)
        # The toy corpus is a single parquet file = a single scan task:
        # spread the CPU-bound kernel stage across cores. Real inputs
        # arrive already partitioned and pass through.
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(_shingle_hashes_np("text")).alias("h"))
    )
    inter = (
        cand.join(tok.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(tok.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sized_pairs = inter.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a"
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b"
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        sized_pairs.filter(jac >= JACCARD_MIN)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# E2 alternate verifier: EDIT-DISTANCE verification of LSH candidates —
# the metric of choice where token-set Jaccard is blind (short docs,
# small in-place edits, reordered whitespace). Same scale story as the
# Jaccard verifier: only bucket-sharing candidates pay the quadratic
# kernel, and the kernel runs on a bounded PREFIX (two 256-char strings
# → ≤ 64k cell DP, constant per pair) so a pathological pair of huge
# docs cannot blow up a task. `levenshtein` is unit-cost edit distance
# in both engines — exact integer, hash-stable.
EDIT_PREFIX = 256
EDIT_MAX = 32  # near-dups measure 0-8 on this corpus; background ≥ ~40


@query(
    "edit_distance_verified_pairs",
    oracle=_duck_band_cte()
    + _duck_capped_pairs_ctes()
    + f"""
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(substr(da.text, 1, {EDIT_PREFIX}),
                            substr(db.text, 1, {EDIT_PREFIX})) AS BIGINT)
             AS edit_dist
    FROM cpairs c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE levenshtein(substr(da.text, 1, {EDIT_PREFIX}),
                      substr(db.text, 1, {EDIT_PREFIX})) <= {EDIT_MAX}
    """,
)
def edit_distance_verified_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cand = _minhash_candidates(spark, sf_dir)
    prefixes = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, EDIT_PREFIX).alias("prefix")
    )
    return (
        cand.join(
            prefixes.select(
                F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa")
            ),
            "doc_a",
        )
        .join(
            prefixes.select(
                F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            # Bounded levenshtein (threshold arg, O(len·k) banded DP vs
            # O(len²) full DP — returns -1 past the bound) plus an
            # equality fast path: the refined candidate set is dominated
            # by exact-duplicate pairs whose prefixes compare equal in
            # O(len). Same output as the oracle's unbounded form because
            # rows past EDIT_MAX are filtered either way.
            F.when(F.col("pa") == F.col("pb"), F.lit(0))
            .otherwise(F.levenshtein("pa", "pb", EDIT_MAX))
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist").between(0, EDIT_MAX))
    )


# --------------------------------------------------------------------------
# E2 finale: near-duplicate CLUSTERS — the transitive closure of the
# verified pair set, one canonical (minimum-id) representative per
# component. Spark runs distributed min-label propagation
# (operators/graph.py); the oracle computes the same fixpoint as a
# recursive-CTE reachability closure. Pure integer math — exact match.
_DUCK_MINHASH_CLOSURE = duck_near_dup_closure("vpairs", "doc_a", "doc_b")


@query(
    "dedup_clusters",
    oracle=_duck_band_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    + _DUCK_VERIFIED_PAIRS_CTES
    + f"""
    , {_DUCK_MINHASH_CLOSURE}
    SELECT id AS doc_id, MIN(rep) AS cluster_id
    FROM walk
    GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Third shared link of the chain: both survivor rules and the size
    # histogram consume the memoized cluster relation.
    cc = near_dup_clusters(
        spark,
        "minhash",
        sf_dir,
        lambda: jaccard_verified_pairs(spark, sf_dir),
        "doc_a",
        "doc_b",
    )
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


# --------------------------------------------------------------------------
# E2 output surface: the DEDUPLICATED corpus — what a training pipeline
# actually consumes. Every document survives except non-representative
# near-dup cluster members (the cluster keeps its minimum-id row, the
# same survivorship rule as the exact dedup and the reference's
# first-write-wins ingest, bq_nvd/etl.py:87-88). One anti-join against
# the drop set; no forced broadcast — on a low-dup corpus AQE promotes
# the small build side to a broadcast at runtime, while a high-dup
# corpus (where |dropped| can approach |corpus|) falls back to a
# shuffled hash anti-join instead of overflowing a forced broadcast.
@query(
    "dedup_survivors",
    oracle=_duck_band_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    + _DUCK_VERIFIED_PAIRS_CTES
    + f"""
    , {_DUCK_MINHASH_CLOSURE},
    dropped AS (
      SELECT id FROM walk GROUP BY id HAVING id != MIN(rep)
    )
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM dropped)
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dropped = dedup_clusters(spark, sf_dir).filter(
        F.col("doc_id") != F.col("cluster_id")
    )
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


# --------------------------------------------------------------------------
# E2 survivorship, quality-aware: real curation pipelines rarely keep
# the minimum-id duplicate — they keep the BEST one (longest, highest
# quality score, preferred source). Same cluster set as dedup_survivors,
# different survivorship rule: per cluster keep argmax(n_chars), ties
# broken on minimum doc_id so the choice is deterministic and
# cross-engine hashable. The ranking window runs over CLUSTER MEMBERS
# only (the tiny relation near-dup clustering produces), never the
# corpus; the corpus pays one anti-join whose build side AQE sizes.
@query(
    "dedup_survivors_by_quality",
    oracle=_duck_band_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    + _DUCK_VERIFIED_PAIRS_CTES
    + f"""
    , {_DUCK_MINHASH_CLOSURE},
    clusters AS (
      SELECT id, MIN(rep) AS rep FROM walk GROUP BY id
    ),
    ranked AS (
      SELECT c.id,
             ROW_NUMBER() OVER (PARTITION BY c.rep
                                ORDER BY d.n_chars DESC, c.id) AS rn
      FROM clusters c JOIN documents d ON d.doc_id = c.id
    ),
    dropped AS (SELECT id FROM ranked WHERE rn > 1)
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM dropped)
    """,
)
def dedup_survivors_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    members = dedup_clusters(spark, sf_dir).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    dropped = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


# --------------------------------------------------------------------------
# E2 observability: the cluster-SIZE histogram — the first thing an
# operator looks at after a dedup run (a fat tail of giant clusters
# means boilerplate is leaking through the shingle choice; all-size-2
# means the threshold is too tight). Two tiny aggregations over the
# cluster relation; the corpus is never touched.
@query(
    "dedup_cluster_size_histogram",
    oracle=_duck_band_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    + _DUCK_VERIFIED_PAIRS_CTES
    + f"""
    , {_DUCK_MINHASH_CLOSURE},
    clusters AS (
      SELECT id, MIN(rep) AS rep FROM walk GROUP BY id
    ),
    sizes AS (
      SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM clusters GROUP BY rep
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes
    GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = (
        dedup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# --------------------------------------------------------------------------
# E4f: BPE merge census — the first step of byte-pair-encoding vocabulary
# training: count every adjacent token pair across the corpus and rank
# the top merge candidates (count DESC, pair ASC so ties are
# deterministic). One explode + one hash aggregation — the map-side
# partial agg absorbs the Zipfian pair skew, and a real trainer iterates
# this census with the winning pair merged back in.
def _adjacent_pair_rel(rel: DataFrame, text_col: str, combine) -> DataFrame:
    """One row per adjacent token pair of ``text_col``, combined by
    ``combine(a, b)`` (shared by the BPE census/trainer and TextRank).

    The split is projected ONCE into an attribute before the pair HOF:
    a lambda that re-references an inline split(text) expression
    re-splits the string per element (O(tokens²) per doc — measured 6×
    slower at sf0.1). zip_with over the two shifted slices of the
    materialized array is O(tokens)."""
    tok_rel = rel.select(F.split(text_col, " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    pairs = F.zip_with(
        F.slice("toks", F.lit(1), F.size("toks") - 1),
        F.slice("toks", F.lit(2), F.size("toks") - 1),
        combine,
    )
    return tok_rel.select(F.explode(pairs).alias("pair"))


@query(
    "bpe_merge_census",
    oracle="""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
      SELECT UNNEST(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM t
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _adjacent_pair_rel(docs, "text", lambda a, b: F.concat_ws(" ", a, b))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# E4g: Gopher-style repetition profile — the fraction of a document's
# word-bigram occurrences taken by its single most frequent bigram,
# plus the distinct/total bigram ratio, and the derived repetition
# gate. These are THE standard "remove boilerplate / degenerate text"
# signals for training-corpus curation (Rae et al. 2021 §A1.1 use
# duplicate n-gram fractions exactly like this).
#
# Scale shape: explode to (doc_id, bigram) — pre-shuffle cardinality
# is Σ tokens, never quadratic — then two hash aggregates that both
# partially combine map-side. The second groupBy reuses the first's
# hash partitioning on doc_id (Catalyst sees the (doc_id, bg) grouping
# is a refinement, so only one exchange carries raw bigram rows).
# All-integer counts; the two fractions are single IEEE divides fixed
# with floor(x*1e4+0.5) on both engines.
@query(
    "repetition_ngram_profile",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t
    ),
    cnt AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg
    )
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT)                          AS top_bigram_n,
           CAST(SUM(c) AS BIGINT)                          AS total_bigrams,
           COUNT(*)                                        AS distinct_bigrams,
           FLOOR(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                 * 10000 + 0.5) / 10000                    AS top_frac,
           FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                 * 10000 + 0.5) / 10000                    AS distinct_frac,
           (FLOOR(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                  * 10000 + 0.5) / 10000) > 0.08           AS is_repetitive
    FROM cnt
    GROUP BY doc_id
    """,
)
def repetition_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(word_bigrams("toks")).alias("bg"),
    )
    counted = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    top_frac = F.floor(
        F.max("c").cast("double") / F.sum("c").cast("double") * 10000 + 0.5
    ) / 10000
    distinct_frac = F.floor(
        F.count(F.lit(1)).cast("double") / F.sum("c").cast("double") * 10000 + 0.5
    ) / 10000
    return counted.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_n"),
        F.sum("c").alias("total_bigrams"),
        F.count(F.lit(1)).alias("distinct_bigrams"),
        top_frac.alias("top_frac"),
        distinct_frac.alias("distinct_frac"),
        (top_frac > 0.08).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# E6e: source-mixture resampling weights — the "domain mixing" step of
# corpus assembly (The Pile / Dolma publish exactly such per-source
# weight tables): given a uniform target share per source, the weight
# each source's documents must carry so the mixture matches the
# target. One grouped aggregate plus a one-row broadcast join; weights
# are a single IEEE divide of exact integer counts, floor-fixed.
@query(
    "source_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             COUNT(*) AS n_sources
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           FLOOR(CAST(n_docs AS DOUBLE) / total_docs * 1000000 + 0.5)
             / 1000000 AS actual_share,
           FLOOR(CAST(total_docs AS DOUBLE) / n_sources / n_docs
                 * 1000000 + 0.5) / 1000000 AS resample_weight
    FROM per_src, tot
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_docs").alias("total_docs"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    actual = (
        F.floor(
            F.col("n_docs").cast("double") / F.col("total_docs") * 1_000_000 + 0.5
        )
        / 1_000_000
    )
    weight = (
        F.floor(
            F.col("total_docs").cast("double")
            / F.col("n_sources")
            / F.col("n_docs")
            * 1_000_000
            + 0.5
        )
        / 1_000_000
    )
    return per_src.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        actual.alias("actual_share"),
        weight.alias("resample_weight"),
    )


# --------------------------------------------------------------------------
# E4h: unigram-LM surprisal scoring — the perplexity-proxy quality
# filter (the CCNet / Gopher "does this look like natural text"
# signal). A unigram model is trained on the corpus itself (token →
# corpus frequency), and each document is scored by its total unigram
# surprisal. Cross-engine determinism: ln()/log() are libm-dependent
# (see tfidf_top_terms), so surprisal is measured in WHOLE BITS —
# floor(log2(T / c_t)) computed integer-exactly as
# length(bin(T div c_t)) - 1 (valid because floor(log2(x)) ==
# floor(log2(floor(x))) for x >= 1: an integer floor cannot cross a
# power-of-two boundary). Every emitted value is an integer sum —
# order-independent, no float anywhere.
#
# Scale shape: vocab build is one token-key hash agg (map-side combine
# absorbs the Zipfian head); the score join is an equi-join of tokens
# against the (small, capped-in-production) vocab relation — AQE's
# skew-join split handles the "the"-token key; the per-doc rollup
# re-aggregates on doc_id. Nothing is ever quadratic in corpus size.
KEEP_BITS_NUM = 21  # keep iff avg surprisal < 21/5 = 4.2 bits/token
KEEP_BITS_DEN = 5


@query(
    "unigram_surprisal_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT COUNT(*) AS t FROM toks),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    vb AS (
      SELECT tok, CAST(LENGTH(bin(t // c)) - 1 AS BIGINT) AS bits
      FROM vocab CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS total_bits,
           CAST(SUM(bits) AS BIGINT) * {KEEP_BITS_DEN}
             < COUNT(*) * {KEEP_BITS_NUM} AS keep
    FROM toks JOIN vb USING (tok)
    GROUP BY doc_id
    """,
)
def unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("t"))
    vb = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        (F.length(F.bin(F.expr("t div c"))) - 1).cast("long").alias("bits"),
    )
    per_doc = (
        toks.join(vb, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bits").alias("total_bits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "total_bits",
        (
            F.col("total_bits") * KEEP_BITS_DEN
            < F.col("n_tokens") * KEEP_BITS_NUM
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# E4i: BPE vocabulary TRAINING, not just the census — the full
# learn-apply loop: count adjacent token pairs, adopt the most frequent
# pair as a merge, rewrite the corpus with that merge applied
# (left-to-right, non-overlapping — real BPE semantics), repeat.
# ``bpe_merge_census`` is one iteration's counting stage; this runs
# BPE_ROUNDS full iterations and emits the learned merge table.
#
# The merge rewrite is engine-portable plain-string algebra: double
# every token separator, replace ' A  B ' with ' A~B ' (the doubled
# separators make immediately-adjacent occurrences matchable while the
# single-space flanks enforce whole-token boundaries and left-to-right
# non-overlap), then re-split dropping empties. Verified to agree
# between Spark's replace() and DuckDB's on the overlap edge cases
# ('a a a' + merge (a,a) -> 'a~a a').
#
# Scale shape per round: one (explode → map-side-combined hash agg)
# census, one 1-row broadcast (the winning merge), one narrow
# projection rewriting documents. The driver loops over ROUNDS (vocab
# growth budget), never over rows — the same loop discipline as
# connected components.
BPE_ROUNDS = 3


def _duck_bpe_round(r: int) -> str:
    a = f"string_split(tp.pair, ' ')[1]"
    b = f"string_split(tp.pair, ' ')[2]"
    return f"""
    p{r} AS (
      SELECT pair, COUNT(*) AS n FROM (
        SELECT UNNEST(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS pair
        FROM (SELECT string_split(t, ' ') AS toks FROM d{r}
              WHERE len(string_split(t, ' ')) >= 2)
      ) GROUP BY pair
    ),
    t{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    d{r + 1} AS (
      SELECT doc_id,
             array_to_string(list_filter(string_split(
               replace(replace(' ' || d.t || ' ', ' ', '  '),
                       ' ' || {a} || '  ' || {b} || ' ',
                       ' ' || {a} || '~' || {b} || ' '),
               ' '), x -> x <> ''), ' ') AS t
      FROM d{r} d CROSS JOIN t{r} tp
    )"""


_BPE_ORACLE = (
    "WITH d0 AS (SELECT doc_id, text AS t FROM documents),"
    + ",".join(_duck_bpe_round(r) for r in range(BPE_ROUNDS))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_round, pair, n FROM t{r}"
        for r in range(BPE_ROUNDS)
    )
)


def _bpe_run(
    spark: SparkSession, sf_dir: str, *, rewrite_final: bool
) -> tuple[list[DataFrame], DataFrame]:
    """Run BPE_ROUNDS train iterations; returns (per-round winner
    frames, the working corpus). With ``rewrite_final=True`` the corpus
    reflects EVERY adopted merge (the encode path pays the final
    rewrite); with ``rewrite_final=False`` the last merge is adopted in
    the winner table but never applied to the corpus — train callers
    only consume the winners, so they skip that full corpus pass.

    Optimization round 17: every per-round relation (the 1-row winner
    and the rewritten corpus) is ``shared_stage``-memoized per
    (application, sf_dir) instead of per-query ``stage_checkpoint``-ed.
    THREE registered consumers run this loop (bpe_train_merges,
    bpe_encode_top_tokens, tokenizer_fertility_census); per-query
    checkpoints are released at each top-level query entry, so each
    consumer used to replay the full train loop — ~3× BPE_ROUNDS
    corpus passes per session pass. The memo keys compose per stage
    (winner r depends on corpus r, corpus r+1 on both), so a
    rewrite_final=False consumer that runs first builds exactly the
    prefix it needs and a later =True consumer adds only the final
    rewrite — same session-pass semantics as the dedup chain and the
    Gopher rules relation (operators/checkpoint.py::shared_stage).

    Storage discipline (review finding, this round): the INTERMEDIATE
    corpora (rounds 1..R−1) are dead once the final rewrite
    materializes — every downstream read goes through the memoized
    winner/final frames, which are lineage-truncated checkpoints. They
    are released eagerly at that point (corpus-text blocks, the
    chain's only corpus-scale × rounds footprint), and later consumers
    short-circuit via the terminal memo entries instead of stepping
    the released chain."""
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stage,
        shared_stage,
        shared_stage_peek,
    )

    # Short-circuit: when every terminal relation this caller needs is
    # already memoized, serve them directly — the per-round loop below
    # would otherwise REBUILD the released intermediate corpora.
    tops = [
        shared_stage_peek(spark, ("bpe_top", r, sf_dir))
        for r in range(BPE_ROUNDS)
    ]
    final = shared_stage_peek(spark, ("bpe_corpus", BPE_ROUNDS, sf_dir))
    if all(t is not None for t in tops) and (
        not rewrite_final or final is not None
    ):
        outs = [
            t.select(F.lit(r).alias("merge_round"), "pair", "n")
            for r, t in enumerate(tops)
        ]
        if rewrite_final:
            return outs, final
        # train callers ignore the corpus; hand back the raw docs
        # frame so the return stays corpus-shaped and lazy
        return outs, load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("text").alias("t")
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("t")
    )
    outs: list[DataFrame] = []
    cur = docs
    for r in range(BPE_ROUNDS):
        def build_top(cur: DataFrame = cur) -> DataFrame:
            census = (
                _adjacent_pair_rel(
                    cur, "t", lambda a, b: F.concat_ws(" ", a, b)
                )
                .groupBy("pair")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # The winner feeds both the output table and the rewrite;
            # without materialization round r's census would replay
            # every earlier round's rewrite (O(rounds^2) work).
            return census.orderBy(F.desc("n"), F.asc("pair")).limit(1)

        top = shared_stage(spark, ("bpe_top", r, sf_dir), build_top)
        outs.append(
            top.select(F.lit(r).alias("merge_round"), "pair", "n")
        )
        if r == BPE_ROUNDS - 1 and not rewrite_final:
            break

        def build_corpus(
            cur: DataFrame = cur, top: DataFrame = top
        ) -> DataFrame:
            a = F.element_at(F.split("pair", " "), 1)
            b = F.element_at(F.split("pair", " "), 2)
            doubled = F.replace(
                F.concat(F.lit(" "), F.col("t"), F.lit(" ")),
                F.lit(" "),
                F.lit("  "),
            )
            merged = F.replace(
                doubled,
                F.concat(F.lit(" "), a, F.lit("  "), b, F.lit(" ")),
                F.concat(F.lit(" "), a, F.lit("~"), b, F.lit(" ")),
            )
            rewritten = F.array_join(
                F.filter(F.split(merged, " "), lambda x: x != ""), " "
            )
            return cur.crossJoin(F.broadcast(top.select("pair"))).select(
                "doc_id", rewritten.alias("t")
            )

        cur = shared_stage(
            spark, ("bpe_corpus", r + 1, sf_dir), build_corpus
        )
    if rewrite_final:
        # The final corpus (key BPE_ROUNDS) is materialized: rounds
        # 1..R−1 are now dead weight (never returned to a consumer,
        # only consumed inside later builds) — release their
        # corpus-text blocks; the short-circuit above keeps later
        # consumers off the released chain.
        for r in range(1, BPE_ROUNDS):
            release_shared_stage(spark, ("bpe_corpus", r, sf_dir))
    return outs, cur


@query("bpe_train_merges", oracle=_BPE_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table after BPE_ROUNDS train iterations:
    (merge_round, winning pair, its corpus frequency at adoption time)."""
    from functools import reduce as _reduce

    outs, _ = _bpe_run(spark, sf_dir, rewrite_final=False)
    return _reduce(DataFrame.unionAll, outs)


ENCODE_TOP_TOKENS = 50

_BPE_ENCODE_ORACLE = (
    "WITH d0 AS (SELECT doc_id, text AS t FROM documents),"
    + ",".join(_duck_bpe_round(r) for r in range(BPE_ROUNDS))
    + f"""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(t, ' ')) AS tok FROM d{BPE_ROUNDS})
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT {ENCODE_TOP_TOKENS}
    """
)


@query("bpe_encode_top_tokens", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the BPE loop: encode the corpus with every
    learned merge (train → rewrite, BPE_ROUNDS times) and census the
    resulting token stream — the top vocabulary entries a tokenizer
    built from these merges would actually emit. Closes the
    train→encode round trip the reference tokenizer pipelines run.

    Scale shape: identical per-round cost to bpe_train_merges plus one
    final explode + hash-agg census; the merge table stays a 1-row
    broadcast per round and the corpus is only ever rewritten by
    narrow projections."""
    _, encoded = _bpe_run(spark, sf_dir, rewrite_final=True)
    return (
        encoded.select(F.explode(F.split("t", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(ENCODE_TOP_TOKENS)
    )


# E4j (round 16): tokenizer FERTILITY census — the metric tokenizer
# teams actually gate a merge table on: characters of source text per
# emitted token, per language, under the learned merges (a language
# whose fertility stays near 1 token/word is paying more sequence
# length per character — the standard multilingual-tokenizer
# comparison, cf. the mT5/BLOOM tokenizer analyses). Closes the
# train→encode→measure loop over the same _bpe_run machinery.
#
# Exactness: counts only — encoded token count, content characters
# (token chars net of the '~' merge markers and the single-space
# joins), docs, and merged-token count per language; the ratio is the
# READER's division, never computed here (the char and token sums are
# the integers both engines agree on exactly).
#
# Scale shape: BPE_ROUNDS narrow rewrites (the _bpe_run cost, shared
# shape with bpe_encode_top_tokens), one co-keyed equi-join back to
# the doc spine for lang (both sides keyed by doc_id), per-ROW token
# arithmetic (no explode — size/length/replace projections), one
# map-side-combined groupBy(lang) of |langs| rows.
_FERTILITY_ORACLE = (
    "WITH d0 AS (SELECT doc_id, text AS t FROM documents),"
    + ",".join(_duck_bpe_round(r) for r in range(BPE_ROUNDS))
    + f""",
    enc AS (
      SELECT d.doc_id, doc.lang, d.t,
             list_filter(string_split(d.t, ' '), x -> x <> '') AS toks
      FROM d{BPE_ROUNDS} d JOIN documents doc ON doc.doc_id = d.doc_id
    ),
    per_doc AS (
      SELECT lang,
             CAST(len(toks) AS BIGINT) AS ntoks,
             CAST(length(replace(t, '~', ''))
                  - GREATEST(len(toks) - 1, 0) AS BIGINT) AS nchars,
             CAST(len(list_filter(toks, x -> contains(x, '~')))
                  AS BIGINT) AS nmerged
      FROM enc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)     AS n_docs,
           CAST(SUM(ntoks) AS BIGINT)   AS n_tokens,
           CAST(SUM(nchars) AS BIGINT)  AS n_chars,
           CAST(SUM(nmerged) AS BIGINT) AS n_merged_tokens
    FROM per_doc GROUP BY lang
    """
)


@query("tokenizer_fertility_census", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language corpus fertility under the learned BPE merge
    table (see the section note): encoded token count vs content
    character count, plus how many emitted tokens are merge products
    — all integer sums; chars-per-token is the reader's division."""
    _, encoded = _bpe_run(spark, sf_dir, rewrite_final=True)
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    toks = F.filter(F.split("t", " "), lambda x: x != "")
    per_doc = encoded.join(lang, "doc_id").select(
        "lang",
        F.size(toks).cast("long").alias("ntoks"),
        (
            F.length(F.replace(F.col("t"), F.lit("~"), F.lit("")))
            - F.greatest(F.size(toks) - 1, F.lit(0))
        ).cast("long").alias("nchars"),
        F.size(
            F.filter(toks, lambda x: x.contains("~"))
        ).cast("long").alias("nmerged"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntoks").cast("long").alias("n_tokens"),
        F.sum("nchars").cast("long").alias("n_chars"),
        F.sum("nmerged").cast("long").alias("n_merged_tokens"),
    )


# --------------------------------------------------------------------------
# E4j: TextRank keyword extraction — PageRank over the corpus token
# co-occurrence graph (Mihalcea & Tarau 2004), the graph-centrality
# complement to frequency-based TF-IDF: a token ranks high when its
# NEIGHBORS rank high, not merely when it is common.
#
# Exactness: PageRank is usually float-iterated; here every quantity is
# an integer. Scores live in micro-units (PR_0 = 1e6), the per-edge
# contribution w·PR/W rounds half-up via pure integer division
# ((2·w·PR + W) div (2·W)), and the damping by 0.85 is the rational
# 17/20 applied the same way — so both engines produce bit-identical
# iterates and the oracle is an exact hash gate on an iterative graph
# algorithm (same discipline as kmeans_lloyd_clusters and the CC
# operator).
#
# Scale shape per iteration: ONE equi-join of the edge relation against
# the k-row score relation (both hash-partitioned on token), one
# map-side-combined hash agg on dst. Edges/out-weights are built once
# and stage_checkpointed; the driver loops over TEXTRANK_ITERS rounds,
# never rows. No window, no sort until the final top-k.
TEXTRANK_ITERS = 3
TEXTRANK_TOP = 30
_PR0 = 1_000_000


def _duck_textrank_iter(r: int) -> str:
    return f"""
    c{r} AS (
      SELECT e.dst, SUM((2 * e.w * p.pr + wt.tw) // (2 * wt.tw)) AS s
      FROM e JOIN p{r} p ON p.tok = e.src JOIN wt ON wt.src = e.src
      GROUP BY e.dst
    ),
    p{r + 1} AS (
      SELECT p.tok,
             CAST(150000 + (COALESCE(c.s, 0) * 17 + 10) // 20 AS BIGINT) AS pr
      FROM p{r} p LEFT JOIN c{r} c ON c.dst = p.tok
    )"""


_TEXTRANK_ORACLE = (
    """
    WITH t AS (
      SELECT string_split(text, ' ') AS tk FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    prs AS (
      SELECT UNNEST(list_transform(range(1, len(tk)),
                                   i -> [tk[i], tk[i + 1]])) AS pq
      FROM t
    ),
    und AS (
      SELECT pq[1] AS src, pq[2] AS dst FROM prs WHERE pq[1] <> pq[2]
      UNION ALL
      SELECT pq[2] AS src, pq[1] AS dst FROM prs WHERE pq[1] <> pq[2]
    ),
    e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
          FROM und GROUP BY src, dst),
    wt AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY src),
    p0 AS (SELECT DISTINCT src AS tok, CAST("""
    + str(_PR0)
    + """ AS BIGINT) AS pr FROM e),"""
    + ",".join(_duck_textrank_iter(r) for r in range(TEXTRANK_ITERS))
    + f"""
    SELECT tok, pr FROM p{TEXTRANK_ITERS}
    ORDER BY pr DESC, tok
    LIMIT {TEXTRANK_TOP}
    """
)


@query("textrank_keywords", oracle=_TEXTRANK_ORACLE)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank: top keywords by damped graph centrality
    after TEXTRANK_ITERS exact-integer PageRank rounds over the
    adjacent-token co-occurrence graph (undirected, self-loops
    dropped)."""
    from bq_nvd_spark.operators.checkpoint import stage_checkpoint

    docs = load_table(spark, sf_dir, "documents")
    prs = (
        _adjacent_pair_rel(
            docs, "text", lambda a, b: F.struct(a.alias("a"), b.alias("b"))
        )
        .select(F.col("pair.a").alias("a"), F.col("pair.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = prs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(prs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    e = stage_checkpoint(
        und.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    )
    wt = e.groupBy("src").agg(F.sum("w").alias("tw"))
    pr = e.select("src").distinct().select(
        F.col("src").alias("tok"), F.lit(_PR0).cast("long").alias("pr")
    )
    for _ in range(TEXTRANK_ITERS):
        contrib = (
            e.join(pr, e["src"] == pr["tok"])
            .join(wt, "src")
            .select(
                "dst",
                F.expr("(2 * w * pr + tw) div (2 * tw)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            pr.join(contrib, pr["tok"] == contrib["dst"], "left")
            .select(
                "tok",
                (
                    F.lit(150000)
                    + F.expr("(coalesce(s, 0L) * 17 + 10) div 20")
                ).cast("long").alias("pr"),
            )
        )
    return pr.orderBy(F.desc("pr"), F.asc("tok")).limit(TEXTRANK_TOP)


# --------------------------------------------------------------------------
# E4k: collocation mining — adjacent-pair PMI, the phrase-extraction
# step tokenizer/vocab pipelines run to promote multi-word units
# ("new york") before training. Classic PMI is log p(ab)/(p(a)p(b));
# the log is monotone, so ranking by the RATIO n_ab·N / (n_a·n_b)
# orders identically and keeps every input an exact integer: the
# ratio is fixed to 1e-4 with the suite's floor form, computed from
# bit-identical BIGINT products on both engines. A minimum pair count
# keeps the rare-pair noise PMI is notorious for out of the top list.
#
# Scale shape: the unigram and bigram censuses are two map-side
# combined hash aggs over one explode each; the join of bigrams
# against the two unigram relations is left UNHINTED — the vocabulary
# grows with the corpus, so AQE decides broadcast-vs-shuffle from the
# census's measured size — and the final ordering is a bounded top-k.
PMI_MIN_COUNT = 5
PMI_TOP = 30


@query(
    "collocation_pmi_top",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM uni),
    t AS (
      SELECT string_split(text, ' ') AS tk FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    big AS (
      SELECT pq[1] AS a, pq[2] AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM (
        SELECT UNNEST(list_transform(range(1, len(tk)),
                                     i -> [tk[i], tk[i + 1]])) AS pq
        FROM t
      )
      GROUP BY 1, 2
    )
    SELECT big.a, big.b, big.n_ab,
           -- doubles BEFORE the multiplies: BIGINT products overflow
           -- past ~3e9 total tokens (Spark would wrap, DuckDB would
           -- raise — a silent-garbage vs hard-error divergence); the
           -- double product is computed identically on both engines.
           FLOOR(CAST(big.n_ab AS DOUBLE) * CAST(tot.big_n AS DOUBLE)
                 / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS pmi_ratio
    FROM big
    JOIN uni ua ON ua.tok = big.a
    JOIN uni ub ON ub.tok = big.b
    CROSS JOIN tot
    WHERE big.n_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi_ratio DESC, big.a, big.b
    LIMIT {PMI_TOP}
    """,
)
def collocation_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by PMI ratio (n_ab·N / (n_a·n_b), the
    log-free monotone equivalent), over adjacent token pairs with at
    least PMI_MIN_COUNT occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni.agg(F.sum("n").alias("big_n"))
    big = (
        _adjacent_pair_rel(
            docs, "text", lambda a, b: F.struct(a.alias("a"), b.alias("b"))
        )
        .select(F.col("pair.a").alias("a"), F.col("pair.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_COUNT)
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("n").alias("na"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n").alias("nb"))
    # Cast to double BEFORE multiplying (mirrors the oracle): integer
    # products overflow int64 once the token census passes ~3e9.
    ratio = (
        F.floor(
            F.col("n_ab").cast("double")
            * F.col("big_n").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
            * 10000
            + 0.5
        )
        / 10000
    )
    # No broadcast hint on the unigram census joins: ua/ub is the full
    # token vocabulary, which grows with the corpus (billions of
    # distinct tokens at web scale) — forcing it driver-side would OOM.
    # AQE picks broadcast when the census actually fits and a shuffle
    # join otherwise; `big` is already n_ab-thresholded, so both joins
    # are selective either way. `tot` stays hinted (one row).
    return (
        big.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "n_ab", ratio.alias("pmi_ratio"))
        .orderBy(F.desc("pmi_ratio"), F.asc("a"), F.asc("b"))
        .limit(PMI_TOP)
    )
