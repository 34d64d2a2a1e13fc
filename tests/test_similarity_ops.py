"""The two band-bucket formulations must agree bit-for-bit.

``band_buckets`` (higher-order functions, fold-ordered — mirrored by the
DuckDB oracle) is the semantic definition; ``band_buckets_np`` (Arrow +
numpy matmul) is the production fast path. They can only disagree if
some |vector·plane| sits within float-reorder error of zero; this test
pins exact equality on the test corpus, which also certifies the margin
assumption the fast path documents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bq_nvd_spark.operators.similarity import band_buckets, band_buckets_np
from bq_nvd_spark.sources.tables import load_table


def test_band_bucket_formulations_agree(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    both = emb.select(
        "vec_id",
        band_buckets("v").alias("hof"),
        band_buckets_np("v").alias("np"),
    )
    diff = both.filter(F.col("hof") != F.col("np")).count()
    assert diff == 0
    assert both.count() > 0


def test_refine_bucket_formulations_agree(spark, sf_dir):
    """refine_bucket_np (Arrow matmul signs) must equal the DuckDB
    oracle's duck_refine_buckets fold-ordered evaluation for every
    (vector, band) on the fixture corpus — same margin argument as the
    band-bucket twins."""
    import duckdb

    from bq_nvd_spark.operators.similarity import (
        N_BANDS,
        duck_refine_bucket_case,
        refine_bucket_np,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    got = {}
    exploded = emb.select(
        "vec_id",
        F.explode(F.array(*[F.lit(b) for b in range(N_BANDS)])).alias("band_idx"),
        "v",
    ).select("vec_id", "band_idx", refine_bucket_np("v", "band_idx").alias("rb"))
    for r in exploded.collect():
        got[(r.vec_id, r.band_idx)] = r.rb
    import os

    con = duckdb.connect()
    rb_case = duck_refine_bucket_case("CAST(embedding AS DOUBLE[])", "b.band_idx")
    rel = con.sql(
        f"SELECT vec_id, b.band_idx, {rb_case} AS rb "
        f"FROM read_parquet('{os.path.join(sf_dir, 'embeddings.parquet')}'), "
        "(SELECT UNNEST(range(0, 4)) AS band_idx) b"
    )
    for vec_id, band_idx, rb in rel.fetchall():
        assert got[(vec_id, band_idx)] == rb, (vec_id, band_idx)
    con.close()
    assert got


def test_minhash_band_formulations_agree(spark, sf_dir):
    """band_sigs_np (hashlib over Arrow) must equal band_sigs_hof (the
    HOF definition the oracle mirrors) string-for-string."""
    from bq_nvd_spark.plans.llm import band_sigs_hof, band_sigs_np

    docs = load_table(spark, sf_dir, "documents")
    both = docs.select(
        "doc_id",
        band_sigs_hof("text").alias("hof"),
        band_sigs_np("text").alias("np"),
    )
    assert both.filter(F.col("hof") != F.col("np")).count() == 0
    assert both.count() > 0


def test_fold_dot_formulations_agree(spark, sf_dir):
    """fold_dot_np (Arrow cumsum) must equal fold_dot (sequential HOF
    left-fold, the oracle's definition) BIT-for-bit — not approximately:
    cumsum accumulates in the identical IEEE-754 order, so every
    intermediate rounding matches. Cross pairs exercise unequal inputs."""
    from bq_nvd_spark.operators.similarity import fold_dot, fold_dot_np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    self_pairs = emb.select(
        "vec_id",
        fold_dot("v", "v").alias("hof"),
        fold_dot_np("v", "v").alias("np"),
    )
    assert self_pairs.filter(F.col("hof") != F.col("np")).count() == 0
    assert self_pairs.count() > 0

    a = emb.filter(F.col("vec_id") < 5).select(
        F.lit(1).alias("k"), F.col("v").alias("va")
    )
    b = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 25)).select(
        F.lit(1).alias("k"), F.col("v").alias("vb")
    )
    cross = a.join(b, "k").select(
        fold_dot("va", "vb").alias("hof"),
        fold_dot_np("va", "vb").alias("np"),
    )
    assert cross.filter(F.col("hof") != F.col("np")).count() == 0
    assert cross.count() == 100


def test_shingle_hash_kernel_matches_hof_counts(spark, sf_dir):
    """The Arrow shingle-hash kernel must produce the same DISTINCT
    bigram count per document as the HOF formulation it replaced (the
    hashes themselves are internal — only set cardinalities and
    intersections reach the output)."""
    from bq_nvd_spark.plans.llm import _shingle_hashes_np

    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 2
    )
    toks = F.split("text", " ")
    hof_shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )
    )
    both = docs.select(
        "doc_id",
        F.size(hof_shingles).alias("n_hof"),
        F.size(_shingle_hashes_np("text")).alias("n_np"),
    )
    assert both.filter(F.col("n_hof") != F.col("n_np")).count() == 0
    assert both.count() > 0


def test_simhash_formulations_agree(spark, sf_dir):
    """_simhash_np (hashlib+numpy over Arrow) must equal simhash_hof
    (the per-row HOF definition the oracle mirrors) bit-for-bit."""
    from bq_nvd_spark.plans.llm import _simhash_np, simhash_hof

    docs = load_table(spark, sf_dir, "documents")
    both = docs.select(
        "doc_id",
        simhash_hof().alias("hof"),
        _simhash_np("text").alias("np"),
    )
    assert both.filter(F.col("hof") != F.col("np")).count() == 0
    assert both.count() > 0


def test_pq_adc_recall_bound_holds_with_margin(spark, sf_dir):
    """The PQ pipeline's recall_ok must be TRUE for every query (that is
    what the driver hash asserts), and the subspace-dot kernel must agree
    with a per-row Python fold — the batch-independence claim."""
    import numpy as np

    from bq_nvd_spark.operators.similarity import PQ_M, subspace_dots_np
    from bq_nvd_spark.plans.pq import pq_adc_recall_topk

    out = pq_adc_recall_topk(spark, sf_dir)
    rows = out.collect()
    assert rows and all(r["recall_ok"] for r in rows)

    emb = load_table(spark, sf_dir, "embeddings").limit(20).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    got = emb.select("vec_id", "v", subspace_dots_np("v", "v").alias("d")).collect()
    sub = 64 // PQ_M
    for r in got:
        v = np.asarray(r["v"])
        for m in range(PQ_M):
            ref = 0.0
            for x in v[m * sub : (m + 1) * sub]:
                ref += x * x  # sequential fold, same order as the kernel
            assert r["d"][m] == ref


# --------------------------------------------------------------------------
# Degenerate-bucket bound for the embedding pair path: a mega-bucket of
# identical vectors (THE dedup-worthy input — mass near-duplicates all
# landing on one LSH signature) must emit the O(m) min-id star, never
# O(m²) all-pairs, while buckets at or under EMB_BUCKET_CAP still emit
# every pair. The star keeps the duplicate cluster connected so the
# downstream connected components collapses it to one survivor.


def _sig_of(spark, groups):
    """(vec_id, v, nrm, bands) rows; groups = [(bucket_base, n, vec)]
    puts n copies of vec into 4 band buckets derived from bucket_base."""
    rows = []
    next_id = 0
    for base, n, vec in groups:
        nrm = sum(x * x for x in vec) ** 0.5
        for _ in range(n):
            rows.append((next_id, vec, nrm, [base] * 4))
            next_id += 1
    return spark.createDataFrame(
        rows, "vec_id long, v array<double>, nrm double, bands array<int>"
    )


def test_emb_bucket_pairs_degenerate_star(spark):
    from bq_nvd_spark.plans.similarity_search import (
        EMB_BUCKET_CAP,
        _emb_bucket_pairs,
    )

    n = 500  # all-pairs would be 124750 rows; the star bound is n-1
    sig = _sig_of(spark, [(7, n, [1.0, 1.0, 1.0, 1.0])])
    got = _emb_bucket_pairs(sig).collect()
    assert len(got) == n - 1
    assert all(r.id_a == 0 and r.id_b > 0 for r in got)  # min-id star
    assert len({r.id_b for r in got}) == n - 1

    # the star edges keep the duplicate cluster CONNECTED: one survivor
    from bq_nvd_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(r.id_a, r.id_b) for r in got], "src long, dst long"
    )
    cc = connected_components(edges, max_iter=10)
    assert {r.cluster_id for r in cc.collect()} == {0}
    assert cc.count() == n

    # at-cap bucket: full pair emission, ordered and distinct
    cap = EMB_BUCKET_CAP
    at_cap = _emb_bucket_pairs(_sig_of(spark, [(3, cap, [1.0, 0.0])])).collect()
    assert len(at_cap) == cap * (cap - 1) // 2
    assert all(r.id_a < r.id_b for r in at_cap)
    # one past the cap: star (cap pairs), not C(cap+1, 2)
    over = _emb_bucket_pairs(_sig_of(spark, [(3, cap + 1, [1.0, 0.0])]))
    assert over.count() == cap

    # singleton and empty buckets emit nothing
    assert _emb_bucket_pairs(_sig_of(spark, [(1, 1, [1.0])])).count() == 0
    assert _emb_bucket_pairs(_sig_of(spark, [])).count() == 0


def test_emb_bucket_pairs_mixed_buckets(spark):
    """A mega-bucket's star must not suppress all-pairs emission from
    healthy buckets, and a pair seen in two buckets collapses to one
    candidate row (the dropDuplicates contract the scorer relies on)."""
    from bq_nvd_spark.plans.similarity_search import (
        EMB_BUCKET_CAP,
        _emb_bucket_pairs,
    )

    mega = (5, EMB_BUCKET_CAP + 10, [1.0, 1.0])
    trio = (9, 3, [0.5, 0.5])
    sig = _sig_of(spark, [mega, trio])
    got = {(r.id_a, r.id_b) for r in _emb_bucket_pairs(sig).collect()}
    m = EMB_BUCKET_CAP + 10
    star = {(0, b) for b in range(1, m)}
    trio_ids = [m, m + 1, m + 2]
    all3 = {
        (trio_ids[0], trio_ids[1]),
        (trio_ids[0], trio_ids[2]),
        (trio_ids[1], trio_ids[2]),
    }
    assert got == star | all3


def test_emb_star_recall_via_other_bands(spark):
    """The refined star's recall mechanisms, both pinned: a similar
    pair buried in an OVERSIZED bucket surfaces (a) through any other
    band where the two share a small bucket, AND (b) through the
    oversized bucket's OWN refinement — the extra sign bits split the
    dissimilar fillers from the pair, which then lands in a 2-member
    sub-bucket and emits directly."""
    from bq_nvd_spark.plans.similarity_search import (
        EMB_BUCKET_CAP,
        _emb_bucket_pairs,
    )

    rows = []
    # ids 0..CAP+9 all collide in band-0 bucket 7 (oversized); the
    # fillers are orthogonal to the target pair.
    m = EMB_BUCKET_CAP + 10
    for i in range(m):
        # distinct band-1..3 buckets -> no other co-occurrence
        rows.append((i, [0.0, 1.0], 1.0, [7, 100 + i, 200 + i, 300 + i]))
    # x and y: mutually identical vectors, not similar to the fillers;
    # band 1 puts them alone in a small bucket together.
    x_id, y_id = m, m + 1
    rows.append((x_id, [1.0, 0.0], 1.0, [7, 55, 210 + m, 310 + m]))
    rows.append((y_id, [1.0, 0.0], 1.0, [7, 55, 211 + m, 311 + m]))
    sig = spark.createDataFrame(
        rows, "vec_id long, v array<double>, nrm double, bands array<int>"
    )
    got = {(r.id_a, r.id_b) for r in _emb_bucket_pairs(sig).collect()}
    assert (x_id, y_id) in got, "pair lost despite sharing a small bucket"
    # band-0 bucket 7 refines into the 30 fillers ([0,1] -> one
    # sub-bucket, still > CAP -> star to id 0) and {x, y} ([1,0] -> a
    # 2-member sub-bucket -> direct pair); the old raw-bucket star
    # would instead have emitted doomed (filler-anchor, x/y) pairs.
    star = {(0, b) for b in range(1, m)}
    assert got == star | {(x_id, y_id)}


def test_emb_refine_protects_cluster_from_outsider_anchor(spark):
    """THE regression test for the round-11 probe finding: an oversized
    bucket holding a mass-duplicate cluster plus a LOWER-id unrelated
    bucket-mate must NOT star on the outsider (every such pair would
    fail the cosine threshold and the cluster would disconnect — the
    raw-bucket star did exactly that). Refinement separates the
    outsider into its own singleton sub-bucket (emits nothing) and the
    cluster stars on one of ITS OWN members."""
    from bq_nvd_spark.plans.similarity_search import (
        EMB_BUCKET_CAP,
        _emb_bucket_pairs,
    )

    m = EMB_BUCKET_CAP + 10
    rows = [(0, [1.0, 0.0], 1.0, [7, 7, 7, 7])]  # outsider, min id
    for i in range(1, m + 1):  # the cluster: identical vectors
        rows.append((i, [0.0, 1.0], 1.0, [7, 7, 7, 7]))
    sig = spark.createDataFrame(
        rows, "vec_id long, v array<double>, nrm double, bands array<int>"
    )
    got = {(r.id_a, r.id_b) for r in _emb_bucket_pairs(sig).collect()}
    assert got == {(1, b) for b in range(2, m + 1)}, (
        "cluster must star on its own min id (1), never the outsider (0)"
    )


def test_mmr_diversifies_past_a_duplicate_and_handles_short_pools(
    spark, sf_dir, tmp_path
):
    # Driver fixture invariants: K picks per query, ranks 1..K, no
    # repeats within a query, and rank 1 == pure relevance argmax
    # (MMR's first pick has no diversity term).
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans.similarity_search import MMR_K

    rows = QUERIES["mmr_diverse_topk"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, picks in by_q.items():
        assert sorted(p.mmr_rank for p in picks) == list(
            range(1, MMR_K + 1)
        )
        assert len({p.vec_id for p in picks}) == MMR_K
    cos = QUERIES["cosine_topk"](spark, sf_dir).collect()  # ONE run
    max_sim = {}
    for r in cos:
        max_sim[r.q_id] = max(max_sim.get(r.q_id, r.sim), r.sim)
    # containment, not equality: top-sim ties are legal (both queries
    # floor the cosine to e4 units) — rank 1 must sit IN the
    # relevance-argmax tie set, chosen deterministically
    top_set = {
        q: {r.vec_id for r in cos if r.q_id == q and r.sim == m}
        for q, m in max_sim.items()
    }
    for q_id, picks in by_q.items():
        rank1 = next(p.vec_id for p in picks if p.mmr_rank == 1)
        assert rank1 in top_set[q_id], (q_id, rank1, top_set[q_id])

    # Synthetic geometry: candidate 6 is an exact duplicate of the
    # top hit 5 (rel .9, sim 1.0 -> score 7*9000-3*10000 = 33000);
    # candidate 7 is less relevant but diverse (rel .8, sim .72 ->
    # 7*8000-3*7200 = 34400), so MMR must rank 7 over the duplicate —
    # pure relevance ordering would pick 6. Only 3 candidates exist,
    # so the greedy loop must also stop early (3 picks, not MMR_K).
    import math

    dim = 64
    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    c5 = vec((0, 0.9), (2, math.sqrt(1 - 0.81)))
    rows2 = [
        (0, vec((0, 1.0))),          # the query under test
        (1, vec((1, 1.0))),
        (2, vec((1, 1.0))),
        (3, vec((1, 1.0))),
        (4, vec((1, 1.0))),
        (5, c5),
        (6, list(c5)),               # exact duplicate of 5
        (7, vec((0, 0.8), (3, 0.6))),
    ]
    spark.createDataFrame(
        rows2, "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = [
        r
        for r in QUERIES["mmr_diverse_topk"](spark, str(tmp_path)).collect()
        if r.q_id == 0
    ]
    got.sort(key=lambda r: r.mmr_rank)
    assert [r.vec_id for r in got] == [5, 7, 6], got
    assert [r.mmr_rank for r in got] == [1, 2, 3]


def test_mmr_singleton_pool_still_emits_rank_one(spark, tmp_path):
    # A query whose candidate pool has exactly ONE vector produces no
    # pairwise-sim rows; the greedy trace must still emit the rank-1
    # pick (the oracle selects it from the pool CTE) — an inner
    # pairs-join would silently drop the whole group (round-14 review
    # finding).
    from bq_nvd_spark.plans import QUERIES

    dim = 64
    def vec(i, x=1.0):
        v = [0.0] * dim
        v[i] = x
        return v

    rows = [(q, vec(0)) for q in range(5)] + [(5, vec(0, 0.7))]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = QUERIES["mmr_diverse_topk"](spark, str(tmp_path)).collect()
    assert len(got) == 5  # one rank-1 pick per query, nothing more
    assert all(r.mmr_rank == 1 and r.vec_id == 5 for r in got), got
    # score = 7 * rel_e4; rel = cos(e0, 0.7*e0) = 1.0 -> 7 * 10000
    assert all(r.mmr_score == 70000 for r in got), got


def test_mmr_ann_pool_invariants_and_duplicate_geometry(
    spark, sf_dir, tmp_path
):
    # The ANN-pooled MMR variant shares the greedy kernel verbatim;
    # what changes is the pool. Invariants: K picks per query with
    # ranks 1..K and no repeats, and rank 1 == the IVF candidate
    # set's relevance argmax — exactly ivf_topk's rn=1 row (identical
    # quantization and (sim DESC, vec_id ASC) tie-break).
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans.similarity_search import MMR_K

    rows = QUERIES["mmr_ann_diverse_topk"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, picks in by_q.items():
        assert sorted(p.mmr_rank for p in picks) == list(
            range(1, MMR_K + 1)
        )
        assert len({p.vec_id for p in picks}) == MMR_K
    ivf = QUERIES["ivf_topk"](spark, sf_dir).collect()
    ivf_best = {}
    for r in ivf:
        cur = ivf_best.get(r.q_id)
        if cur is None or (-r.sim, r.vec_id) < (-cur[0], cur[1]):
            ivf_best[r.q_id] = (r.sim, r.vec_id)
    for q_id, picks in by_q.items():
        rank1 = next(p.vec_id for p in picks if p.mmr_rank == 1)
        assert rank1 == ivf_best[q_id][1], (q_id, rank1, ivf_best[q_id])

    # Synthetic geometry, same as the brute test: with <= IVF_CELLS
    # corpus vectors every vector is its own centroid/cell and queries
    # probe enough cells to see all of them, so the shortlist equals
    # the corpus and the ANN trace must reproduce the known diversity
    # ordering: duplicate 6 of top-hit 5 is deferred below diverse 7.
    import math

    dim = 64

    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    c5 = vec((0, 0.9), (2, math.sqrt(1 - 0.81)))
    rows2 = [
        (0, vec((0, 1.0))),
        (1, vec((1, 1.0))),
        (2, vec((1, 1.0))),
        (3, vec((1, 1.0))),
        (4, vec((1, 1.0))),
        (5, c5),
        (6, list(c5)),
        (7, vec((0, 0.8), (3, 0.6))),
    ]
    spark.createDataFrame(
        rows2, "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = [
        r
        for r in QUERIES["mmr_ann_diverse_topk"](
            spark, str(tmp_path)
        ).collect()
        if r.q_id == 0
    ]
    got.sort(key=lambda r: r.mmr_rank)
    assert [r.vec_id for r in got] == [5, 7, 6], got


def test_hard_negative_mining_geometry_and_python_reference(spark, sf_dir):
    # Fixture invariants cross-checked against a Python brute-force
    # restricted to IVF cells: mined negatives must carry a different
    # label and be the exact within-cell argmax (sim DESC, vec_id ASC).
    from bq_nvd_spark.operators.similarity import QUERY_MAX_ID
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans.similarity_search import _CENT_MAX_ID

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    vecs = {r.vec_id: ([float(x) for x in r.embedding], r.label) for r in rows}
    import math

    def cos_e4(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor(d / (na * nb) * 10000 + 0.5)

    cents = {i: vecs[i][0] for i in vecs if QUERY_MAX_ID <= i < _CENT_MAX_ID}

    def cell_of(v):
        best = None
        for cid in sorted(cents):
            c = cents[cid]
            d = sum(x * y for x, y in zip(v, c))
            nc = math.sqrt(sum(x * x for x in c))
            nv = math.sqrt(sum(x * x for x in v))
            cosv = d / (nv * nc)
            if best is None or cosv > best[0]:
                best = (cosv, cid)
        return best[1]

    cells = {
        i: cell_of(v) for i, (v, _) in vecs.items() if i >= QUERY_MAX_ID
    }
    want = {}
    for i, (v, lab) in vecs.items():
        if i < QUERY_MAX_ID:
            continue
        cands = [
            (cos_e4(v, vecs[j][0]), j)
            for j, c in cells.items()
            if c == cells[i] and vecs[j][1] != lab
        ]
        if cands:
            s, j = max(cands, key=lambda t: (t[0], -t[1]))
            want[i] = (j, s)
    rows2 = QUERIES["hard_negative_mining"](spark, sf_dir).collect()
    got = {r.vec_id: (r.neg_id, r.neg_sim_e4) for r in rows2}
    assert got == want
    for r in rows2:
        assert vecs[r.neg_id][1] != r.label


def test_semdedup_collapses_near_identical_within_cell(spark, tmp_path):
    # Constructed geometry: 16 axis-aligned centroids (vec_ids 5..20),
    # three corpus vectors orthogonal to ALL of them (cosine exactly
    # 0.0 to every centroid, so the argmax tie-break sends all three
    # to cell 5): 21 and 22 are near-identical (cos ~0.976, above
    # SEMDEDUP_TAU_E4), 23 is orthogonal to both. SemDeDup must emit
    # exactly the (21, 22) pair and drop only 22 (the non-min member);
    # the distant 23 and every centroid survive untouched.
    from bq_nvd_spark.operators.checkpoint import release_shared_stages
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.operators.similarity import QUERY_MAX_ID
    from bq_nvd_spark.plans.similarity_search import SEMDEDUP_TAU_E4

    dim = 64

    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    rows = [(5 + j, vec((j, 1.0)), j % 3) for j in range(16)]  # centroids
    rows += [
        (21, vec((20, 0.9), (21, 0.1)), 0),
        (22, vec((20, 0.9), (21, -0.1)), 1),  # cos(21,22) ~ 0.9756
        (23, vec((22, 1.0)), 2),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    pairs = QUERIES["semdedup_pairs"](spark, str(tmp_path)).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(21, 22)]
    assert pairs[0].sim_e4 >= SEMDEDUP_TAU_E4
    survivors = {
        r.vec_id: r.label
        for r in QUERIES["semdedup_survivors"](spark, str(tmp_path)).collect()
    }
    assert set(survivors) == set(range(QUERY_MAX_ID, 21)) | {21, 23}
    assert survivors[21] == 0 and survivors[23] == 2
    # this tmp corpus shares the session-scoped shared_stage cache key
    # namespace with other tests only via its unique sf_dir, but drop
    # it anyway so no later test can observe a stale tmp relation
    release_shared_stages(spark)


def test_proto_rank_kernel_drops_prototype_keeps_outlier(spark):
    # The D4 contract on a hand-built cell: with a 1/4 quota over four
    # members, exactly the near-centroid vector drops and the outlier
    # survives; a cell of identical vectors breaks the tie to the
    # smallest vec_id.
    from bq_nvd_spark.plans.similarity_search import (
        _PROTO_DROP_SPARK,
        proto_rank_kernel,
    )

    def unit(i, x, dim=4):
        v = [0.0] * dim
        v[0] = x
        v[1] = (1 - x * x) ** 0.5
        return v

    assign_rows = [
        # cell 100: cosines 1.0, 0.9, 0.5, 0.0 against centroid e0
        (1, unit(0, 1.0), 1.0, 100),
        (2, unit(0, 0.9), 1.0, 100),
        (3, unit(0, 0.5), 1.0, 100),
        (4, unit(0, 0.0), 1.0, 100),
        # cell 200: four identical vectors — pure tie-break territory
        (11, unit(0, 1.0), 1.0, 200),
        (12, unit(0, 1.0), 1.0, 200),
        (13, unit(0, 1.0), 1.0, 200),
        (14, unit(0, 1.0), 1.0, 200),
    ]
    assign = spark.createDataFrame(
        assign_rows,
        "vec_id long, v array<double>, nrm double, cell long",
    )
    cents = spark.createDataFrame(
        [(100, unit(0, 1.0), 1.0), (200, unit(0, 1.0), 1.0)],
        "cent_id long, cv array<double>, cnrm double",
    )
    ranked = proto_rank_kernel(assign, cents)
    rows = {r.vec_id: r for r in ranked.collect()}
    assert rows[1].cos_cent_e4 == 10000 and rows[4].cos_cent_e4 == 0
    assert all(r.n_cell == 4 for r in rows.values())
    from pyspark.sql import functions as F

    dropped = {
        r.vec_id
        for r in ranked.filter(F.expr(_PROTO_DROP_SPARK)).collect()
    }
    assert dropped == {1, 11}  # the prototype; the smallest-id tie


def test_proto_pruning_census_sums_and_survivors_match(spark, sf_dir):
    # Census arithmetic closes (kept + dropped = population, summed
    # kept = the transform's row count), the quota actually bites on
    # the fixture, and survivors carry no vector ranked inside it.
    from bq_nvd_spark.plans import QUERIES

    census = QUERIES["proto_pruning_census"](spark, sf_dir).collect()
    assert all(r.n_dropped + r.n_kept == r.n_vecs for r in census)
    assert sum(r.n_dropped for r in census) > 0
    assert all(r.n_dropped == (r.n_vecs * 1) // 4 for r in census)
    survivors = QUERIES["proto_pruned_survivors"](spark, sf_dir).collect()
    assert len(survivors) == sum(r.n_kept for r in census)
    assert all(r.top_cos_e4 >= r.min_cos_e4 for r in census)


def test_ivf_recall_census_bounds(spark, sf_dir):
    # Recall accounting: every query retrieves exactly TOP_K ids, hits
    # never exceed retrieved, and the index finds at least part of the
    # exact answer on the fixture (the census is non-degenerate).
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans.similarity_search import TOP_K

    rows = QUERIES["ivf_recall_census"](spark, sf_dir).collect()
    assert len(rows) == 5  # one per query vector
    assert all(r.n_retrieved == TOP_K for r in rows)
    assert all(0 <= r.n_hits <= r.n_retrieved for r in rows)
    assert sum(r.n_hits for r in rows) > 0


def test_ivf_nprobe_sweep_monotone_and_pins_to_recall_census(spark, sf_dir):
    # More probed cells can only add candidates: retrieved and hit
    # counts are non-decreasing in nprobe per query, and the
    # nprobe = IVF_NPROBE rows are exactly ivf_recall_census.
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans.similarity_search import IVF_NPROBE, TOP_K

    rows = QUERIES["ivf_nprobe_sweep"](spark, sf_dir).collect()
    assert len(rows) == 5 * IVF_NPROBE
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.q_id, {})[r.nprobe] = (r.n_retrieved, r.n_hits)
    for q, pts in by_q.items():
        assert set(pts) == set(range(1, IVF_NPROBE + 1))
        for np_ in range(2, IVF_NPROBE + 1):
            assert pts[np_][0] >= pts[np_ - 1][0], (q, np_)
            assert pts[np_][1] >= pts[np_ - 1][1], (q, np_)
        assert pts[IVF_NPROBE][0] <= TOP_K
    census = {
        r.q_id: (r.n_retrieved, r.n_hits)
        for r in QUERIES["ivf_recall_census"](spark, sf_dir).collect()
    }
    assert {q: pts[IVF_NPROBE] for q, pts in by_q.items()} == census


def test_d4_pipeline_rederives_quota_over_semdedup_survivors(spark, sf_dir):
    # The composition contract: pipeline output is a subset of the
    # SemDeDup survivors, and its size per cell is exactly
    # n_surviving_cell_members - floor(n/4) - i.e. the proto quota
    # re-derived over the POST-dedup population, not the full cell.
    from collections import Counter

    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans.similarity_search import (
        _ivf_assign_and_probes,
        _semdedup_dropped,
    )

    pipe = QUERIES["d4_pipeline_survivors"](spark, sf_dir).collect()
    sem = {
        r.vec_id
        for r in QUERIES["semdedup_survivors"](spark, sf_dir).collect()
    }
    assert {r.vec_id for r in pipe} <= sem
    assign, _ = _ivf_assign_and_probes(spark, sf_dir)
    dropped = {r.vec_id for r in _semdedup_dropped(spark, sf_dir).collect()}
    cell_pop = Counter(
        r.cell
        for r in assign.select("vec_id", "cell").collect()
        if r.vec_id not in dropped
    )
    expect = {c: n - (n * 1) // 4 for c, n in cell_pop.items()}
    got = Counter(r.cell for r in pipe)
    assert dict(got) == {c: n for c, n in expect.items() if n > 0}


def test_dedup_and_retrieval_idioms_have_one_definition():
    """The near-dup closure and the retrieval idioms each have one home
    (operators/graph.py, operators/similarity.py) that every dedup and
    retrieval family calls: one ``connected_components`` call site, one
    recursive ``walk`` CTE, one (sim DESC, vec_id ASC) top-k window, one
    ``TOP_K`` and one ``QUERY_MAX_ID`` in the engine; one cosine per
    engine and one DuckDB fold-dot text. The E3 plan modules memoize
    through ``shared_stage`` only: no ``stage_checkpoint`` call."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    needles = {
        "connected_components(": 0,
        "walk(id, rep) AS (": 0,
        'partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))': 0,
        "TOP_K = 10": 0,
        "QUERY_MAX_ID = 5": 0,
    }
    patterns = {
        # the Spark cosine: fold dot over the norm product
        r'fold_dot_np\("?\w+"?, "?\w+"?\) / \(': 0,
        # the DuckDB cosine
        r"duck_fold_dot\([^)]*\)\} / \(": 0,
        # the DuckDB fold-dot text
        r'list_transform\(range\(1, .*?\),[\s"f]*i -> \S+\[i\] \* \S+\[i\]': 0,
    }
    e3_plans = {"similarity_search.py", "quantization.py", "pq.py"}
    checkpoints = 0
    for dirpath, _, files in os.walk(os.path.join(root, "bq_nvd_spark")):
        for name in files:
            if not name.endswith(".py"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                text = fh.read()
            for line in text.splitlines():
                for needle in needles:
                    if needle in line and "def connected_components(" not in line:
                        needles[needle] += 1
            for pattern in patterns:
                patterns[pattern] += len(re.findall(pattern, text))
            if name in e3_plans and dirpath.endswith("plans"):
                checkpoints += text.count("stage_checkpoint(")
    assert needles == dict.fromkeys(needles, 1), needles
    assert patterns == dict.fromkeys(patterns, 1), patterns
    assert checkpoints == 0


def test_semantic_dedup_closure_is_memoized(spark, sf_dir, monkeypatch):
    """A second semantic_dedup_survivors build reads the memoized closure:
    no connected-components round (no ``stage_checkpoint`` in
    operators/graph.py) runs again, and the result is unchanged."""
    from bq_nvd_spark.operators import graph
    from bq_nvd_spark.operators.checkpoint import release_shared_stages
    from bq_nvd_spark.plans import QUERIES

    calls = []
    real = graph.stage_checkpoint

    def counting(df, **kw):
        calls.append(1)
        return real(df, **kw)

    monkeypatch.setattr(graph, "stage_checkpoint", counting)
    release_shared_stages(spark)
    first = sorted(QUERIES["semantic_dedup_survivors"](spark, sf_dir).collect())
    cold = len(calls)
    second = sorted(QUERIES["semantic_dedup_survivors"](spark, sf_dir).collect())
    assert cold > 0
    assert len(calls) == cold
    assert first and first == second


@pytest.mark.parametrize(
    "name, keys",
    [
        ("quantized_cosine_topk", ["sq8_normed"]),
        ("pq_adc_recall_topk", ["pq_codes", "pq_exact_scored"]),
        ("ivf_refined_topk", ["ivf_refined_cents"]),
        ("mmr_diverse_topk", ["mmr_pool"]),
        ("mmr_ann_diverse_topk", ["mmr_ann_pool"]),
    ],
)
def test_e3_sf_dir_relations_are_memoized(spark, sf_dir, monkeypatch, name, keys):
    """Every E3 relation that depends only on sf_dir is a session memo:
    the first build leaves the query's ``shared_stage`` entries, a
    second build makes no ``stage_checkpoint`` call and no PQ codebook
    collect, and the result is unchanged."""
    import sys

    from bq_nvd_spark.operators import checkpoint
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stages,
        shared_stage_peek,
    )
    from bq_nvd_spark.plans import QUERIES
    from bq_nvd_spark.plans import pq as pq_mod

    calls = []

    def counting(real, tag):
        def wrapped(*args, **kwargs):
            calls.append(tag)
            return real(*args, **kwargs)

        return wrapped

    real_checkpoint = checkpoint.stage_checkpoint
    for mod in list(sys.modules.values()):
        if (
            getattr(mod, "__name__", "").startswith("bq_nvd_spark")
            and getattr(mod, "stage_checkpoint", None) is real_checkpoint
        ):
            monkeypatch.setattr(
                mod, "stage_checkpoint", counting(real_checkpoint, "checkpoint")
            )
    monkeypatch.setattr(
        pq_mod, "make_pq_encoder", counting(pq_mod.make_pq_encoder, "encoder")
    )
    release_shared_stages(spark)
    first = sorted(QUERIES[name](spark, sf_dir).collect())
    assert all(shared_stage_peek(spark, (k, sf_dir)) is not None for k in keys)
    del calls[:]
    second = QUERIES[name](spark, sf_dir)
    assert calls == []
    assert first and first == sorted(second.collect())


# --------------------------------------------------------------------------
# Optimization round 17: the PQ encode moved from a corpus×K crossJoin
# + groupBy-argmin (two 64-dim vectors through Arrow per candidate
# pair) to a single-pass Arrow kernel closing over the broadcast
# codebook. This parity test re-runs the ORIGINAL formulation and
# requires code-for-code equality — the argmin value (d = aa − 2ab +
# cc, cumsum-fold reductions) and its smallest-cid tie-break must be
# bit-identical, or the ADC shortlist (and with it the recall gate the
# driver hashes) could silently drift.
def test_pq_encode_kernel_matches_crossjoin_argmin(spark, sf_dir):
    from pyspark.sql.window import Window

    from bq_nvd_spark.operators.similarity import (
        PQ_M,
        QUERY_MAX_ID,
        normed_corpus,
        subspace_dots_np,
    )
    from bq_nvd_spark.plans.pq import K_CENTROIDS
    from bq_nvd_spark.plans import pq as pq_mod

    corpus = normed_corpus(spark, sf_dir).filter(
        F.col("vec_id") >= QUERY_MAX_ID
    )
    # the original encode, verbatim: md5-ordered seeds, aa/ab/cc via
    # subspace_dots_np, min-of-struct argmin with cid tie-break
    md5_key = F.md5(F.col("vec_id").cast("string"))
    w_seed = Window.orderBy("seed_key")
    seeds = (
        corpus.select(md5_key.alias("seed_key"), F.col("v").alias("cv"))
        .orderBy("seed_key")
        .limit(K_CENTROIDS)
        .select(
            (F.row_number().over(w_seed) - 1).alias("cid"),
            "cv",
            subspace_dots_np("cv", "cv").alias("cc"),
        )
    )
    enc = (
        corpus.select(
            "vec_id", "v", subspace_dots_np("v", "v").alias("aa")
        )
        .crossJoin(F.broadcast(seeds))
        .withColumn("ab", subspace_dots_np("v", "cv"))
    )

    def _dist(m):
        return (
            F.element_at("aa", m + 1)
            - 2 * F.element_at("ab", m + 1)
            + F.element_at("cc", m + 1)
        )

    old = {
        r["vec_id"]: tuple(r[f"code_{m}"] for m in range(PQ_M))
        for r in enc.groupBy("vec_id")
        .agg(
            *[
                F.min(
                    F.struct(_dist(m).alias("d"), F.col("cid").alias("cid"))
                )
                .getField("cid")
                .alias(f"code_{m}")
                for m in range(PQ_M)
            ]
        )
        .collect()
    }

    out = pq_mod.pq_adc_recall_topk(spark, sf_dir)
    assert out.count() > 0  # the registered plan still runs end-to-end

    # The new kernel's codes via the PRODUCTION math itself — the same
    # pq_codebook_matrices + pq_encode_codes the registered query's
    # make_pq_encoder closure executes per Arrow batch — so a bug in
    # the production encode (wrong argmin axis, transposed reshape)
    # fails THIS assert, not just the recall bound.
    import numpy as np

    from bq_nvd_spark.operators.similarity import (
        pq_codebook_matrices,
        pq_encode_codes,
    )

    seed_rows = seeds.select("cid", "cv").collect()
    cb, cc_mat = pq_codebook_matrices(seed_rows)
    new = {}
    for r in corpus.select("vec_id", "v").collect():
        mv = np.asarray(r["v"], dtype="float64").reshape(1, PQ_M, -1)
        codes = pq_encode_codes(mv, cb, cc_mat)
        new[r["vec_id"]] = tuple(int(x) for x in codes[0])

    assert old == new


def test_simhash_shared_sig_memo_matches_bypass(spark, sf_dir):
    # The round-17 shared signature relation must be content-identical
    # to the direct kernel run (the memo changes WHEN the kernel runs,
    # never what it computes) — and non-empty, so the equality is not
    # vacuous.
    from bq_nvd_spark.operators import checkpoint as cp
    from bq_nvd_spark.plans.llm import _simhash_sig_rel

    cp.release_shared_stages(spark)
    try:
        memo = {
            (r.doc_id, r.simhash)
            for r in _simhash_sig_rel(spark, sf_dir).collect()
        }
        flag = cp.AUDIT_BYPASS_SHARED
        cp.AUDIT_BYPASS_SHARED = True
        try:
            direct = {
                (r.doc_id, r.simhash)
                for r in _simhash_sig_rel(spark, sf_dir).collect()
            }
        finally:
            cp.AUDIT_BYPASS_SHARED = flag
        assert memo and memo == direct
    finally:
        cp.release_shared_stages(spark)


def _planted_near_dup_corpus(seed: int = 7):
    """The seeded MinHash recall corpus: 2,000 background documents of
    40 tokens from a 5,000-token vocabulary; 300 planted pairs whose
    partner replaces 1..8 tokens (bigram-shingle Jaccard ~0.90 down to
    ~0.42); 40 pairs whose partner replaces only the first token
    (Jaccard 0.95); and a 120-member cluster, each member the same base
    document plus two unique appended tokens (pairwise Jaccard ~0.91),
    so its level-1 buckets are oversized and refinement splits them.
    Returns ``(docs, cluster_ids)`` with ``docs`` as (doc_id, tokens)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    docs: list[tuple[int, list[str]]] = []

    def fresh() -> list[str]:
        return [f"t{k}" for k in rng.integers(0, 5000, size=40)]

    for _ in range(2000):
        docs.append((len(docs), fresh()))
    for i in range(340):
        base = fresh()
        partner = list(base)
        if i < 300:
            for pos in rng.choice(40, size=1 + i % 8, replace=False):
                partner[pos] = f"p{len(docs)}x{pos}"
        else:
            partner[0] = f"h{len(docs)}"
        docs.append((len(docs), base))
        docs.append((len(docs), partner))
    cluster_base = fresh()
    cluster_ids = []
    for _ in range(120):
        cluster_ids.append(len(docs))
        docs.append((len(docs), cluster_base + [f"c{len(docs)}x{k}" for k in range(2)]))
    return docs, cluster_ids


def _shingle_jaccard_pairs(docs, j_min: float) -> dict:
    """Exact bigram-shingle Jaccard of every pair at or above ``j_min``,
    scoring only pairs that share a shingle (inverted index)."""
    from collections import Counter, defaultdict

    sh = {i: {f"{a} {b}" for a, b in zip(t, t[1:])} for i, t in docs}
    postings = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            postings[g].append(i)
    shared = Counter()
    for ids in postings.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                shared[(ids[x], ids[y])] += 1
    out = {}
    for (a, b), c in shared.items():
        j = c / (len(sh[a]) + len(sh[b]) - c)
        if j >= j_min:
            out[(a, b)] = j
    return out


def test_minhash_recall_gate_on_planted_near_dups(spark, tmp_path):
    """MinHash-LSH recall on realistic near-duplicates, through the
    registered queries. Candidate pairs (``minhash_pairs_capped``) must
    recall the non-cluster true pairs of each shingle-Jaccard stratum,
    verified pairs (``jaccard_verified_pairs``) those above the verify
    threshold, and the 120-member cluster, which rides the capped
    refine-then-star path, must close into one component over verified
    pairs. Floors sit below the values measured at 4 bands of 4 hashes
    (candidate 0.64/0.92/1.00/1.00, verified 1.0; SCALE.md)."""
    from bq_nvd_spark.operators.checkpoint import release_shared_stages
    from bq_nvd_spark.plans import QUERIES

    docs, cluster_ids = _planted_near_dup_corpus()
    spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs], "doc_id long, text string"
    ).coalesce(4).write.parquet(str(tmp_path / "documents.parquet"))
    cluster = set(cluster_ids)
    truth = {p: j for p, j in _shingle_jaccard_pairs(docs, 0.4).items()
             if not (p[0] in cluster and p[1] in cluster)}

    def recall(found, lo, hi):
        pool = [p for p, j in truth.items() if lo <= j < hi]
        assert pool, (lo, hi)
        return sum(p in found for p in pool) / len(pool)

    try:
        candidates = {(r.doc_a, r.doc_b) for r in QUERIES["minhash_pairs_capped"](
            spark, str(tmp_path)).select("doc_a", "doc_b").collect()}
        verified = {(r.doc_a, r.doc_b) for r in QUERIES["jaccard_verified_pairs"](
            spark, str(tmp_path)).select("doc_a", "doc_b").collect()}
    finally:
        release_shared_stages(spark)

    for lo, hi, floor in ((0.4, 0.6, 0.5), (0.6, 0.8, 0.8), (0.8, 0.95, 0.95),
                          (0.95, 1.01, 0.95)):
        assert recall(candidates, lo, hi) >= floor, ("candidate", lo, hi)
    for lo, hi, floor in ((0.8, 0.9, 0.75), (0.9, 0.95, 0.9), (0.95, 1.01, 0.9)):
        assert recall(verified, lo, hi) >= floor, ("verified", lo, hi)

    parent = {i: i for i in cluster_ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in verified:
        if a in cluster and b in cluster:
            parent[find(a)] = find(b)
    components = {find(i) for i in cluster_ids}
    assert len(components) == 1, f"{len(components)} components"
