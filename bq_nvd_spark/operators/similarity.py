"""E3 similarity search — the vector kit and the bucketed ANN scale path.

**The vector kit** is the one definition of each retrieval idiom that
every E3 plan module (``plans/similarity_search.py``, ``plans/pq.py``,
``plans/quantization.py``, ``plans/llm.py::cosine_topk``) calls, Spark
side and oracle side:

- ``QUERY_MAX_ID`` — the query/corpus split (vec_id < 5 are queries);
- ``cosine`` / ``cos_e4`` and ``duck_cosine`` / ``duck_cos_e4`` — the
  fold-ordered cosine and its e4 floor, ``floor(cos * 10000 + 0.5)``;
- ``normed_corpus`` / ``DUCK_NORMS_CTE`` — the session-memoized
  (vec_id, v, nrm) relation;
- ``score_query_set`` / ``DUCK_QUERY_SET_SCORED`` — the query set
  broadcast against the corpus and scored;
- ``top_k_per_query`` / ``DUCK_TOP_K_TAIL`` — the (sim DESC, vec_id
  ASC) top-``TOP_K`` window.

Brute-force cosine top-k (``plans/llm.py::cosine_topk``) is exact but
O(N·Q): every query batch rescans the full corpus. This module adds the
100 TB path: **sign-LSH (random-hyperplane) bucketing**.

- ``N_BITS`` deterministic ±1 hyperplanes are generated from md5 (pure
  Python at plan-build time) and embedded as literals in BOTH the Spark
  plan and the DuckDB oracle, so the two engines compute identical
  signatures — no RNG, no state.
- Each vector's bits (sign of vector·hyperplane) fold into
  ``N_BANDS`` band-bucket ids (banding trades precision for recall the
  same way MinHash-LSH does).
- Candidates = (query, corpus) pairs sharing ANY band bucket — an
  equi-join on (band, bucket), which shuffles on uniformly-distributed
  hash-like keys instead of cross-joining the corpus.
- Candidates are re-ranked with the exact fold-ordered cosine and
  windowed to top-k.

At 100 TB the corpus side computes signatures in a single projection
(no shuffle), the bucket join replaces the O(N·Q) scan, and bucket
occupancy is tunable via N_BITS (more bits → smaller buckets → fewer
candidates per query).

All float reductions are sequential left-folds with 0.0 init in both
engines; similarity is rounded with floor(x*1e4+0.5)/1e4, which
evaluates bit-identically in IEEE-754 doubles (see plans/nested.py for
why ROUND is not cross-engine-safe).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType
from pyspark.sql.window import Window

from bq_nvd_spark.operators.checkpoint import shared_stage
from bq_nvd_spark.sources.tables import load_table

DIM = 64
N_BANDS = 4
BITS_PER_BAND = 8
N_BITS = N_BANDS * BITS_PER_BAND
TOP_K = 10  # neighbours kept per query by every E3 top-k query


def _plane_component(bit: int, i: int) -> float:
    """Deterministic ±1: parity of the first hex nibble of
    md5('plane:{bit}:{i}')."""
    h = hashlib.md5(f"plane:{bit}:{i}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 1 else -1.0


def hyperplanes() -> list[list[float]]:
    """N_BITS hyperplanes of DIM ±1 components, fixed for all time."""
    return [
        [_plane_component(bit, i) for i in range(DIM)] for bit in range(N_BITS)
    ]


_PLANES = hyperplanes()


# -- Spark side ------------------------------------------------------------
def fold_dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product — deterministic float order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def top_k_per_query(scored: DataFrame) -> DataFrame:
    """The ``TOP_K`` best rows per query of a (q_id, vec_id, sim)
    relation: ``sim`` descending, ties to the smaller ``vec_id``, so
    the kept set is unique and cross-engine hashable. The oracle twin
    is ``DUCK_TOP_K_TAIL``."""
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.select("q_id", "vec_id", "sim", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def sorted_pairs(arr: str, a_name: str, b_name: str) -> Column:
    """Every (a, b) with a before b in the array column ``arr``, as an
    array of structs with fields ``a_name`` and ``b_name`` — on a
    sorted, duplicate-free array, all pairs with a < b:
    ``flatten(transform(arr, (a, i) -> transform(slice(arr, i + 2,
    size(arr)), b -> struct(a, b))))``. The two-parameter lambda is the
    intentional (element, index) form of HOF lambdas. Explode the result
    for one row per pair, without a self-join.
    """
    return F.flatten(
        F.transform(
            arr,
            lambda a, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda b: F.struct(a.alias(a_name), b.alias(b_name)),
            ),
        )
    )


def _planes_lit() -> Column:
    """All N_BITS hyperplanes as ONE array<array<double>> literal.

    A single nested literal keeps the expression tree small: the naive
    form (one expanded dot product per bit, each with its own 64-literal
    plane) blows past Janino's method-size limit, knocking the whole
    projection out of whole-stage codegen into interpreted eval.
    """
    return F.array(
        *[F.array(*[F.lit(c) for c in row]) for row in _PLANES]
    )


def band_buckets(vec: Column | str) -> Column:
    """array<int> of N_BANDS bucket ids for a double-array column.

    Bit j of band b is sign(vec · plane[b*BITS_PER_BAND + j]); the band
    bucket is the little-endian integer of its bits. One ``transform``
    over the plane array computes every bit, then each band folds its
    slice of bits against a weight vector. Pure per-row projection:
    zero shuffle, codegen-sized expressions.
    """
    bits = F.transform(
        _planes_lit(),
        lambda p: F.when(fold_dot(vec, p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    weights = F.array(*[F.lit(1 << j) for j in range(BITS_PER_BAND)])
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(bits, b * BITS_PER_BAND + 1, BITS_PER_BAND),
                    weights,
                    lambda x, w: x * w,
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            for b in range(N_BANDS)
        ]
    )


@pandas_udf(DoubleType())
def fold_dot_np(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized twin of ``fold_dot`` with BIT-IDENTICAL results.

    ``fold_dot`` is a sequential left-fold (0.0 init) — deterministic
    but interpreted: HOFs never enter whole-stage codegen, so every
    candidate re-rank pays ~64 interpreted lambda evaluations per pair.
    ``np.cumsum(axis=1)`` accumulates strictly left-to-right in the SAME
    IEEE-754 order (0.0 + x0 == x0 exactly), so taking the last partial
    sum reproduces the fold's every rounding step while the elementwise
    product and accumulation run as C loops over the Arrow batch. This
    is NOT ``np.sum`` / BLAS dot, whose pairwise/SIMD summation reorders
    additions and could flip a floor-rounded value at a boundary.
    """
    ma = np.vstack(a.to_numpy())
    mb = np.vstack(b.to_numpy())
    return pd.Series(np.cumsum(ma * mb, axis=1)[:, -1])


# Extra sign bits for refining OVERSIZED LSH buckets (the
# EMB_BUCKET_CAP star path, plans/similarity_search.py): the md5 plane
# generator is open-ended, so these planes simply continue the sequence
# past N_BITS — fixed for all time, disjoint from every band bit, and
# identical in the DuckDB oracle. 16 bits = 65536 sub-buckets: members
# of a mega-bucket that are NOT near-duplicates of each other almost
# surely land in different sub-buckets (agreeing on all 16 extra signs
# requires near-zero angle), so the bottom-level star anchors on a true
# near-duplicate instead of an arbitrary bucket-mate. Each band refines
# on its OWN 16 planes (band b → bits N_BITS + b·REFINE_BITS …): with a
# shared refine partition, one borderline plane (a near-zero dot for a
# duplicate cluster's center) would split the cluster IDENTICALLY in
# every band, defeating the multi-band recovery; independent per-band
# refine planes make the split boundaries differ, and the union of the
# per-band stars reconnects the cluster (pinned by
# tests/test_similarity_ops.py::test_emb_refine_protects_cluster_from_outsider_anchor).
REFINE_BITS = 16
_REFINE_PLANES_ALL = [
    [_plane_component(N_BITS + bit, i) for i in range(DIM)]
    for bit in range(N_BANDS * REFINE_BITS)
]


@pandas_udf(IntegerType())
def refine_bucket_np(vecs: pd.Series, band_idx: pd.Series) -> pd.Series:
    """Sub-bucket id from the row's band-specific refine planes.

    Same matmul-sign kernel as ``band_buckets_np`` — one matmul against
    all N_BANDS·REFINE_BITS planes, then each row keeps its band's
    16-bit slice. Planes are sliced to the row dimension so unit-test
    fixtures with short vectors work (real corpora are DIM-dimensional
    and use every component)."""
    planes_t = np.asarray(_REFINE_PLANES_ALL).T  # (DIM, N_BANDS*REFINE_BITS)
    mat = np.vstack(vecs.to_numpy())
    bits = (mat @ planes_t[: mat.shape[1], :]) > 0
    sel = np.take_along_axis(
        bits,
        band_idx.to_numpy().astype(np.int64)[:, None] * REFINE_BITS
        + np.arange(REFINE_BITS)[None, :],
        axis=1,
    )
    weights = 1 << np.arange(REFINE_BITS)
    return pd.Series((sel @ weights).astype("int32"))


def duck_refine_bucket_case(vec: str, band_idx: str) -> str:
    """DuckDB twin of ``refine_bucket_np`` — identical plane literals,
    dispatched lazily on the band column (CASE arms evaluate only for
    the matching band, and callers apply the expression only to members
    of OVERSIZED buckets; computing all bands' refine folds for every
    vector made the oracle ~6× slower for nothing at fixture SFs,
    where oversized buckets are rare or absent).

    Matmul-sign vs fold-sign agreement: the dot against a ±1 plane is
    O(0.1) for unit-scale vectors while float reorder error is ~1e-13,
    the same argument ``band_buckets_np`` documents."""
    arms = []
    for b in range(N_BANDS):
        bits = []
        for j in range(REFINE_BITS):
            plane = "[" + ", ".join(
                f"{c:.1f}" for c in _REFINE_PLANES_ALL[b * REFINE_BITS + j]
            ) + "]"
            bits.append(
                f"CASE WHEN {duck_fold_dot(vec, plane)} > 0 THEN {1 << j} ELSE 0 END"
            )
        arms.append(f"WHEN {b} THEN " + " + ".join(bits))
    return f"(CASE {band_idx} " + " ".join(arms) + " END)"


@pandas_udf(ArrayType(IntegerType()))
def band_buckets_np(vecs: pd.Series) -> pd.Series:
    """Vectorized twin of ``band_buckets`` — one numpy matmul per Arrow
    batch instead of ~4k interpreted lambda evaluations per row.

    Higher-order functions never enter whole-stage codegen, so the HOF
    formulation pays interpreted-eval overhead per element; at 2048
    multiply-adds per row that overhead IS the signature stage's cost.
    This is the sanctioned escape hatch (§2.10): batch the rows through
    Arrow and let BLAS do the arithmetic.

    Sign agreement with the fold-ordered formulation (and the DuckDB
    oracle) holds whenever no |dot| falls within float-reorder error
    (~1e-13) of zero — with ±1 planes and unit-scale vectors the dots
    are O(0.1), and ``tests/test_similarity_ops.py`` pins exact
    equality of both formulations on the test corpus.
    """
    planes_t = np.asarray(_PLANES).T  # (DIM, N_BITS)
    weights = 1 << np.arange(BITS_PER_BAND)
    mat = np.vstack(vecs.to_numpy())  # (n, DIM)
    bits = (mat @ planes_t) > 0  # (n, N_BITS)
    bands = np.stack(
        [
            bits[:, b * BITS_PER_BAND : (b + 1) * BITS_PER_BAND] @ weights
            for b in range(N_BANDS)
        ],
        axis=1,
    ).astype("int32")
    return pd.Series(list(bands))


# -- DuckDB oracle side ----------------------------------------------------
#: Twin of ``top_k_per_query``: the tail of an oracle whose ``scored``
#: CTE holds (q_id, vec_id, sim), placed after the caller's ``SELECT``
#: list.
DUCK_TOP_K_TAIL = f"""FROM (
      SELECT q_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY sim DESC, vec_id) AS rn
      FROM scored
    )
    WHERE rn <= {TOP_K}"""


def duck_fold_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {DIM + 1}), "
        f"i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
    )


# -- The E3 vector kit -----------------------------------------------------
QUERY_MAX_ID = 5  # vec_id < 5 are the query set, the rest the corpus


def cosine(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of the vector columns ``a``/``b`` with norm columns
    ``na``/``nb``: the Arrow fold dot over the norm product."""
    return fold_dot_np(a, b) / (F.col(na) * F.col(nb))


def cos_e4(a: str, b: str, na: str, nb: str) -> Column:
    """``cosine`` floored to integer 1e-4 units, ``floor(cos * 10000 +
    0.5)`` — bit-identical in both engines, where ROUND is not (see
    plans/nested.py). A double: callers divide by 10000 for a display
    sim or cast to long for integer compares."""
    return F.floor(cosine(a, b, na, nb) * 10000 + 0.5)


def duck_cosine(a: str, b: str, na: str, nb: str) -> str:
    """DuckDB twin of ``cosine``."""
    return f"{duck_fold_dot(a, b)} / ({na} * {nb})"


def duck_cos_e4(a: str, b: str, na: str, nb: str) -> str:
    """DuckDB twin of ``cos_e4``."""
    return f"FLOOR({duck_cosine(a, b, na, nb)} * 10000 + 0.5)"


def normed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<double>, nrm) over the embeddings table — the
    normed relation every E3 consumer reads, ``shared_stage``-memoized
    per (application, sf_dir). The repartition spreads a toy
    single-file corpus across cores for the Arrow norm kernel; real
    inputs arrive already partitioned and skip straight through."""

    def build() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .repartition(spark.sparkContext.defaultParallelism, "vec_id")
            .select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
        )
        return emb.select(
            "vec_id", "v", F.sqrt(fold_dot_np("v", "v")).alias("nrm")
        )

    return shared_stage(spark, ("ivf_norms", sf_dir), build)


def score_query_set(normed: DataFrame, *keep: str) -> DataFrame:
    """Every (query, corpus) pair of a (vec_id, v, nrm) relation,
    scored: the ``QUERY_MAX_ID``-bounded query set is broadcast against
    the corpus side, so the corpus never shuffles and each corpus row
    pays one fold per query. Returns (q_id, vec_id, *keep, sim_e4),
    ``keep`` naming corpus columns to carry along and ``sim_e4`` the
    ``cos_e4`` double. The oracle twin is ``DUCK_QUERY_SET_SCORED``."""
    q = normed.filter(F.col("vec_id") < QUERY_MAX_ID).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = normed.filter(F.col("vec_id") >= QUERY_MAX_ID)
    return c.crossJoin(F.broadcast(q)).select(
        "q_id", "vec_id", *keep, cos_e4("qv", "v", "qn", "nrm").alias("sim_e4")
    )


#: Twin of ``normed_corpus`` as oracle CTEs: ``e`` (raw vectors) and
#: ``n`` = (vec_id, v, nrm).
DUCK_NORMS_CTE = f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS MATERIALIZED (
      SELECT vec_id, v, SQRT({duck_fold_dot('v', 'v')}) AS nrm FROM e
    )"""

#: Twin of ``score_query_set`` over an ``n`` = (vec_id, v, nrm) CTE, as
#: the ``scored`` (q_id, vec_id, sim) CTE that ``DUCK_TOP_K_TAIL``
#: reads; sim is the e4 floor over 10000.
DUCK_QUERY_SET_SCORED = f"""scored AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             {duck_cos_e4('q.v', 'c.v', 'q.nrm', 'c.nrm')} / 10000 AS sim
      FROM n q JOIN n c
        ON q.vec_id < {QUERY_MAX_ID} AND c.vec_id >= {QUERY_MAX_ID}
    )"""


def duck_band_buckets(vec: str) -> str:
    """DuckDB twin of band_buckets — identical plane literals, identical
    fold order."""
    bands = []
    for b in range(N_BANDS):
        bits = []
        for j in range(BITS_PER_BAND):
            bit = b * BITS_PER_BAND + j
            plane = "[" + ", ".join(
                f"{c:.1f}" for c in _PLANES[bit]
            ) + "]"
            bits.append(
                f"CASE WHEN {duck_fold_dot(vec, plane)} > 0 THEN {1 << j} ELSE 0 END"
            )
        bands.append(" + ".join(bits))
    return "[" + ", ".join(bands) + "]"


# -- Product-quantization kernels (plans/pq.py) ----------------------------
PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace


@pandas_udf(ArrayType(DoubleType()))
def subspace_dots_np(a: pd.Series, b: pd.Series) -> pd.Series:
    """Per-subspace dot products: array of PQ_M values per row pair.

    Same cumsum-left-fold discipline as ``fold_dot_np`` — the reduction
    order within each subspace is strictly sequential, so results are
    independent of Arrow batch composition (a row's value never changes
    when the executor re-batches it, which keeps PQ code assignment
    deterministic across cluster layouts).
    """
    ma = np.vstack(a.to_numpy()).reshape(-1, PQ_M, PQ_SUB)
    mb = np.vstack(b.to_numpy()).reshape(-1, PQ_M, PQ_SUB)
    dots = np.cumsum(ma * mb, axis=2)[:, :, -1]  # (n, PQ_M)
    return pd.Series(list(dots))


def pq_codebook_matrices(seed_rows, pq_m: int = PQ_M):
    """(cb, cc_mat) numpy pair from collected (cid, cv) codebook rows:
    the (K, PQ_M, SUB) centroid subvector tensor sorted by cid, and its
    per-subspace self-dots under the same cumsum left-fold as
    ``subspace_dots_np``. Pure math — shared by the production encoder
    below and the code-parity test, so the two cannot drift."""
    cb = np.array(
        [r["cv"] for r in sorted(seed_rows, key=lambda r: r["cid"])],
        dtype="float64",
    ).reshape(-1, pq_m, DIM // pq_m)
    cc_mat = np.cumsum(cb * cb, axis=2)[:, :, -1]  # (K, PQ_M)
    return cb, cc_mat


def pq_encode_codes(mv: "np.ndarray", cb_m: "np.ndarray", cc_m: "np.ndarray"):
    """PQ codes for a stacked (n, PQ_M, SUB) vector tensor: nearest
    centroid per subspace via d² = (aa − 2·ab) + cc with every dot a
    cumsum left-fold and ``np.argmin`` keeping the FIRST minimum —
    exactly the min-of-struct (d, cid) tie-break of the crossJoin
    formulation this kernel replaced (pinned by the parity test)."""
    aa = np.cumsum(mv * mv, axis=2)[:, :, -1]  # (n, PQ_M)
    # ab[i, k, m] — cumsum fold over the subspace axis
    ab = np.cumsum(
        mv[:, None, :, :] * cb_m[None, :, :, :], axis=3
    )[:, :, :, -1]  # (n, K, PQ_M)
    d = (aa[:, None, :] - 2 * ab) + cc_m[None, :, :]  # (n, K, PQ_M)
    return np.argmin(d, axis=1).astype("int64")  # first min == smallest cid


def make_pq_encoder(spark, seeds):
    """The single-pass PQ encode kernel: collect the bounded codebook
    (≤ K_CENTROIDS = 64 rows — a documented bounded-collect site, the
    same driver-materialization class as the rank-select histograms in
    ``operators/rank_select.py``), ship it as a broadcast variable, and
    return an Arrow kernel that encodes each corpus vector in ONE pass
    (guide §3.2/§4 — the crossJoin + groupBy-argmin it replaced pushed
    ~130 MB of vector pairs through the Arrow boundary per run)."""
    from pyspark.sql.types import LongType

    seed_rows = seeds.collect()  # bounded: ≤ K_CENTROIDS rows
    bc = spark.sparkContext.broadcast(pq_codebook_matrices(seed_rows))

    @pandas_udf(ArrayType(LongType()))
    def pq_encode_np(vs: "pd.Series") -> "pd.Series":
        cb_m, cc_m = bc.value  # (K, PQ_M, SUB), (K, PQ_M)
        mv = np.vstack(vs.to_numpy()).reshape(-1, PQ_M, cb_m.shape[2])
        return pd.Series(list(pq_encode_codes(mv, cb_m, cc_m)))

    return pq_encode_np
