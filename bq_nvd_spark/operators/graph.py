"""Connected components — the finishing step of near-dedup at scale.

Candidate-pair generation (MinHash/SimHash buckets) and verification
(exact Jaccard) emit PAIRS; deduplication needs CLUSTERS: the
transitive closure of "is a near-duplicate of", with one canonical
representative per cluster (conventionally the minimum id — the row a
pipeline keeps). The reference has no such operator (its dedup is
exact-keyed, bq_nvd/etl.py:80-92); this is part of the
LLM-data-pipeline extension surface.

Algorithm: min-label propagation. Every vertex starts labeled with its
own id; each round, a vertex takes the minimum label among itself and
its neighbors; at the fixpoint every vertex carries the minimum id
reachable from it — the component representative. Deterministic (pure
integer min over an order-free set), so it is oracle-checkable against
a recursive-CTE transitive closure.

Scale shape (100 TB): each round is one self-contained
join(edges ⋈ labels) + groupBy-min — both shuffles keyed on vertex id,
partial-min combining map-side. Rounds = graph diameter, which for
near-dup clusters is tiny (near-duplicate sets are cliques or
clique-ish, diameter 1-2; pathological chains are bounded by
``max_iter``). The driver-side loop iterates over ROUNDS, never rows —
per-round state lives in a DataFrame, and ``stage_checkpoint`` truncates
the growing lineage so round N's plan doesn't replay rounds 0..N-1.
GraphFrames/GraphX implement the same pattern with large/small-star
optimizations; this dependency-free form keeps the repo self-contained.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.operators.checkpoint import (
    release_checkpoint,
    shared_stage,
    stage_checkpoint,
)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every vertex of ``edges``; cluster_id is the
    minimum vertex id in the component. Vertices are exactly the ids
    appearing in the edge list (isolated rows never enter a pair set —
    callers union them back as their own singletons if needed).
    """
    # Materialize the edge list ONCE, BEFORE symmetrizing: every round
    # joins against it, and without the checkpoint each round would
    # replay the whole upstream plan that produced the edges (for dedup
    # clusters, the entire LSH + verification pipeline — measured 3×
    # the cost). The symmetric union is built FROM the checkpoint, not
    # around it: Spark evaluates identical union branches separately
    # (no cross-branch exchange reuse), so union-then-checkpoint ran
    # the upstream pair plan TWICE — flipping a checkpointed two-column
    # relation is a per-round projection over materialized blocks
    # instead (measured on semantic_dedup_survivors at sf0.1:
    # 6.4 → 4.7 s once the round-11 three-branch pair plan made each
    # extra evaluation expensive). stage_checkpoint upgrades to a
    # reliable (checkpoint-dir) variant on clusters where executor
    # loss must not kill the iteration.
    e0 = stage_checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    # The symmetric relation is ALSO checkpointed — built from e0's
    # blocks (a projection + union, no upstream replay), it gives every
    # round a single materialized join input instead of re-unioning e0
    # per round.
    sym = stage_checkpoint(
        e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    # sym is materialized (eager) from e0's blocks; e0 is never touched
    # again, so release it NOW instead of letting ~1.5× the edge-list
    # memory sit pinned until the next top-level query's blanket release.
    release_checkpoint(e0)
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("rep", F.col("id"))
    )
    converged = False
    prev = None
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("rep").alias("nbr_rep"))
        )
        # The convergence flag rides along in the SAME pass that builds
        # the new labels (new rep < old rep), so detecting the fixpoint
        # is a scan of the already-materialized checkpoint blocks — not
        # a separate new⋈old join job per round.
        stepped = stage_checkpoint(
            labels.join(nbr_min, "id", "left").select(
                "id",
                F.least(F.col("rep"), F.coalesce("nbr_rep", "rep")).alias("rep"),
                (F.coalesce("nbr_rep", "rep") < F.col("rep")).alias("lowered"),
            )
        )
        # Round N's checkpoint is built (eagerly) FROM round N−1's
        # blocks; once it is materialized the old round is dead weight.
        # Releasing it here bounds the iteration's pinned storage to TWO
        # rounds of labels instead of `diameter` rounds — on a
        # high-diameter graph (the chain-forest probe: diameter 16 over
        # 10⁷ edges) that is the difference between O(|V|) and
        # O(diameter·|V|) executor storage.
        if prev is not None:
            release_checkpoint(prev)
        prev = stepped
        changed = stepped.filter("lowered").count()
        labels = stepped.select("id", "rep")
        if changed == 0:
            converged = True
            break
    if not converged:
        # A component whose diameter exceeds max_iter would otherwise be
        # silently split into several clusters, violating the
        # deterministic-fixpoint contract the oracle checks against.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the graph has a component with a larger diameter — "
            "raise max_iter (rounds are cheap: one join + groupBy-min each)"
        )
    return labels.select("id", F.col("rep").alias("cluster_id"))


def near_dup_clusters(
    spark: SparkSession,
    family: str,
    sf_dir: str,
    pairs: Callable[[], DataFrame],
    a: str,
    b: str,
) -> DataFrame:
    """(id, cluster_id): the near-duplicate closure of one dedup family —
    connected components over the verified pair relation ``pairs()``,
    whose columns ``a`` and ``b`` hold the two ids of a pair.

    Memoized per (family, sf_dir) via ``shared_stage``: every consumer
    of a family (the survivor rules, the size histogram, the composed
    D4 pipeline) reads one closure per session, and ``pairs`` is called
    only inside the build, so a memo hit runs nothing upstream. A row
    is a dropped duplicate when ``id != cluster_id`` (min-id
    survivorship). The oracle twin is ``duck_near_dup_closure``.
    """
    return shared_stage(
        spark,
        ("near_dup_clusters", family, sf_dir),
        lambda: connected_components(pairs(), a, b, max_iter=10),
    )


def duck_near_dup_closure(rel: str, a: str, b: str) -> str:
    """DuckDB twin of ``near_dup_clusters`` as two CTEs: ``sym``, the
    pair relation ``rel(a, b)`` in both directions, and the recursive
    ``walk(id, rep)`` reachability closure, whose ``MIN(rep)`` per id is
    the component's minimum id. The caller's query must be ``WITH
    RECURSIVE``."""
    return f"""sym AS (
      SELECT {a} AS a, {b} AS b FROM {rel}
      UNION ALL
      SELECT {b} AS a, {a} AS b FROM {rel}
    ),
    walk(id, rep) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, w.rep FROM sym s JOIN walk w ON w.id = s.b
    )"""
