"""stage_checkpoint: executor-local by default, RELIABLE (checkpoint
dir, survives executor loss) when the session has one configured — the
cluster deployment path for the iterative CC / verify plans."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from bq_nvd_spark.operators.checkpoint import stage_checkpoint
from bq_nvd_spark.operators.graph import connected_components


def test_local_by_default(spark, tmp_path):
    """No checkpoint dir configured → executor-local blocks, nothing on
    shared storage (the would-be dir stays empty)."""
    assert spark.sparkContext.getCheckpointDir() is None
    df = stage_checkpoint(spark.range(10))
    assert df.count() == 10
    assert not any(os.scandir(tmp_path))


def test_reliable_when_dir_configured(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        df = stage_checkpoint(spark.range(10))
        assert df.count() == 10
        # blocks actually landed in the reliable dir
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert files, "no checkpoint files written to the configured dir"
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)


def test_connected_components_on_reliable_path(spark, tmp_path):
    """The CC fixpoint (the heaviest checkpoint consumer) produces the
    same clusters through the reliable path."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["src", "dst"]
    )
    expected = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    spark.sparkContext.setCheckpointDir(str(tmp_path / "cc_ck"))
    try:
        got = {
            (r["id"], r["cluster_id"])
            for r in connected_components(edges).collect()
        }
        assert got == expected
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)


def test_connected_components_local_path_unchanged(spark):
    edges = spark.createDataFrame([(5, 6), (6, 7)], ["src", "dst"])
    got = {
        (r["id"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(5, 5), (6, 5), (7, 5)}


def test_verify_pipeline_on_reliable_path(spark, sf_dir, tmp_path):
    """jaccard_verified_pairs (the heaviest stage_checkpoint consumer
    after CC) must produce identical pairs through the reliable
    checkpoint path — the exact configuration a cluster deployment
    runs with."""
    from bq_nvd_spark.operators.checkpoint import release_shared_stages
    from bq_nvd_spark.plans.llm import jaccard_verified_pairs

    # the verified relation is a shared chain stage (memoized per
    # session): clear it so BOTH calls below genuinely build, each on
    # its own checkpoint path
    release_shared_stages(spark)
    local = {
        tuple(r) for r in jaccard_verified_pairs(spark, sf_dir).collect()
    }
    release_shared_stages(spark)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "verify_ck"))
    try:
        reliable = {
            tuple(r) for r in jaccard_verified_pairs(spark, sf_dir).collect()
        }
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
        release_shared_stages(spark)
    assert reliable == local
    assert local, "verify pipeline returned no pairs at test SF"


def test_shape_preserved(spark):
    df = spark.range(5).select(
        F.col("id"), (F.col("id") * 2).alias("dbl")
    )
    out = stage_checkpoint(df)
    assert out.columns == ["id", "dbl"]
    assert out.orderBy("id").collect()[4]["dbl"] == 8


def test_release_log_names_pinning_and_releasing_queries(
    spark, sf_dir, caplog
):
    """The interleaved-consumption breadcrumb: entering a top-level
    registered query releases the previous query's pinned blocks with a
    log line naming BOTH queries and the remedy, so a later
    missing-checkpoint-block crash on a held DataFrame is actionable."""
    import logging

    from bq_nvd_spark.operators.checkpoint import release_stage_checkpoints
    from bq_nvd_spark.plans import QUERIES

    # a query that stage_checkpoints (pins blocks under its own name)...
    QUERIES["customer_rfm_segments"](spark, sf_dir).count()
    # ...then another top-level query triggers the release
    with caplog.at_level(logging.INFO, "bq_nvd_spark.operators.checkpoint"):
        QUERIES["agg_count_scalar"](spark, sf_dir).count()
    msgs = [r.getMessage() for r in caplog.records]
    hit = [
        m
        for m in msgs
        if "agg_count_scalar" in m and "customer_rfm_segments" in m
    ]
    assert hit, msgs
    assert "consume each registered query's result" in hit[0]
    # nothing left pinned afterwards; releasing again is a silent no-op
    caplog.clear()
    with caplog.at_level(logging.INFO, "bq_nvd_spark.operators.checkpoint"):
        assert release_stage_checkpoints(spark) == 0
    assert not caplog.records


def test_unregistered_pins_release_anonymously(spark, caplog):
    """Blocks pinned outside any registered query (e.g. a user calling
    stage_checkpoint directly) release with the <unregistered plan>
    attribution instead of a stale query name."""
    import logging

    from bq_nvd_spark.operators.checkpoint import release_stage_checkpoints

    stage_checkpoint(spark.range(5)).count()
    with caplog.at_level(logging.INFO, "bq_nvd_spark.operators.checkpoint"):
        assert release_stage_checkpoints(spark) >= 1
    assert any(
        "<unregistered plan>" in r.getMessage() for r in caplog.records
    )


def test_shared_stage_builds_once_and_survives_blanket_release(spark):
    """The chain-sharing contract: one build per (app, key); the memo's
    blocks survive the per-query blanket release (that is its whole
    point) and die only on the explicit release_shared_stages."""
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stages,
        release_stage_checkpoints,
        shared_stage,
    )

    calls: list[int] = []

    def build():
        calls.append(1)
        return spark.range(7)

    key = ("test.shared", "k1")
    try:
        a = shared_stage(spark, key, build)
        assert a.count() == 7 and len(calls) == 1
        # the blanket release every top-level query entry performs...
        release_stage_checkpoints(spark)
        # ...must not drop the shared blocks or forget the memo
        b = shared_stage(spark, key, build)
        assert len(calls) == 1
        assert b.count() == 7
        assert release_shared_stages(spark) >= 1
        c = shared_stage(spark, key, build)
        assert len(calls) == 2 and c.count() == 7
    finally:
        release_shared_stages(spark)


def test_shared_stage_keys_are_isolated(spark):
    """Different keys (e.g. different sf_dir paths) never collide."""
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stages,
        shared_stage,
    )

    try:
        a = shared_stage(spark, ("t", "p1"), lambda: spark.range(3))
        b = shared_stage(spark, ("t", "p2"), lambda: spark.range(5))
        assert a.count() == 3 and b.count() == 5
    finally:
        release_shared_stages(spark)


def test_shared_stage_build_race_releases_loser_blocks(spark):
    """Two threads racing the same key's FIRST build must agree on one
    memoized frame, and the loser's eagerly persisted blocks must be
    unpersisted — not stranded in executor storage with no owner."""
    import threading

    from bq_nvd_spark.operators.checkpoint import (
        _persistent_rdd_entries,
        release_shared_stages,
        shared_stage,
    )

    sc = spark.sparkContext
    release_shared_stages(spark)
    baseline = {rdd_id for rdd_id, _ in _persistent_rdd_entries(sc)}

    barrier = threading.Barrier(2, timeout=30)
    builds: list[int] = []

    def build():
        barrier.wait()  # force both threads into the build section
        builds.append(1)
        return spark.range(9)

    results: dict[int, int] = {}

    def run(slot: int) -> None:
        results[slot] = shared_stage(
            spark, ("test.race", "k"), build
        ).count()

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert results == {0: 9, 1: 9}
        assert len(builds) == 2  # both genuinely built...
        # the memoized winner must still be SERVABLE after the loser's
        # blocks were released (a loser that releases the winner's
        # blocks would strand a lineage-truncated frame)
        again = shared_stage(spark, ("test.race", "k"), build)
        assert again.count() == 9 and len(builds) == 2
        # ...but only the winner's blocks may remain pinned
        now = {rdd_id for rdd_id, _ in _persistent_rdd_entries(sc)}
        assert len(now - baseline) <= 1, (baseline, now)
        assert release_shared_stages(spark) == len(now - baseline)
        after = {rdd_id for rdd_id, _ in _persistent_rdd_entries(sc)}
        assert not (after - baseline)
    finally:
        release_shared_stages(spark)


def test_shared_stage_reliable_dir_leaves_no_pinned_blocks(
    spark, tmp_path
):
    """With a checkpoint dir configured the shared stage lands on
    reliable files (the ContextCleaner's to manage): no executor blocks
    are tracked, and the explicit release is a zero-count no-op."""
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stages,
        shared_stage,
    )

    release_shared_stages(spark)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "shared_ck"))
    try:
        out = shared_stage(
            spark, ("test.reliable", "k"), lambda: spark.range(4)
        )
        assert out.count() == 4
        assert release_shared_stages(spark) == 0
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
        release_shared_stages(spark)


def test_dedup_chain_shares_and_stays_correct(spark, sf_dir):
    """The registered chain consumers return identical results from the
    shared relations as from a cold build (the driver compares each
    against its independent DuckDB oracle; this pins the cached-vs-cold
    equality locally)."""
    from bq_nvd_spark.operators.checkpoint import release_shared_stages
    from bq_nvd_spark.plans import QUERIES

    release_shared_stages(spark)
    cold = {
        name: {tuple(r) for r in QUERIES[name](spark, sf_dir).collect()}
        for name in ("jaccard_verified_pairs", "dedup_survivors")
    }
    # second pass hits the memo (jaccard_verified_pairs built it above)
    warm = {
        name: {tuple(r) for r in QUERIES[name](spark, sf_dir).collect()}
        for name in ("jaccard_verified_pairs", "dedup_survivors")
    }
    release_shared_stages(spark)
    assert warm == cold
    assert cold["dedup_survivors"], "empty survivors at test SF"


def test_shared_stage_survives_interleaved_registry_queries(spark, sf_dir):
    """The driver's REAL session pattern (VERDICT r12 task 4): a chain
    consumer builds the memo; unrelated registry queries run next —
    each top-level entry performs the blanket release_stage_checkpoints,
    and one of them (customer_rfm_segments) additionally pins and
    releases its own stage checkpoints — then chain consumers must
    still serve from the memoized relation (same results, no rebuild).
    Only release_shared_stages may drop the memo, and the post-release
    rebuild must be green."""
    from bq_nvd_spark.operators.checkpoint import (
        release_shared_stages,
        shared_stage_count,
    )
    from bq_nvd_spark.plans import QUERIES

    release_shared_stages(spark)
    first = {
        tuple(r)
        for r in QUERIES["jaccard_verified_pairs"](spark, sf_dir).collect()
    }
    assert first, "no verified pairs at test SF"
    built = shared_stage_count(spark)
    assert built > 0

    # interleave: a plain registry query (blanket release at entry) and
    # one that stage_checkpoints its own blocks (pin + later release)
    QUERIES["agg_count_scalar"](spark, sf_dir).count()
    QUERIES["customer_rfm_segments"](spark, sf_dir).count()
    QUERIES["agg_count_scalar"](spark, sf_dir).count()

    # the memo survived every blanket release...
    assert shared_stage_count(spark) == built
    # ...and both chain consumers serve correct results from it
    survivors = {
        tuple(r) for r in QUERIES["dedup_survivors"](spark, sf_dir).collect()
    }
    assert survivors, "no survivors at test SF"
    memo_pass = {
        tuple(r)
        for r in QUERIES["jaccard_verified_pairs"](spark, sf_dir).collect()
    }
    assert memo_pass == first

    # only the explicit release drops it; the rebuild is green after
    assert release_shared_stages(spark) >= 1
    assert shared_stage_count(spark) == 0
    try:
        rebuilt = {
            tuple(r)
            for r in QUERIES["jaccard_verified_pairs"](spark, sf_dir).collect()
        }
        assert rebuilt == first
    finally:
        release_shared_stages(spark)


def _persisted(sc) -> set[int]:
    from bq_nvd_spark.operators.checkpoint import _persistent_rdd_entries

    return {rdd_id for rdd_id, _ in _persistent_rdd_entries(sc)}


def test_every_pin_is_one_rdd_named_by_the_frame(spark, tmp_path, monkeypatch):
    """The one pin path: stage_checkpoint (eager and lazy), a
    shared_stage build and a merge_batch each pin exactly ONE persisted
    RDD, and it is the checkpointed frame's own LogicalRDD id. A lookup
    that names an RDD the checkpoint did not persist raises instead of
    leaking the real pin."""
    import bq_nvd_spark.operators.checkpoint as cp
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    sc = spark.sparkContext
    cp.release_stage_checkpoints(spark)
    cp.release_shared_stages(spark)
    baseline = _persisted(sc)

    for eager in (True, False):
        out = cp.stage_checkpoint(spark.range(6), eager=eager)
        assert _persisted(sc) - baseline == {cp._checkpoint_rdd_id(out)}
        assert out.count() == 6
        assert cp.release_stage_checkpoints(spark) == 1
        assert _persisted(sc) == baseline

    try:
        shared = cp.shared_stage(
            spark, ("test.one_pin", "k"), lambda: spark.range(4)
        )
        assert _persisted(sc) - baseline == {cp._checkpoint_rdd_id(shared)}
    finally:
        assert cp.release_shared_stages(spark) == 1
    assert _persisted(sc) == baseline

    seen: list[tuple[set[int], int]] = []
    merge_cached = ParquetUpsertStore._merge_cached

    def spy(self, batch_df, *args):
        seen.append((_persisted(sc) - baseline, cp._checkpoint_rdd_id(batch_df)))
        return merge_cached(self, batch_df, *args)

    monkeypatch.setattr(ParquetUpsertStore, "_merge_cached", spy)
    store = ParquetUpsertStore(str(tmp_path / "store"), n_buckets=2)
    store.merge_batch(
        spark.createDataFrame([(1, 10)], "user_id long, v long"), 0, "user_id"
    )
    assert [pinned for pinned, _ in seen] == [{seen[0][1]}]
    assert _persisted(sc) == baseline

    monkeypatch.setattr(cp, "_checkpoint_rdd_id", lambda df: -1)
    try:
        with pytest.raises(RuntimeError, match="no persistent RDD"):
            cp.local_checkpoint(spark.range(3))
        with pytest.raises(RuntimeError, match="no persistent RDD"):
            cp.stage_checkpoint(spark.range(3))
    finally:
        cp._unpersist_ids(sc, _persisted(sc) - baseline)
    assert cp.release_stage_checkpoints(spark) == 0


def test_repeated_query_leaves_no_pinned_blocks(spark, sf_dir):
    """No-leak bound for a long-lived session: three consumed
    re-invocations of a stage_checkpointing query, each followed by a
    top-level entry, leave the persistent-RDD set at its baseline."""
    from bq_nvd_spark.operators.checkpoint import release_stage_checkpoints
    from bq_nvd_spark.plans import QUERIES

    sc = spark.sparkContext
    release_stage_checkpoints(spark)
    baseline = _persisted(sc)
    for _ in range(3):
        QUERIES["customer_rfm_segments"](spark, sf_dir).count()
        assert _persisted(sc) - baseline, "the query pinned no blocks"
        QUERIES["agg_count_scalar"](spark, sf_dir).count()
        assert _persisted(sc) == baseline


def test_only_the_checkpoint_module_pins_or_walks_blocks():
    """Every executor-local pin goes through operators/checkpoint.py:
    no other engine or script source calls localCheckpoint or walks the
    persistent-RDD map itself."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allowed = os.path.join(root, "bq_nvd_spark", "operators", "checkpoint.py")
    pattern = re.compile(r"localCheckpoint\(|getPersistentRDDs")
    hits = []
    for top in ("bq_nvd_spark", "scripts"):
        for dirpath, _, files in os.walk(os.path.join(root, top)):
            for name in files:
                path = os.path.join(dirpath, name)
                if not name.endswith(".py") or path == allowed:
                    continue
                with open(path, encoding="utf-8") as fh:
                    for lineno, line in enumerate(fh, 1):
                        if pattern.search(line):
                            hits.append(f"{os.path.relpath(path, root)}:{lineno}")
    assert not hits, hits
