"""Lineage-truncating materialization with a cluster-safe upgrade path
and an explicit block lifecycle.

Iterative plans (connected components) and multi-consumer subplans (the
shingle token set, the IVF corpus relations) materialize intermediate
DataFrames so later stages neither replay the upstream plan nor grow an
unbounded lineage. ``localCheckpoint`` does that cheaply but stores the
blocks on EXECUTOR disk/memory only — on a real cluster, losing an
executor discards the blocks and, because the lineage was truncated,
the job cannot recompute them (Spark docs call this out explicitly).
That trade is fine on local[32]; it is not fine for a 1000-executor
deployment.

``stage_checkpoint`` picks the right variant from session state: if the
deployer configured a reliable checkpoint directory
(``sc.setCheckpointDir(...)`` / ``spark.checkpoint.dir`` — HDFS/S3 on a
cluster), DataFrames checkpoint THERE and survive executor loss;
otherwise behavior is unchanged (executor-local). Call sites opt in by
replacing ``df.localCheckpoint(eager=True)`` with
``stage_checkpoint(df)`` — no per-call-site configuration.

Block lifecycle: a localCheckpoint pins its blocks in executor storage
until the RDD is unpersisted; nothing in Spark releases them when the
consuming query finishes, so a long-lived session serving many queries
(or re-running one) accumulates pinned storage and later runs pay
eviction/GC — measured on local[32] as the same query slowing 2× per
repeat. Every executor-local pin therefore goes through
``local_checkpoint``, which returns the frame's own pinned RDD id (and
raises if that id is not persisted); ``stage_checkpoint`` records it
and ``release_stage_checkpoints`` unpersists it. The query registry
calls that on every TOP-LEVEL query invocation (before building the
new plan), which encodes the engine-wide contract that a query's
lazily-held result must be fully consumed before the next registered
query runs on the same session — the same consume-before-reinvoke
contract the streaming upsert store documents.

On the reliable-checkpoint branch the files live in the configured
fault-tolerant directory; deployments should set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so the
ContextCleaner removes them when the checkpointed RDD is GC'd (that
path has no pinned executor blocks, so the per-run slowdown above does
not apply).
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

# (rdd_id, pinning_query_name) pairs created by stage_checkpoint,
# keyed by Spark applicationId so a stopped-and-restarted session
# never releases ids belonging to a different application. Appends
# happen wherever the plan is built (including streaming micro-batch
# threads); release happens on the registry's top-level entry in the
# driver thread — the lock keeps an append racing a pop from extending
# an orphaned list (ids that no later release would ever see,
# re-creating the leak).
#
# Cross-thread assumption, stated precisely: the release contract is
# SEQUENTIAL — by the time a top-level registered query enters, every
# pin recorded so far belongs to work that has finished (the previous
# query's plan, or a streaming query that ran to completion inside it;
# every stream in this engine is availableNow/awaitTermination'd, so
# micro-batch threads never outlive their owning query). A deployment
# that runs a CONTINUOUS background stream concurrently with registry
# queries would violate this: the registry entry would unpersist
# blocks the live stream still needs. Such a deployment must not share
# one SparkSession between an open-ended stream that stage_checkpoints
# and the registry — or must release manually instead.
_TRACKED: dict[str, list[tuple[int, str | None]]] = {}
_TRACKED_LOCK = threading.Lock()

# Name of the top-level registered query currently building a plan on
# this thread; stage_checkpoint stamps it onto each pin so a later
# release can say WHOSE blocks it is dropping. Thread-local: streaming
# micro-batch threads pin anonymously (None).
_CURRENT_QUERY = threading.local()


def _persistent_rdd_entries(sc):
    """Yield ``(rdd_id, java_rdd)`` for every currently-persisted RDD.

    ``SparkContext.getPersistentRDDs`` is not surfaced by the Java/
    Python APIs, so walk the Scala map via py4j (iterator of Tuple2).
    """
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        yield t._1(), t._2()


def _unpersist_ids(sc, ids) -> int:
    """Unpersist every persistent RDD whose id is in ``ids``; returns
    the count actually released (ids already evicted, and the None id
    of a reliable checkpoint, contribute 0)."""
    pinned = [jrdd for rdd_id, jrdd in _persistent_rdd_entries(sc) if rdd_id in ids]
    for jrdd in pinned:
        jrdd.unpersist(False)
    return len(pinned)


def _checkpoint_rdd_id(df: DataFrame) -> int:
    """Id of the RDD backing a checkpointed DataFrame: its analyzed plan
    is one LogicalRDD whose ``rdd`` owns the persisted blocks, so a
    release never touches blocks another query persisted.
    ``df.rdd.unpersist()`` cannot substitute: ``.rdd`` wraps a fresh
    javaToPython RDD whose id differs from the persisted one."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def local_checkpoint(
    df: DataFrame, *, eager: bool = True
) -> tuple[DataFrame, int]:
    """``localCheckpoint`` ``df``; return the frame and its pinned RDD id.

    The engine's one executor-local pin path. localCheckpoint persists
    at call time even when lazy, so the frame's id must already be in
    the persistent-RDD map; if not, every later release would silently
    miss the pinned blocks — raise instead."""
    out = df.localCheckpoint(eager=eager)
    rdd_id = _checkpoint_rdd_id(out)
    sc = df.sparkSession.sparkContext
    if not any(rid == rdd_id for rid, _ in _persistent_rdd_entries(sc)):
        raise RuntimeError(
            f"localCheckpoint pinned no persistent RDD with the frame's "
            f"own id {rdd_id}; its blocks could never be released"
        )
    return out, rdd_id


def stage_checkpoint(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Uses a RELIABLE checkpoint (recomputable across executor loss) when
    the session has a checkpoint directory configured, else an
    executor-local one (fast, local-mode default) whose block ids are
    tracked for later ``release_stage_checkpoints``.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    out, rdd_id = local_checkpoint(df, eager=eager)
    owner = getattr(_CURRENT_QUERY, "name", None)
    with _TRACKED_LOCK:
        _TRACKED.setdefault(sc.applicationId, []).append((rdd_id, owner))
    return out


# Session-scoped memo for SHARED chain stages:
# {appId: {key: (frame, rdd_id)}} — the pinned RDD id comes from
# ``local_checkpoint`` at creation (None on the reliable branch, which
# pins no executor blocks). Deliberately NOT in _TRACKED — the blanket
# release at each top-level query entry must not drop a relation the
# NEXT query in the chain is about to reuse. Guarded by the same lock.
_SHARED: dict[str, dict[tuple, tuple[DataFrame, int | None]]] = {}

# Audit escape hatch: when True, ``shared_stage`` returns ``build()``
# directly — no checkpoint, no memo — so a plan audit can see the full
# upstream pipeline (an eager checkpoint truncates the returned plan to
# a single materialized scan, which is the correct SESSION plan but
# useless for auditing the pipeline's distributed shape). Never set on
# a production path: without the checkpoint every chain consumer would
# replay the whole pipeline.
AUDIT_BYPASS_SHARED = False


def shared_stage(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Memoize an expensive chain stage across top-level queries.

    The dedup chain (candidates → verify → connected components) feeds
    five registered queries; under the one-query-at-a-time driver
    contract each used to rebuild the whole upstream pipeline — ~5× the
    signature/verify cost per session pass at sf0.1. ``shared_stage``
    materializes the stage once per (application, key) and returns the
    same checkpointed frame to every later consumer in the session.

    Contract: ``key`` must determine the stage's CONTENT — include the
    input path, so different sf_dirs never collide — and the inputs
    under that path are assumed immutable for the session's lifetime
    (true for warehouse fixtures and any append-only lake layout where
    re-ingest lands under a new path). A deployment that overwrites
    inputs in place must call ``release_shared_stages`` between runs.
    Blocks live until ``release_shared_stages`` (or application exit);
    entries for stopped applications are pruned on access (their
    executor blocks died with the app — only the dict entry remains).
    """
    if AUDIT_BYPASS_SHARED:
        return build()
    sc = spark.sparkContext
    app = sc.applicationId
    with _TRACKED_LOCK:
        # Entries for other application ids belong to a STOPPED app
        # (Spark supports one active context per process) — their
        # executor blocks died with it; only the dict entry remains.
        for stale in [a for a in _SHARED if a != app]:
            del _SHARED[stale]
        cached = _SHARED.get(app, {}).get(key)
    if cached is not None:
        return cached[0]
    built = build()
    if sc.getCheckpointDir() is not None:
        # reliable files are the ContextCleaner's to manage — no
        # executor blocks to track
        out, rdd_id = built.checkpoint(eager=True), None
    else:
        out, rdd_id = local_checkpoint(built)
    with _TRACKED_LOCK:
        entries = _SHARED.setdefault(app, {})
        winner = entries.get(key)
        if winner is None:
            entries[key] = (out, rdd_id)
    if winner is not None:
        # A concurrent first call won the race while we were building:
        # keep ITS frame and release ours, or the loser's eagerly
        # persisted blocks would be unreachable forever. Our id is our
        # own frame's pin, so it can never name the winner's blocks.
        _unpersist_ids(sc, {rdd_id})
        return winner[0]
    return out


def shared_stage_count(spark: SparkSession) -> int:
    """Number of shared-stage relations currently memoized for this
    application. Lets a harness detect that a query's run BUILT shared
    stages (memo empty before, non-empty after) — the bench uses it to
    route such queries' cold samples into a dedicated regression
    channel, since their memo-hit medians cannot move when the build
    pipeline regresses."""
    with _TRACKED_LOCK:
        return len(_SHARED.get(spark.sparkContext.applicationId, ()))


def shared_stage_peek(spark: SparkSession, key: tuple):
    """The memoized frame for ``key`` if this application already built
    it, else None — NEVER builds. Lets a chain owner short-circuit past
    intermediate stages whose entries it released (see
    ``release_shared_stage``) once the chain's terminal relations
    exist."""
    with _TRACKED_LOCK:
        cached = _SHARED.get(spark.sparkContext.applicationId, {}).get(key)
    return cached[0] if cached is not None else None


def release_shared_stage(spark: SparkSession, key: tuple) -> int:
    """Unpersist ONE shared stage's blocks and drop its memo entry.

    For chain INTERMEDIATES that are provably dead once a later stage
    materializes (the BPE per-round corpora: every downstream read goes
    through the memoized winner/final-corpus frames, which are
    lineage-truncated checkpoints that never re-touch their inputs).
    Same hazard as the blanket release, scoped to one key: the entry's
    frame must never have been RETURNED to a consumer — only consumed
    inside later builds — or a held reference dies. A later
    ``shared_stage`` call with this key rebuilds from scratch, so the
    owner must short-circuit re-derivation via ``shared_stage_peek`` on
    the terminal keys before stepping the chain."""
    sc = spark.sparkContext
    with _TRACKED_LOCK:
        entry = _SHARED.get(sc.applicationId, {}).pop(key, None)
    if entry is None:
        return 0
    return _unpersist_ids(sc, {entry[1]})


def release_shared_stages(spark: SparkSession) -> int:
    """Unpersist every ``shared_stage`` block of the current application
    and forget the memo. For tests, benchmarks that want cold runs, and
    deployments that mutate inputs in place.

    Hazard: every frame ``shared_stage`` EVER returned in this
    application becomes unusable afterwards — the frames are
    lineage-truncated (localCheckpoint), so once their blocks are
    unpersisted Spark cannot recompute them and any later action on a
    held reference fails with an opaque block-not-found error, not a
    recompute. Callers must not hold a shared frame across a release;
    re-invoke the owning query (the memo rebuilds cleanly) instead.
    """
    sc = spark.sparkContext
    with _TRACKED_LOCK:
        frames = _SHARED.pop(sc.applicationId, {})
    ids = {rdd_id for _, rdd_id in frames.values()}
    return _unpersist_ids(sc, ids)


def release_checkpoint(df: DataFrame) -> int:
    """Unpersist the blocks backing ONE ``stage_checkpoint``-ed frame now.

    For pipelines where an early checkpoint exists only to feed a later
    one (connected components materializes the raw edge list, then the
    symmetric relation FROM it — after which the raw blocks are ~1.5×
    the edge-list memory held as dead weight until the next top-level
    query's blanket release). Removes the frame's pin from the tracked
    list so the later blanket release doesn't double-release. The id is
    re-read from the frame; on the reliable-checkpoint branch it names
    no persisted RDD (the ContextCleaner owns those files), so nothing
    is released and 0 is returned.
    """
    sc = df.sparkSession.sparkContext
    rdd_id = _checkpoint_rdd_id(df)
    with _TRACKED_LOCK:
        pins = _TRACKED.get(sc.applicationId)
        if pins:
            pins[:] = [(rid, o) for rid, o in pins if rid != rdd_id]
    return _unpersist_ids(sc, {rdd_id})


def release_stage_checkpoints(
    spark: SparkSession, entering: str | None = None
) -> int:
    """Unpersist every block ``stage_checkpoint`` has pinned so far.

    Returns the number of RDDs released. Safe to call at any point
    where no lazily-held DataFrame from a previous query remains
    unconsumed (its lineage was truncated, so dropping the blocks would
    make it unrecomputable). The registry calls this automatically at
    each top-level query entry; harnesses that hold results across
    query invocations must consume them first.

    ``entering`` names the query whose invocation triggered the
    release; the log line it produces is the breadcrumb for the
    interleaved-consumption failure mode — if a held DataFrame later
    dies with a missing-checkpoint-block error, this line says exactly
    which invocation dropped whose blocks and how to avoid it.
    """
    sc = spark.sparkContext
    with _TRACKED_LOCK:
        pins = _TRACKED.pop(sc.applicationId, ())
    ids = {rdd_id for rdd_id, _ in pins}
    if not ids:
        return 0
    owners = sorted({owner or "<unregistered plan>" for _, owner in pins})
    logger.info(
        "entering top-level query %r: releasing %d stage-checkpoint "
        "block(s) pinned by %s. If you still hold an unconsumed "
        "DataFrame from %s, it is now unrecomputable (its lineage was "
        "truncated) — consume each registered query's result before "
        "invoking the next, or collect it first.",
        entering or "<manual release>",
        len(ids),
        ", ".join(owners),
        "that query" if len(owners) == 1 else "those queries",
    )
    return _unpersist_ids(sc, ids)
