"""Batch-equivalence of the Structured Streaming plans.

The oracle-parity suite already hash-checks the streaming queries against
DuckDB; these tests additionally pin the *streaming vs batch* contract —
an AvailableNow drain of the file stream must produce exactly the batch
plan's result — and that the stream really runs through the streaming
engine (isStreaming, bounded trigger)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from bq_nvd_spark.sources.tables import load_table
from bq_nvd_spark.streaming import (
    run_available_now,
    stream_events,
    streaming_dedup_keys,
    streaming_tumbling_counts,
)
from bq_nvd_spark.streaming.micro_batch import STATE_PARTITIONS


def _as_set(df):
    return {tuple(map(repr, row)) for row in df.collect()}


def test_stream_events_is_streaming(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    assert ev.isStreaming
    # always TIMESTAMP (LTZ), whichever way the parquet ships it
    # (NANOS-as-long → micros repair; MICROS/NTZ → cast): watermarks
    # reject TIMESTAMP_NTZ event-time columns outright
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    streamed = streaming_tumbling_counts(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    assert _as_set(streamed) == _as_set(batch)


def test_streaming_dedup_equals_batch_distinct(spark, sf_dir):
    streamed = streaming_dedup_keys(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).distinct()
    assert _as_set(streamed) == _as_set(batch)


def test_available_now_rerun_is_stable(spark, sf_dir):
    """Two activations over the same files agree (fresh checkpoints)."""
    first = run_available_now(
        stream_events(spark, sf_dir).select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        ),
        output_mode="append",
    )
    second = streaming_dedup_keys(spark, sf_dir)
    assert _as_set(first) == _as_set(second)


def test_upsert_store_replay_and_merge(spark, tmp_path):
    """ParquetUpsertStore: replace-by-key merge, and a replayed batch id
    (post-recovery at-least-once delivery) is skipped without touching
    the store."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    store = ParquetUpsertStore(str(tmp_path / "store"))
    b0 = spark.createDataFrame(
        [(1, 2, 100), (2, 1, 50)], "user_id long, n_events long, cents long"
    )
    store.merge_batch(b0, batch_id=0, key="user_id")
    # batch 1 updates key 1 (new cumulative), inserts key 3
    b1 = spark.createDataFrame(
        [(1, 5, 300), (3, 1, 10)], "user_id long, n_events long, cents long"
    )
    store.merge_batch(b1, batch_id=1, key="user_id")
    got = {r["user_id"]: (r["n_events"], r["cents"]) for r in store.current(spark).collect()}
    assert got == {1: (5, 300), 2: (1, 50), 3: (1, 10)}
    # replay batch 1 with stale values — must be a no-op
    stale = spark.createDataFrame(
        [(1, 99, 999)], "user_id long, n_events long, cents long"
    )
    store.merge_batch(stale, batch_id=1, key="user_id")
    again = {r["user_id"]: (r["n_events"], r["cents"]) for r in store.current(spark).collect()}
    assert again == got


def test_staged_event_chunks_sparse_ids(spark, tmp_path):
    """Staging must not assume event_ids are dense from zero: a fixture
    whose minimum id is far above the chunk step used to crash the
    schema re-read of chunk=0 (the chunk layout may skip residues, and
    the streamed schema now comes from the source DataFrame, never from
    re-reading a chunk directory)."""
    import datetime

    from bq_nvd_spark.streaming.foreach_sink import _staged_event_chunks

    sf_dir = str(tmp_path / "sf")
    stage = str(tmp_path / "stage")
    ev = spark.createDataFrame(
        [
            (1_000_003, datetime.datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
            (1_000_007, datetime.datetime(2024, 1, 2), 2, "click", 2.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import os as _os

    _os.makedirs(sf_dir, exist_ok=True)
    ev.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    schema = _staged_event_chunks(spark, sf_dir, stage, n=4)
    assert "event_id" in schema.fieldNames() and "chunk" not in schema.fieldNames()
    back = (
        spark.read.schema(schema).parquet(f"{stage}/chunk=*").select("event_id")
    )
    assert {r.event_id for r in back.collect()} == {1_000_003, 1_000_007}


def test_upsert_store_rewrites_only_touched_buckets(spark, tmp_path):
    """Copy-on-write contract: a batch touching one key must republish
    only that key's hash bucket — every other bucket keeps its version
    (rewrite bytes scale with the delta, not the store)."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    store = ParquetUpsertStore(str(tmp_path / "store"), n_buckets=8)
    seed = spark.createDataFrame(
        [(i, 1, i * 10) for i in range(40)],
        "user_id long, n_events long, cents long",
    )
    store.merge_batch(seed, batch_id=0, key="user_id")
    before = store.log.latest()["buckets"]
    assert len(before) > 1  # 40 uniform keys spread over several buckets

    one = spark.createDataFrame([(7, 5, 999)], "user_id long, n_events long, cents long")
    store.merge_batch(one, batch_id=1, key="user_id")
    after = store.log.latest()["buckets"]
    changed = [k for k in after if after[k] != before.get(k)]
    assert len(changed) == 1  # exactly the bucket user 7 hashes into
    got = {r["user_id"]: (r["n_events"], r["cents"]) for r in store.current(spark).collect()}
    assert got[7] == (5, 999) and len(got) == 40


def test_upsert_store_cdc_deletes(spark, tmp_path):
    """CDC merge: a tombstoned key is removed from the store (MERGE ...
    WHEN MATCHED THEN DELETE), the tombstone column never reaches the
    stored data, a delete that empties a whole bucket retires it from
    the live map, and replaying the delete batch stays a no-op."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    store = ParquetUpsertStore(str(tmp_path / "store"), n_buckets=2)
    seed = spark.createDataFrame(
        [(i, 1, i * 10) for i in range(8)],
        "user_id long, n_events long, cents long",
    )
    store.merge_batch(seed, batch_id=0, key="user_id")

    # batch 1: update key 1, delete key 2, insert key 9
    b1 = spark.createDataFrame(
        [(1, 4, 111, False), (2, 0, 0, True), (9, 1, 90, False)],
        "user_id long, n_events long, cents long, is_deleted boolean",
    )
    store.merge_batch(b1, batch_id=1, key="user_id", delete_col="is_deleted")
    cur = store.current(spark)
    assert "is_deleted" not in cur.columns
    got = {r["user_id"]: r["cents"] for r in cur.collect()}
    assert 2 not in got and got[1] == 111 and got[9] == 90 and len(got) == 8

    # batch 2: delete EVERYTHING (empties both buckets)
    b2 = spark.createDataFrame(
        [(u, 0, 0, True) for u in got],
        "user_id long, n_events long, cents long, is_deleted boolean",
    )
    store.merge_batch(b2, batch_id=2, key="user_id", delete_col="is_deleted")
    assert store.current(spark) is None  # live map fully retired

    # replaying the delete batch is a no-op
    store.merge_batch(b2, batch_id=2, key="user_id", delete_col="is_deleted")
    assert store.current(spark) is None


def test_upsert_store_null_key_replaces_and_deletes(spark, tmp_path):
    """A NULL merge key (a streaming groupBy emits a NULL group when the
    raw key is NULL) must behave like any other key: replaced on upsert
    (never duplicated across batches — requires null-safe join equality)
    and removable by a tombstone."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    store = ParquetUpsertStore(str(tmp_path / "store"), n_buckets=4)
    b0 = spark.createDataFrame(
        [(None, 1, 10), (1, 1, 100)], "user_id long, n_events long, cents long"
    )
    store.merge_batch(b0, batch_id=0, key="user_id")
    b1 = spark.createDataFrame(
        [(None, 3, 30)], "user_id long, n_events long, cents long"
    )
    store.merge_batch(b1, batch_id=1, key="user_id")
    rows = store.current(spark).collect()
    got = {r["user_id"]: r["cents"] for r in rows}
    assert got == {None: 30, 1: 100} and len(rows) == 2  # replaced, not duplicated

    b2 = spark.createDataFrame(
        [(None, 0, 0, True)],
        "user_id long, n_events long, cents long, is_deleted boolean",
    )
    store.merge_batch(b2, batch_id=2, key="user_id", delete_col="is_deleted")
    assert {r["user_id"] for r in store.current(spark).collect()} == {1}


def test_upsert_store_rejects_legacy_manifest(spark, tmp_path):
    import json

    import pytest

    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    root = tmp_path / "store"
    root.mkdir()
    (root / "manifest.json").write_text(
        json.dumps({"version": 3, "last_batch_id": 2})
    )
    store = ParquetUpsertStore(str(root))
    with pytest.raises(ValueError, match="legacy"):
        store.current(spark)


def test_upsert_store_keeps_only_live_bucket_versions(spark, tmp_path):
    """One live version per bucket: after every merge each bucket dir
    holds only the version the log names, a stray version (as a crash
    between a commit and its cleanup would leave) goes the next time its
    bucket is touched, and an emptied bucket keeps none."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    root = tmp_path / "store"
    store = ParquetUpsertStore(str(root), n_buckets=2)
    schema = "user_id long, cents long, is_deleted boolean"

    def on_disk() -> dict:
        return {
            b.name[1:]: sorted(v.name for v in b.iterdir())
            for b in root.iterdir()
            if b.is_dir() and b.name.startswith("b")
        }

    for bid in range(6):
        rows = [(bid % 4, bid, False), (bid % 4 + 4, bid, False)]
        store.merge_batch(
            spark.createDataFrame(rows, schema), bid, "user_id", "is_deleted"
        )
        live = store.log.latest()["buckets"]
        assert on_disk() == {k: [f"v{v}"] for k, v in live.items()}, bid

    for k in live:
        (root / f"b{k}" / "v999").mkdir()
    keys = [r["user_id"] for r in store.current(spark).collect()]
    tombstones = spark.createDataFrame([(u, 0, True) for u in keys], schema)
    store.merge_batch(tombstones, 6, "user_id", "is_deleted")
    assert store.current(spark) is None
    assert on_disk() == {k: [] for k in live}


def _upsert_model(batches) -> dict:
    model: dict = {}
    for rows in batches:
        for k, v, dead in rows:
            if dead:
                model.pop(k, None)
            else:
                model[k] = v
    return model


def _upsert_state(store, spark) -> dict:
    final = store.current(spark)
    return {} if final is None else {r["user_id"]: r["cents"] for r in final.collect()}


def _extra_bucket_versions(store) -> dict:
    """Bucket dirs holding anything but the live version the log names."""
    live = store.log.latest()["buckets"]
    out = {}
    for name in os.listdir(store.root):
        if name.startswith("b"):
            held = sorted(os.listdir(os.path.join(store.root, name)))
            if held != ([f"v{live[name[1:]]}"] if name[1:] in live else []):
                out[name] = held
    return out


_SEED = [(i, i * 10, False) for i in range(8)]


def _merge(spark, store, rows, batch_id) -> None:
    df = spark.createDataFrame(rows, "user_id long, cents long, is_deleted boolean")
    store.merge_batch(df, batch_id, "user_id", "is_deleted")


def test_concurrent_upsert_merges_have_one_winner(spark, tmp_path, monkeypatch):
    """Two handles on one store plan their merges on the same version
    (on disjoint buckets, so the second's reads stay valid): the first
    commit wins, the second raises ``FileExistsError`` and leaves no
    staged files, and the store holds the first merge's keys."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    root = str(tmp_path / "store")
    first = ParquetUpsertStore(root, n_buckets=4)
    second = ParquetUpsertStore(root, n_buckets=4)
    _merge(spark, first, _SEED, 0)
    ahead = [(1, 111, False), (20, 200, False), (3, 0, True)]
    behind = [(2, 222, False), (10, 100, False), (5, 0, True)]
    real_merge = second._merge_cached

    def overtaken(*args):
        # ``second`` has read the log; ``first`` commits before it does.
        _merge(spark, first, ahead, 1)
        return real_merge(*args)

    monkeypatch.setattr(second, "_merge_cached", overtaken)
    with pytest.raises(FileExistsError):
        _merge(spark, second, behind, 2)
    after = ParquetUpsertStore(root, n_buckets=4)
    assert _upsert_state(after, spark) == _upsert_model([_SEED, ahead])
    assert os.listdir(os.path.join(root, "_staging")) == []
    assert _extra_bucket_versions(first) == {}


@pytest.mark.parametrize("fault", ["write_dies_before_commit", "commit_without_renames"])
def test_upsert_store_survives_merge_faults(spark, tmp_path, monkeypatch, fault):
    """A merge whose write dies after staging leaves the store as it
    was and ``_staging/`` empty; a merge that commits without renaming
    its files in is finished by a fresh handle's ``current()``. Either
    way every bucket dir holds its live version only."""
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    root = str(tmp_path / "store")
    store = ParquetUpsertStore(root, n_buckets=4)
    _merge(spark, store, _SEED, 0)
    batch = [(1, 111, False), (20, 200, False), (3, 0, True)]
    if fault == "write_dies_before_commit":
        def die(entry):
            assert any(f.endswith(".parquet") for f in entry["files"])
            raise RuntimeError("killed after staging")

        monkeypatch.setattr(store.log, "commit", die)
        with pytest.raises(RuntimeError, match="killed after staging"):
            _merge(spark, store, batch, 1)
        expected = _upsert_model([_SEED])
        assert os.listdir(os.path.join(root, "_staging")) == []
    else:
        monkeypatch.setattr(store.log, "roll_forward", lambda entry: None)
        _merge(spark, store, batch, 1)
        assert os.listdir(os.path.join(root, "_staging")) != []
        expected = _upsert_model([_SEED, batch])
    after = ParquetUpsertStore(root, n_buckets=4)
    assert _upsert_state(after, spark) == expected
    assert os.listdir(os.path.join(root, "_staging")) == []
    assert _extra_bucket_versions(after) == {}


def _source_hits(pattern: str, tops: tuple, allowed: str) -> list[str]:
    """``path:line`` of every match of ``pattern`` in the ``.py`` files
    under ``tops`` (relative to the repository), ``allowed`` excepted."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    regex = re.compile(pattern)
    hits = []
    for top in tops:
        for dirpath, _, files in os.walk(os.path.join(root, top)):
            for name in files:
                rel = os.path.relpath(os.path.join(dirpath, name), root)
                if not name.endswith(".py") or rel == allowed:
                    continue
                with open(os.path.join(root, rel), encoding="utf-8") as fh:
                    for lineno, line in enumerate(fh, 1):
                        if regex.search(line):
                            hits.append(f"{rel}:{lineno}")
    return hits


def test_only_the_commit_log_commits_store_state():
    """Store state is published in bq_nvd_spark/commit_log.py only: no
    other engine source hard-links, atomically replaces or exclusively
    creates a file."""
    hits = _source_hits(
        r"os\.link\(|os\.replace\(|O_EXCL", ("bq_nvd_spark",), "bq_nvd_spark/commit_log.py"
    )
    assert not hits, hits


def test_memory_sink_drains_leave_no_temp_views(spark, sf_dir):
    """A memory-sink drain drops its session view before returning, also
    when the stream fails, and the returned DataFrame still reads the
    drained rows."""
    from bq_nvd_spark.streaming.stateful import streaming_funnel_conversion

    def temp_views() -> set:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    keys = streaming_dedup_keys(spark, sf_dir)
    funnel = streaming_funnel_conversion(spark, sf_dir)
    with pytest.raises(StreamingQueryException, match="drain failed"):
        run_available_now(
            stream_events(spark, sf_dir).select(F.raise_error(F.lit("drain failed"))),
            output_mode="append",
        )
    assert sorted(temp_views() - before) == []
    assert keys.count() > 0 and funnel.count() == 1


def test_merge_batch_releases_checkpoint_blocks(spark, tmp_path):
    """merge_batch materializes the batch delta via localCheckpoint; the
    blocks must actually be RELEASED at commit (DataFrame.rdd.unpersist
    would be a no-op on a fresh javaToPython wrapper — the release
    unpersists the checkpointed frame's own LogicalRDD id), or a
    long-lived stream leaks one checkpoint block per batch."""
    from bq_nvd_spark.operators.checkpoint import _persistent_rdd_entries
    from bq_nvd_spark.streaming.foreach_sink import ParquetUpsertStore

    sc = spark.sparkContext
    store = ParquetUpsertStore(str(tmp_path / "store"), n_buckets=2)
    before = {rdd_id for rdd_id, _ in _persistent_rdd_entries(sc)}
    for bid in range(3):
        df = spark.createDataFrame(
            [(1, 10 + bid), (2, 20 + bid)], "user_id long, v long"
        )
        store.merge_batch(df, bid, key="user_id")
    after = {rdd_id for rdd_id, _ in _persistent_rdd_entries(sc)}
    assert after - before == set(), (
        f"leaked checkpoint blocks: {sorted(after - before)}"
    )
    got = {
        r["user_id"]: r["v"] for r in store.current(spark).collect()
    }
    assert got == {1: 12, 2: 22}


def test_runner_restores_shuffle_width_after_failing_sink(spark, sf_dir):
    """The runner sets the state-store width for the drain and restores
    the session's shuffle width afterwards, also when a foreachBatch
    sink raises (and the failure reaches the caller)."""
    key = "spark.sql.shuffle.partitions"
    previous = spark.conf.get(key)
    seen = []

    def failing_sink(batch_df, batch_id):
        seen.append(spark.conf.get(key))
        raise ValueError("sink failed")

    spark.conf.set(key, "3")
    try:
        with pytest.raises(StreamingQueryException, match="sink failed"):
            run_available_now(
                stream_events(spark, sf_dir).select("user_id"),
                output_mode="append",
                foreach_batch=failing_sink,
            )
        assert seen == [str(STATE_PARTITIONS)]
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, previous)


def test_only_the_runner_starts_streams():
    """Every stream starts in streaming/micro_batch.py::run_available_now:
    no other engine or script source opens a writeStream, awaits a
    query or sets the session's shuffle width (a builder ``.config`` of
    it, as in session.py, is not a set)."""
    pattern = r"\.writeStream|awaitTermination\(|conf\.set\([^)]*shuffle\.partitions"
    hits = _source_hits(
        pattern, ("bq_nvd_spark", "scripts"), "bq_nvd_spark/streaming/micro_batch.py"
    )
    assert not hits, hits
