"""Golden-file tests for the Layer-A NVD ingest pipeline (SURVEY.md §5):
schema port fidelity, first-write-wins dedup, empty-delta no-op, the
bootstrap/incremental switch, and the NDJSON sink roundtrip.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bq_nvd_spark.nvd import (
    NvdStore,
    cve_items,
    dedup_within,
    deltas_only,
    ingest_feed,
    nvd_schema,
    nvd_store_integrity,
    parse_bq_json_schema,
    read_cve_ndjson,
    read_feed,
    run,
    write_ndjson,
)
from bq_nvd_spark.nvd.etl import ID_COL
from bq_nvd_spark.commit_log import _data_files as listed_files

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "nvd")
YEAR_FEED = os.path.join(FIXTURES, "nvdcve-1.1-2024.json.gz")
RECENT_FEED = os.path.join(FIXTURES, "nvdcve-1.1-recent.json.gz")


# --------------------------------------------------------------------------
# S7: schema loader semantics (reference bq_nvd/bq.py:24-82)
def test_schema_loader_defaults():
    """No ``type`` → STRING, no ``mode`` → NULLABLE (bq.py:51-52);
    RECORD → struct, REPEATED → array."""
    doc = [
        {"name": "plain"},  # both defaults
        {"name": "score", "type": "FLOAT"},
        {"name": "when", "type": "TIMESTAMP"},
        {"name": "tags", "mode": "REPEATED"},  # repeated string
        {
            "name": "rec",
            "type": "RECORD",
            "mode": "REPEATED",
            "fields": [{"name": "inner"}],
        },
    ]
    st = parse_bq_json_schema(doc)
    assert st == StructType(
        [
            StructField("plain", StringType(), True),
            StructField("score", DoubleType(), True),
            StructField("when", TimestampType(), True),
            StructField("tags", ArrayType(StringType(), True), True),
            StructField(
                "rec",
                ArrayType(StructType([StructField("inner", StringType(), True)]), True),
                True,
            ),
        ]
    )


def test_nvd_schema_shape():
    """The ported schema exposes the reference's full 4-deep field tree."""
    st = nvd_schema()
    names = set(st.fieldNames())
    assert names == {"lastModifiedDate", "impact", "configurations", "publishedDate", "cve"}
    # 4 deep: configurations.nodes[].children[].cpe_match[].cpe23Uri
    nodes = st["configurations"].dataType["nodes"].dataType.elementType
    cpe = nodes["children"].dataType.elementType["cpe_match"].dataType.elementType
    assert cpe["cpe23Uri"].dataType == StringType()
    assert st["publishedDate"].dataType == TimestampType()


# --------------------------------------------------------------------------
# S2/P1/P3: explicit-schema gz read — lenient ingest drops unknown keys
def test_feed_read_drops_unknown_keys(spark):
    items = cve_items(read_feed(spark, YEAR_FEED))
    assert items.schema == nvd_schema()
    # the fixture's items all carry sourceIdentifier/vendorComments —
    # projection-to-schema must have discarded them silently
    assert "sourceIdentifier" not in items.columns
    assert items.count() == 8


def test_feed_read_null_vs_empty_arrays(spark):
    """Missing configurations → NULL struct; empty nodes list → []."""
    items = cve_items(read_feed(spark, YEAR_FEED))
    by_id = {
        r["ID"]: r
        for r in items.select(
            F.col(ID_COL).alias("ID"),
            F.col("configurations").isNull().alias("conf_null"),
            F.size("configurations.nodes").alias("n_nodes"),
        ).collect()
    }
    assert by_id["CVE-2024-0005"]["conf_null"] is True
    assert by_id["CVE-2024-0004"]["n_nodes"] == 1  # node present, empty cpe_match
    assert by_id["CVE-2024-0001"]["n_nodes"] == 1


# --------------------------------------------------------------------------
# J1/A3/T2: store semantics through the full pipeline
def test_bootstrap_then_incremental_first_write_wins(spark, tmp_path):
    store = NvdStore(spark, str(tmp_path / "nvd_store"))

    # Greenfield: count triggers create (S6) and reports 0 (bq.py:137-140)
    assert store.count_cves() == 0

    # Bootstrap (count < threshold) loads the year feed
    results = run(spark, store, [YEAR_FEED], RECENT_FEED, bootstrap_threshold=5)
    assert [r.loaded for r in results] == [8]
    assert store.count_cves() == 8

    # Brownfield now (8 >= 5): incremental loads only the 2 genuinely-new
    results = run(spark, store, [YEAR_FEED], RECENT_FEED, bootstrap_threshold=5)
    assert [(r.loaded, r.skipped) for r in results] == [(2, False)]
    assert store.count_cves() == 10

    # First-write-wins: the re-published CVE-2024-0002 kept its ORIGINAL
    # lastModifiedDate (existing rows win, reference etl.py:87-88)
    kept = (
        store.read()
        .filter(F.col(ID_COL) == "CVE-2024-0002")
        .select("lastModifiedDate")
        .collect()
    )
    assert len(kept) == 1
    assert kept[0][0].isoformat() == "2024-01-06T09:00:00"

    # Idempotent re-run: empty delta short-circuits, no write (etl.py:94-96)
    results = run(spark, store, [YEAR_FEED], RECENT_FEED, bootstrap_threshold=5)
    assert [(r.loaded, r.skipped) for r in results] == [(0, True)]
    assert store.count_cves() == 10


def test_store_partitioned_by_year(spark, tmp_path):
    store = NvdStore(spark, str(tmp_path / "store"))
    ingest_feed(spark, store, YEAR_FEED)
    years = {n for n in os.listdir(store.path) if n.startswith("_pub_year=")}
    assert years == {"_pub_year=2024"}


# --------------------------------------------------------------------------
# S3: NDJSON staging sink roundtrip (reference etl.py:98-116)
def test_ndjson_sink_roundtrip(spark, tmp_path):
    items = cve_items(read_feed(spark, YEAR_FEED))
    out = str(tmp_path / "staged")
    write_ndjson(items, out)

    # one compact JSON object per line
    part_files = [
        os.path.join(out, n) for n in os.listdir(out) if n.startswith("part-")
    ]
    lines = []
    for p in part_files:
        with open(p) as f:
            lines.extend(line for line in f.read().splitlines() if line)
    assert len(lines) == 8
    assert all(json.loads(line)["cve"]["CVE_data_meta"]["ID"] for line in lines)

    # and the roundtrip preserves rows
    back = read_cve_ndjson(spark, out)
    assert back.schema == nvd_schema()
    orig_ids = {r[0] for r in items.select(ID_COL).collect()}
    back_ids = {r[0] for r in back.select(ID_COL).collect()}
    assert back_ids == orig_ids


# --------------------------------------------------------------------------
# within-batch dedup determinism
def test_dedup_within_batch(spark, tmp_path):
    """A feed carrying the same ID twice loads exactly one row."""
    feed = json.loads(gzip.open(YEAR_FEED).read())
    feed["CVE_Items"].append(dict(feed["CVE_Items"][0]))  # duplicate ID
    dup_path = str(tmp_path / "dup.json.gz")
    with gzip.open(dup_path, "wt") as f:
        json.dump(feed, f)

    store = NvdStore(spark, str(tmp_path / "store"))
    result = ingest_feed(spark, store, dup_path)
    assert result.loaded == 8
    ids = [r[0] for r in store.read().select(ID_COL).collect()]
    assert len(ids) == len(set(ids)) == 8


# --------------------------------------------------------------------------
# S1: feed acquisition (driver-side fetch; file:// stands in for HTTPS)
def test_download_feed_from_file_url(spark, tmp_path):
    from bq_nvd_spark.nvd import download_feeds, feed_names, feed_url

    fixture_dir = os.path.dirname(YEAR_FEED)
    base = f"file://{fixture_dir}/"
    landing = str(tmp_path / "landing")
    paths = download_feeds(["2024", "recent"], landing, url_base=base)
    assert all(os.path.exists(p) for p in paths)

    # the landing dir is directly scannable as a distributed feed read
    feed = read_feed(spark, landing)
    assert cve_items(feed).count() > 0

    assert feed_url("recent").endswith("nvdcve-1.1-recent.json.gz")
    names = feed_names(2004)
    assert names == ["2002", "2003", "2004", "recent", "modified"]


def test_download_feed_retries_then_fails(tmp_path):
    from bq_nvd_spark.nvd import download_feed

    with pytest.raises(RuntimeError, match="after 3 tries"):
        download_feed(
            "2024", str(tmp_path / "landing"), url_base=f"file://{tmp_path}/missing/"
        )


# --------------------------------------------------------------------------
# store partition pruning: a _pub_year filter must reach the scan as a
# partition filter, not a post-scan predicate
def test_store_partition_pruning(spark, tmp_path):
    store = NvdStore(spark, str(tmp_path / "store"))
    ingest_feed(spark, store, YEAR_FEED)

    pruned = store.read().filter(F.col("_pub_year") == 2024)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_pub_year" in plan.split("PartitionFilters")[1].split("]")[0]
    assert pruned.count() > 0
    assert store.read().filter(F.col("_pub_year") == 1999).count() == 0


# --------------------------------------------------------------------------
# malformed-feed policy: PERMISSIVE audit vs reference-parity FAILFAST
def test_corrupt_feed_audit_and_failfast(spark, tmp_path):
    import gzip as _gzip

    bad = str(tmp_path / "bad.json.gz")
    with _gzip.open(bad, "wt") as f:
        f.write('{"CVE_Items": [ {"cve": TRUNCATED')

    # default PERMISSIVE: the batch survives, the bad document nulls out
    assert read_feed(spark, bad).count() == 1
    assert cve_items(read_feed(spark, bad)).count() == 0

    # audit column carries the raw unparseable bytes
    audited = read_feed(spark, bad, corrupt_col="_corrupt").collect()
    assert len(audited) == 1
    assert audited[0]["_corrupt"] is not None
    assert "TRUNCATED" in audited[0]["_corrupt"]

    # a good feed leaves the audit column null (collect the full rows —
    # Spark refuses a query that references ONLY the corrupt column)
    ok_rows = read_feed(spark, YEAR_FEED, corrupt_col="_corrupt").collect()
    assert ok_rows and all(r["_corrupt"] is None for r in ok_rows)

    # FAILFAST mirrors the reference's abort-on-bad-JSON
    with pytest.raises(Exception, match="FAILFAST|Malformed|malformed"):
        read_feed(spark, bad, mode="FAILFAST").count()


def test_ingest_of_truncated_feed_raises_and_leaves_store(spark, tmp_path):
    """A year feed cut off mid-document must fail the ingest loudly and
    leave the store as it was, not ingest as an empty "no updates"
    delta (the year would otherwise be missing for good)."""
    with gzip.open(YEAR_FEED, "rb") as fh:
        doc = fh.read()
    truncated = str(tmp_path / "nvdcve-1.1-2024.json.gz")
    with gzip.open(truncated, "wb") as fh:
        fh.write(doc[: len(doc) // 2])

    store = NvdStore(spark, str(tmp_path / "store"))
    ingest_feed(spark, store, RECENT_FEED)
    before = store.count_cves()
    assert before > 0
    with pytest.raises(Exception, match="FAILFAST|Malformed|malformed"):
        ingest_feed(spark, store, truncated)
    assert store.count_cves() == before


def _drop_cve_items(doc):
    doc["CVE_Items_v2"] = doc.pop("CVE_Items")


def _empty_cve_items(doc):
    doc["CVE_Items"] = []


def _string_base_score(doc):
    for it in doc["CVE_Items"]:
        it["impact"]["baseMetricV3"]["cvssV3"]["baseScore"] = "high"


def _bad_published_date(doc):
    for it in doc["CVE_Items"]:
        it["publishedDate"] = "last tuesday"


def _array_cve_data_meta(doc):
    for it in doc["CVE_Items"]:
        it["cve"]["CVE_data_meta"] = [it["cve"]["CVE_data_meta"]]


def _drop_last_modified(doc):
    for it in doc["CVE_Items"]:
        del it["lastModifiedDate"]


@pytest.mark.parametrize(
    "drift, raises, loaded",
    [
        (_drop_cve_items, "no CVE_Items", 0),
        (_empty_cve_items, None, 0),
        (_string_base_score, "FAILFAST|Malformed|malformed", 0),
        (_bad_published_date, "FAILFAST|Malformed|malformed", 0),
        (_array_cve_data_meta, "FAILFAST|Malformed|malformed", 0),
        (_drop_last_modified, None, 8),
    ],
    ids=["no_cve_items", "empty_cve_items", "string_base_score",
         "bad_published_date", "array_cve_data_meta", "no_last_modified"],
)
def test_feed_schema_drift_fails_loudly_or_loads(spark, tmp_path, drift, raises, loaded):
    """Feed schema drift either fails the ingest before anything is
    written or loads what the schema can read: a feed without
    ``CVE_Items`` must not pass as "no updates" (in a bootstrap the year
    would be missing for good), while an empty ``CVE_Items`` does."""
    with gzip.open(YEAR_FEED, "rt") as fh:
        doc = json.load(fh)
    drift(doc)
    drifted = str(tmp_path / "nvdcve-1.1-2024.json.gz")
    with gzip.open(drifted, "wt") as fh:
        json.dump(doc, fh)

    store = NvdStore(spark, str(tmp_path / "store"))
    _synth_feed_gz(str(tmp_path / "seed.json.gz"), 2023, 3)
    ingest_feed(spark, store, str(tmp_path / "seed.json.gz"))
    before = store.count_cves()
    assert before == 3
    if raises:
        with pytest.raises(Exception, match=raises):
            ingest_feed(spark, store, drifted)
    else:
        result = ingest_feed(spark, store, drifted)
        assert (result.loaded, result.skipped) == (loaded, loaded == 0)
    assert store.count_cves() == before + loaded
    if loaded:
        assert store.read().filter(F.col("lastModifiedDate").isNull()).count() == loaded


def test_half_created_store_reads_empty_then_bootstraps(spark, tmp_path):
    """A store directory a crashed first write left holding only
    ``_temporary/0/`` is not created (``exists()`` is "version 0 of the
    log is committed"); it is adopted as empty, so the next run
    bootstraps it cleanly: all 8 fixture CVEs load and no ID lands
    twice."""
    path = tmp_path / "store"
    (path / "_temporary" / "0").mkdir(parents=True)
    store = NvdStore(spark, str(path))
    assert not store.exists()
    assert store.count_cves() == 0

    results = run(spark, store, [YEAR_FEED], RECENT_FEED, bootstrap_threshold=5)
    assert [r.loaded for r in results] == [8]
    assert store.count_cves() == 8
    assert store.read().groupBy(ID_COL).count().filter("count > 1").count() == 0


# --------------------------------------------------------------------------
# Scale rehearsal: a synthetic multi-year backfill (~100k CVEs, the size
# of the real NVD corpus) through bootstrap → incremental →
# first-write-wins, plus an explain-plan assertion that year-scoped
# reads actually PRUNE the per-year partitions (the store's entire
# reason for partitioning by year(publishedDate)).
def _synth_feed_gz(path: str, year: int, n: int, start: int = 0) -> list[str]:
    """Write a minimal-but-schema-valid year feed of n CVEs; returns IDs."""
    ids = [f"CVE-{year}-{start + i:05d}" for i in range(n)]
    items = [
        {
            "cve": {
                "CVE_data_meta": {"ID": cve_id, "ASSIGNER": "synth@example"},
                "description": {
                    "description_data": [
                        {"lang": "en", "value": f"synthetic entry {cve_id}"}
                    ]
                },
            },
            "publishedDate": f"{year}-{(i % 12) + 1:02d}-{(i % 27) + 1:02d}"
            f"T{(i % 24):02d}:00Z",
            "lastModifiedDate": f"{year}-12-31T00:00Z",
        }
        for i, cve_id in enumerate(ids)
    ]
    with gzip.open(path, "wt") as fh:
        json.dump({"CVE_data_format": "MITRE", "CVE_Items": items}, fh)
    return ids


def _data_files(store_path: str) -> dict[str, int]:
    """Data-file count per ``_pub_year=Y`` directory (checksums and
    markers excluded)."""
    return {
        name: sum(
            f.startswith("part-") for f in os.listdir(os.path.join(store_path, name))
        )
        for name in os.listdir(store_path)
        if name.startswith("_pub_year=")
    }


def test_backfill_100k_bootstrap_incremental_and_partition_pruning(
    spark, tmp_path
):
    years = {2018: 24_000, 2019: 26_000, 2020: 25_000, 2021: 25_000}
    feeds = []
    for year, n in years.items():
        p = str(tmp_path / f"nvdcve-1.1-{year}.json.gz")
        _synth_feed_gz(p, year, n)
        feeds.append(p)
    # recent: 500 re-publications of 2021 entries (must lose, first write
    # wins) + 500 genuinely new 2021 entries (must load)
    recent = str(tmp_path / "nvdcve-1.1-recent.json.gz")
    overlap_ids = [f"CVE-2021-{i:05d}" for i in range(500)]
    new_ids = [f"CVE-2021-{25_000 + i:05d}" for i in range(500)]
    combined = []
    for i, cve_id in enumerate(overlap_ids + new_ids):
        combined.append(
            {
                "cve": {
                    "CVE_data_meta": {"ID": cve_id, "ASSIGNER": "synth@example"},
                    "description": {
                        "description_data": [
                            {"lang": "en", "value": f"republished {cve_id}"}
                        ]
                    },
                },
                "publishedDate": f"2021-{(i % 12) + 1:02d}-01T00:00Z",
                "lastModifiedDate": "2022-06-01T00:00Z",
            }
        )
    with gzip.open(recent, "wt") as fh:
        json.dump({"CVE_data_format": "MITRE", "CVE_Items": combined}, fh)

    store = NvdStore(spark, str(tmp_path / "store"))
    total = sum(years.values())

    # Bootstrap: greenfield (< threshold) loads every year feed fully
    results = run(spark, store, feeds, recent, bootstrap_threshold=1000)
    assert [r.loaded for r in results] == list(years.values())
    assert store.count_cves() == total
    # Write layout: each append writes one file per year it touches, not
    # one per (shuffle task, year)
    after_bootstrap = _data_files(store.path)
    assert after_bootstrap == {f"_pub_year={y}": 1 for y in years}

    # Brownfield: incremental loads ONLY the 500 genuinely-new entries
    results = run(spark, store, feeds, recent, bootstrap_threshold=1000)
    assert [(r.loaded, r.skipped) for r in results] == [(500, False)]
    assert store.count_cves() == total + 500
    # ... and adds exactly one file, under the one year it touches
    after_incremental = _data_files(store.path)
    assert after_incremental == {**after_bootstrap, "_pub_year=2021": 2}

    # First-write-wins: a re-published entry kept its ORIGINAL
    # lastModifiedDate (2021-12-31, not the recent feed's 2022-06-01)
    kept = (
        store.read()
        .filter(F.col(ID_COL) == "CVE-2021-00003")
        .select("lastModifiedDate")
        .collect()
    )
    assert len(kept) == 1
    assert kept[0][0].year == 2021

    # Partition pruning: a year-scoped read pushes a PartitionFilters
    # entry on _pub_year and the executed scan reads ONE partition of
    # the five on disk (the scan leaf's numPartitions metric counts
    # partitions actually read after pruning)
    scoped = store.read().filter(F.col("_pub_year") == 2019).select(ID_COL)
    rows = scoped.collect()
    assert len(rows) == years[2019]
    plan = scoped._jdf.queryExecution().executedPlan()
    assert "PartitionFilters" in plan.toString() and "_pub_year" in (
        plan.toString().split("PartitionFilters")[1][:200]
    ), plan.toString()[:2000]
    scan = plan.collectLeaves().apply(0)
    assert scan.metrics().apply("numPartitions").value() == 1

    # on-disk layout: one directory per year (+ the ensure()-time marker)
    dirs = {n for n in os.listdir(store.path) if n.startswith("_pub_year=")}
    assert {f"_pub_year={y}" for y in years} <= dirs


def test_append_splits_a_year_above_the_aqe_advisory_size(spark, tmp_path):
    """One year is written as one file at the default advisory partition
    size, and as several files of about that size once the year outgrows
    it — the split comes from AQE, not from the shuffle task count."""
    feed = str(tmp_path / "nvdcve-1.1-2020.json.gz")
    _synth_feed_gz(feed, 2020, 20_000)

    def files_written(name: str) -> int:
        store = NvdStore(spark, str(tmp_path / name))
        ingest_feed(spark, store, feed)
        assert store.count_cves() == 20_000
        return _data_files(store.path)["_pub_year=2020"]

    assert files_written("default") == 1
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    previous = spark.conf.get(key)
    spark.conf.set(key, "256k")
    try:
        assert files_written("small_advisory") >= 2
    finally:
        spark.conf.set(key, previous)


# --------------------------------------------------------------------------
# The store's commit log: each fault either fails the run loudly or leaves
# the store readable with no ID twice; the refresh pass's job budget; and
# the integrity check.
def _brownfield(spark, path) -> NvdStore:
    store = NvdStore(spark, str(path))
    ingest_feed(spark, store, YEAR_FEED)
    assert store.count_cves() == 8
    return store


def _rows(df) -> list[str]:
    return sorted(repr(r) for r in df.collect())


def _duplicate_ids(store: NvdStore) -> int:
    return store.read().groupBy(ID_COL).count().filter("count > 1").count()


def _recent_delta(store: NvdStore):
    items = cve_items(read_feed(store.spark, RECENT_FEED))
    return deltas_only(dedup_within(items), store.cve_ids())


def test_write_failing_before_commit_leaves_store_unchanged(spark, tmp_path, monkeypatch):
    """The write raises after staging its files and before the commit:
    the ingest fails, the count and the rows stay as they were, and the
    staged files are removed without any scan having seen them."""
    store = _brownfield(spark, tmp_path / "store")
    before = _rows(store.read())
    real_write = store._write

    def write_then_die(df, path):
        real_write(df, path)
        assert any(f.endswith(".parquet") for f in listed_files(path))
        raise RuntimeError("killed after staging")

    monkeypatch.setattr(store, "_write", write_then_die)
    with pytest.raises(RuntimeError, match="killed after staging"):
        ingest_feed(spark, store, RECENT_FEED)
    assert store.last_commit is None
    assert store.count_cves() == 8
    assert _rows(store.read()) == before
    assert os.listdir(os.path.join(store.path, "_staging")) == []


@pytest.mark.parametrize("first_scan", ["count_cves", "read"])
def test_commit_without_moves_rolls_forward(spark, tmp_path, monkeypatch, first_scan):
    """The entry commits but the process dies before renaming its files
    into the store: the next ``count_cves`` or ``read()`` (here on a
    fresh handle, as the next run would) finishes the renames, and the
    logged count equals ``COUNT(ID)`` over the directory scan."""
    store = _brownfield(spark, tmp_path / "store")
    monkeypatch.setattr(store.log, "roll_forward", lambda entry: None)
    result = ingest_feed(spark, store, RECENT_FEED)
    assert (result.loaded, result.skipped) == (2, False)
    staged = store.last_commit["staging"]
    assert os.path.isdir(os.path.join(store.path, staged))

    after = NvdStore(spark, store.path)
    if first_scan == "count_cves":
        assert after.count_cves() == 10
    else:
        assert after.read().count() == 10
    assert not os.path.exists(os.path.join(store.path, staged))
    scanned = after.read().agg(F.count(F.col(ID_COL))).first()[0]
    assert after.count_cves() == scanned == 10
    assert _duplicate_ids(after) == 0


def test_overlapping_ingests_planned_on_one_version(spark, tmp_path):
    """Two runs anti-join the same feed against the same store version
    (two handles, as two overlapping cron runs hold): the first commit
    wins, the second raises, and the store holds no ID twice."""
    first = _brownfield(spark, tmp_path / "store")
    second = NvdStore(spark, first.path)
    delta_first, delta_second = _recent_delta(first), _recent_delta(second)
    assert first.version == second.version == 1

    first.append(delta_first)
    assert first.last_commit["rows"] == 2
    with pytest.raises(FileExistsError):
        second.append(delta_second)
    assert second.last_commit is None
    assert second.count_cves() == 10
    assert second.read().count() == 10
    assert _duplicate_ids(second) == 0
    assert os.listdir(os.path.join(first.path, "_staging")) == []


def test_racing_commits_of_one_version_have_one_winner(tmp_path):
    """Many threads commit the same log version at once: exactly one
    succeeds, every other raises ``FileExistsError``, and the entry on
    disk is the winner's, whole."""
    import sys
    import threading

    store = NvdStore(None, str(tmp_path / "store"))
    outcomes = {}

    def commit(i):
        try:
            store.log.commit({"version": 1, "writer": i, "files": [f"f{i}"] * 100})
            outcomes[i] = "won"
        except FileExistsError:
            outcomes[i] = "lost"

    previous = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(previous)
    assert not any(t.is_alive() for t in threads)
    winners = [i for i, o in outcomes.items() if o == "won"]
    assert len(outcomes) == 16 and len(winners) == 1
    entry = store.log.entry(1)
    assert entry["writer"] == winners[0] and entry["files"] == [f"f{winners[0]}"] * 100
    assert store.log.versions() == [1]
    assert os.listdir(os.path.join(store.path, "_log")) == ["_00000001.json"]


def test_pre_log_store_is_adopted_unchanged(spark, tmp_path):
    """A store written before the commit log (an empty-table write, then
    an append, no ``_log/``) is adopted once: version 0 lists its files,
    the count and the rows are unchanged, and refreshes continue on it."""
    path = str(tmp_path / "legacy")
    store = NvdStore(spark, path)
    year = F.coalesce(F.year("publishedDate"), F.lit(0))
    empty = spark.createDataFrame([], nvd_schema())
    empty.withColumn("_pub_year", year).write.mode("overwrite").partitionBy("_pub_year").save(path)
    items = cve_items(read_feed(spark, YEAR_FEED))
    items.withColumn("_pub_year", year).write.mode("append").partitionBy("_pub_year").save(path)
    before = _rows(store.read())
    assert len(before) == 8 and not store.exists()

    assert store.count_cves() == 8
    assert store.exists()
    assert store.log.entry(0)["files"] == listed_files(path)
    assert _rows(store.read()) == before
    result = ingest_feed(spark, store, RECENT_FEED)
    assert (result.loaded, result.skipped) == (2, False)
    assert store.count_cves() == 10
    assert _duplicate_ids(store) == 0


def test_refresh_pass_job_budget(spark, tmp_path):
    """A brownfield refresh reads its count from the log with no Spark
    job and ingests in at most 4 jobs, with a non-empty delta and with
    an empty one; the empty pass commits nothing."""
    from perfbench.tracing import Tracer

    store = _brownfield(spark, tmp_path / "store")
    tracer = Tracer(spark, "nvd-job-budget", enabled=True)
    for loaded, skipped in [(2, False), (0, True)]:
        versions = store.log.versions()
        with tracer.span("count_cves") as counted:
            store.count_cves()
        with tracer.span("ingest_feed") as ingested:
            result = ingest_feed(spark, store, RECENT_FEED)
        assert (result.loaded, result.skipped) == (loaded, skipped)
        assert counted.jobs == 0
        assert ingested.jobs <= 4, ingested.jobs
    assert store.log.versions() == versions
    assert store.count_cves() == 10


def test_store_integrity_reports_an_orphan_and_keeps_it(spark, tmp_path):
    """``nvd_store_integrity`` passes a fixture store with one planted
    staging orphan, lists the orphan and deletes nothing; a logged file
    gone missing fails it."""
    store = _brownfield(spark, tmp_path / "store")
    ingest_feed(spark, store, RECENT_FEED)
    logged = store.last_commit["files"][0]
    orphan = os.path.join(store.path, "_staging", "orphan", logged)
    os.makedirs(os.path.dirname(orphan))
    shutil.copy(os.path.join(store.path, logged), orphan)

    report = nvd_store_integrity(store)
    assert report == {
        "version": 2, "total_cves": 10, "scanned_cves": 10, "duplicate_ids": 0,
        "schema_matches": True, "missing_files": [],
        "staging_leftovers": ["_staging/orphan"], "ok": True,
    }
    assert os.path.exists(orphan)
    assert store.read().count() == 10

    os.remove(os.path.join(store.path, logged))
    report = nvd_store_integrity(store)
    assert report["missing_files"] == [logged] and not report["ok"]
