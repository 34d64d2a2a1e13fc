"""NVD pipeline orchestration — bootstrap vs incremental (T2/A2/A3).

Mirrors the reference driver's control flow (bq-nvd.py:70-104): count the
stored CVEs; below the sanity threshold ("there are over 130k CVEs in the
NVD", bq-nvd.py:78-81) the store is greenfield → bootstrap the full
per-year backfill; otherwise run one incremental pass over the ``recent``
feed. Re-runs are idempotent because ingest dedups against stored IDs
(first-write-wins, etl.py §1.4) and the empty-delta guard skips the write
entirely ("no updates to load", reference bq-nvd.py:141-143).

The reference's 20-minute CronJob (cronjob.yml:6) maps to re-invoking
``run()`` on a schedule.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bq_nvd_spark.nvd.etl import (
    NvdStore,
    cve_items,
    dedup_within,
    deltas_only,
    read_feed,
)

# Reference bq-nvd.py:81 — the bootstrap sanity threshold.
BOOTSTRAP_THRESHOLD = 130_000


@dataclass
class IngestResult:
    feed_path: str
    loaded: int
    skipped: bool  # True when the delta was empty and no write happened


def ingest_feed(
    spark: SparkSession,
    store: NvdStore,
    feed_path: str,
    deltas: bool = True,
) -> IngestResult:
    """One download→extract→transform→load pass for one feed artifact.

    extract+transform are a single declarative plan (explicit-schema gz
    read → explode → anti-join); the only driver-side decision is the
    empty-delta short-circuit, which the reference also makes on the
    driver (etl.py:94-96).

    The feed is read FAILFAST, as the reference aborts on bad JSON
    (bq-nvd.py:116-124): a truncated or corrupt document raises before
    anything is written, instead of parsing to zero rows and being
    recorded as "no updates". A document without a ``CVE_Items`` key
    parses to a null array, which fails the same way inside the plan
    (no extra job); ``"CVE_Items": []`` is a real empty feed and skips.
    """
    store.ensure()
    feed = read_feed(spark, feed_path, mode="FAILFAST")
    feed = feed.withColumn("CVE_Items", F.coalesce(
        "CVE_Items", F.raise_error(F.lit(f"feed has no CVE_Items: {feed_path}"))))
    incoming = dedup_within(cve_items(feed))
    delta = deltas_only(incoming, store.cve_ids()) if deltas else incoming

    # Persist so the gz read → explode → anti-join plan executes ONCE:
    # gzip is non-splittable, so the earlier isEmpty()+count()+append()
    # sequence paid three full single-task decompress+parse passes per
    # feed. One count() both decides the empty-delta short-circuit (A3)
    # and reports the loaded-row figure from the same rows the append
    # writes.
    delta = delta.persist()
    try:
        n = delta.count()
        if n == 0:  # A3: nothing new since the last run
            return IngestResult(feed_path, loaded=0, skipped=True)
        store.append(delta)
        return IngestResult(feed_path, loaded=n, skipped=False)
    finally:
        delta.unpersist()


def run(
    spark: SparkSession,
    store: NvdStore,
    year_feeds: list[str],
    recent_feed: str | None = None,
    bootstrap_threshold: int = BOOTSTRAP_THRESHOLD,
) -> list[IngestResult]:
    """The reference's main(): bootstrap when the store looks greenfield,
    else one incremental pass (bq-nvd.py:153-163).

    ``year_feeds`` are the per-year artifacts (2002..now in production,
    reference bq-nvd.py:90-92); ``recent_feed`` is the 20-minute delta
    feed. The threshold is injectable so tests can exercise both paths.
    """
    count = store.count_cves()
    if count < bootstrap_threshold:
        # Bootstrap: all year feeds in one distributed pass per feed.
        # (Dedup still applies — a re-bootstrap over a partial store
        # must not duplicate rows.)
        return [ingest_feed(spark, store, path) for path in year_feeds]
    if recent_feed is None:
        return []
    return [ingest_feed(spark, store, recent_feed)]
