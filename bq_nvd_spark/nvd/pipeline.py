"""NVD pipeline orchestration — bootstrap vs incremental (T2/A2/A3).

Mirrors the reference driver's control flow (bq-nvd.py:70-104): count the
stored CVEs; below the sanity threshold ("there are over 130k CVEs in the
NVD", bq-nvd.py:78-81) the store is greenfield → bootstrap the full
per-year backfill; otherwise run one incremental pass over the ``recent``
feed. Re-runs are idempotent because ingest dedups against stored IDs
(first-write-wins, etl.py §1.4), and a pass over a feed with nothing new
commits nothing to the store's log ("no updates to load", reference
bq-nvd.py:141-143).

The reference's 20-minute CronJob (cronjob.yml:6) maps to re-invoking
``run()`` on a schedule.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
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
    skipped: bool  # True when the delta was empty and nothing was committed


def ingest_feed(
    spark: SparkSession,
    store: NvdStore,
    feed_path: str,
    deltas: bool = True,
) -> IngestResult:
    """One download→extract→transform→load pass for one feed artifact.

    extract+transform+load is a single declarative plan (explicit-schema
    gz read → explode → anti-join → write) that runs as one write: the
    store's append counts the rows inside the write's own job, and the
    empty-delta short-circuit (A3, reference etl.py:94-96) is that a
    0-row write commits no log entry. ``loaded`` and ``skipped`` come
    from the entry the append committed, or from its absence.

    The feed is read FAILFAST, as the reference aborts on bad JSON
    (bq-nvd.py:116-124): a truncated or corrupt document raises before
    anything is committed, instead of parsing to zero rows and being
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
    store.append(delta)
    if store.last_commit is None:  # A3: nothing new since the last run
        return IngestResult(feed_path, loaded=0, skipped=True)
    return IngestResult(feed_path, loaded=store.last_commit["rows"], skipped=False)


def run(
    spark: SparkSession,
    store: NvdStore,
    year_feeds: Iterable[str],
    recent_feed: str | Callable[[], str] | None = None,
    bootstrap_threshold: int = BOOTSTRAP_THRESHOLD,
) -> list[IngestResult]:
    """The reference's main(): bootstrap when the store looks greenfield,
    else one incremental pass (bq-nvd.py:153-163).

    ``year_feeds`` are the per-year artifacts (2002..now in production,
    reference bq-nvd.py:90-92); ``recent_feed`` is the 20-minute delta
    feed. Either may be lazy: ``year_feeds`` is only iterated, one feed
    ingested before the next is drawn, when the run bootstraps, and a
    callable ``recent_feed`` is only called on an incremental pass, so a
    caller can download each feed just in time (``cli.run_cli``). The
    threshold is injectable so tests can exercise both paths.
    """
    if store.count_cves() < bootstrap_threshold:
        # Bootstrap: all year feeds in one distributed pass per feed.
        # (Dedup still applies — a re-bootstrap over a partial store
        # must not duplicate rows.)
        return [ingest_feed(spark, store, path) for path in year_feeds]
    if recent_feed is None:
        return []
    path = recent_feed() if callable(recent_feed) else recent_feed
    return [ingest_feed(spark, store, path)]
