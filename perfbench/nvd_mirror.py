"""``nvd_mirror``: the mirror's bootstrap branch, then 20-minute refresh
passes, each followed by the reference's documented SQL over the store.

Untimed preparation, before set-up:

- once per checkout, the program's own ``pipeline.run`` bootstraps a
  store from the year feeds 2002..2023 of ``BASE_SEED`` (~113k CVEs,
  below ``BOOTSTRAP_THRESHOLD``) in a process of its own; the store is
  kept as a snapshot;
- per run, the snapshot is copied to a fresh store, and the year feeds
  2024..2026 (~27k CVEs) and the ``recent`` feeds of the refresh passes
  are generated from the run's seed (see ``perfbench/feeds.py``).

Timed, one client, serial: the bootstrap, then a fixed number of
refresh passes, one per ``SECONDS_PER_PASS`` of ``--seconds``. The
count does not depend on how fast the passes run, so every commit does
the same work on the same growth of the store.

1. ``batch``: ``pipeline.run`` over the seeded year feeds. The store is
   below the threshold, so this is the bootstrap branch: one
   ``ingest_feed`` per year feed against a store that already holds the
   earlier years. Afterwards the store holds >130k CVEs.
2. ``op``: ``pipeline.run(..., recent_feed=...)`` over the pass's
   ``recent`` feed, an eight-day window of which all but the CVEs
   published since the previous pass are already stored; the store is
   above the threshold, so each pass must take the incremental path
   (exactly one ``IngestResult``, skipped exactly when nothing is new).
3. ``read``: after each pass, store queries through ``NvdStore.read()``:
   ``COUNT(cve.CVE_data_meta.ID)``, the flagship nested ``EXISTS`` /
   ``LIKE '%linux%'``, and a nested-field projection by ID with
   ``LIMIT 1``, of an ID drawn from the pass's window. One of each: the
   projection, count and flagship take about 0.1, 0.2 and 0.4 s, so with equal counts the median
   of the read samples falls inside the count query's mode, not on the
   edge between two modes, where it would jump with small shifts of
   either; the tail (the 11th slowest of 36) falls inside the
   flagship's.

Checks: every result count against the generator's expected counts, and
after the run zero duplicate IDs and ``count_cves`` equal to the number
of distinct generated IDs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

from perfbench import feeds
from perfbench.stats import median, tail
from perfbench.tracing import force_plan

BASE_SEED = 0
BASE_YEARS = feeds.YEARS[:-3]
SEEDED_YEARS = feeds.YEARS[-3:]
SECONDS_PER_PASS = 3

FLAGSHIP_SQL = """
SELECT cve.CVE_data_meta.ID AS ID
FROM nvd
WHERE exists(configurations.nodes,
             n -> exists(n.cpe_match, m -> m.cpe23Uri LIKE '%linux%')
               OR exists(n.children,
                         c -> exists(c.cpe_match, m -> m.cpe23Uri LIKE '%linux%')))
"""
COUNT_SQL = "SELECT COUNT(cve.CVE_data_meta.ID) AS Count FROM nvd"
PROJECTION_SQL = """
SELECT cve.CVE_data_meta.ID AS ID,
       cve.CVE_data_meta.ASSIGNER AS assigner,
       cve.description.description_data[0].value AS description,
       impact.baseMetricV3.cvssV3.baseScore AS base_score,
       publishedDate
FROM nvd
WHERE cve.CVE_data_meta.ID = '{cve_id}'
LIMIT 1
"""


def _snapshot_key(scale: float) -> str:
    """Changes whenever the generator, the item shape, the pyspark
    version or any program source outside ``plans/`` changes (the
    session config sets the store's file layout too), so a stale
    snapshot is never reused."""
    import pyspark

    h = hashlib.sha256(f"{BASE_SEED}:{BASE_YEARS}:{scale}:{pyspark.__version__}".encode())
    pkg = os.path.join(feeds._ROOT, "bq_nvd_spark")
    sources = [feeds.__file__, feeds._FIXTURES]
    for dirpath, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__"
                         and os.path.join(dirpath, d) != os.path.join(pkg, "plans"))
        sources += sorted(os.path.join(dirpath, f) for f in files if f.endswith((".py", ".json")))
    for path in sources:
        h.update(os.path.relpath(path, feeds._ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _snapshot_dir(ctx) -> str:
    return os.path.join(ctx.cache_dir, f"nvd-base-{_snapshot_key(ctx.scale)}")


def _threshold(scale: float) -> int:
    """The program's bootstrap threshold; it scales with the feeds only
    for the tests' tiny runs."""
    from bq_nvd_spark.nvd.pipeline import BOOTSTRAP_THRESHOLD

    return round(BOOTSTRAP_THRESHOLD * scale)


def build_snapshot(snap: str, work_dir: str, scale: float) -> None:
    """Bootstrap the base store with the program's own pipeline, in a
    session of its own, and keep it under ``snap`` with its expected
    counts."""
    from bq_nvd_spark.nvd import pipeline
    from bq_nvd_spark.nvd.etl import NvdStore
    from bq_nvd_spark.session import get_spark
    from perfbench.sessions import stop

    threshold = _threshold(scale)
    tmp = os.path.join(work_dir, "snapshot")
    base = feeds.write_year_feeds(os.path.join(tmp, "feeds"), BASE_SEED, BASE_YEARS, scale)
    if base.unique_ids >= threshold:
        raise RuntimeError(f"base store of {base.unique_ids} CVEs is not below the threshold")
    spark = get_spark(app_name="perfbench-nvd-snapshot")
    try:
        store = NvdStore(spark, os.path.join(tmp, "store"))
        results = pipeline.run(spark, store, base.paths, bootstrap_threshold=threshold)
        loaded = sum(r.loaded for r in results)
        if loaded != base.unique_ids or store.count_cves() != base.unique_ids:
            raise RuntimeError(f"base bootstrap loaded {loaded}, expected {base.unique_ids}")
    finally:
        stop(spark)
    shutil.rmtree(os.path.join(tmp, "feeds"))
    meta = {"sizes": base.sizes, "unique_ids": base.unique_ids, "linux_ids": base.linux_ids}
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    os.makedirs(os.path.dirname(snap), exist_ok=True)
    os.replace(tmp, snap)


def prepare(ctx) -> None:
    """Untimed: build the snapshot if this checkout has none (in a
    separate process, so the measured JVM never runs it), copy it to a
    fresh store, and generate the seeded year and ``recent`` feeds."""
    snap = _snapshot_dir(ctx)
    if not os.path.exists(os.path.join(snap, "expected.json")):
        subprocess.run([sys.executable, "-m", "perfbench.nvd_mirror", snap,
                        ctx.work_dir, str(ctx.scale)], cwd=feeds._ROOT, check=True)
    with open(os.path.join(snap, "expected.json")) as f:
        ctx.base = json.load(f)
    ctx.store_path = os.path.join(ctx.work_dir, "store")
    shutil.copytree(os.path.join(snap, "store"), ctx.store_path)
    feed_dir = os.path.join(ctx.work_dir, "feeds")
    ctx.seeded = feeds.write_year_feeds(feed_dir, ctx.seed, SEEDED_YEARS, ctx.scale)
    ctx.recent = feeds.write_recent_feeds(
        feed_dir, ctx.seed, max(1, ctx.seconds // SECONDS_PER_PASS), ctx.scale)


def _store_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def _traced_ingest(ctx, etl, ingest_feed):
    """``ingest_feed`` with its sub-layers measured first: each ``etl``
    function is called on its own and its output persisted and counted
    before the next one uses it. The probe only reads; the real
    ``ingest_feed`` then does the write, under its own span."""

    def traced(spark, store, feed_path, deltas=True):
        tracer = ctx.tracer
        with tracer.span("nvd.parse") as sp:
            items = etl.cve_items(etl.read_feed(spark, feed_path)).persist()
            sp.attrs["rows"] = items.count()
        with tracer.span("nvd.dedup_within") as sp:
            unique = etl.dedup_within(items).persist()
            sp.attrs["rows"] = unique.count()
        with tracer.span("nvd.anti_join") as sp:
            delta = etl.deltas_only(unique, store.cve_ids()).persist()
            new_rows = sp.attrs["rows"] = delta.count()
        for df in (delta, unique, items):
            df.unpersist()
        with tracer.span("nvd.ingest_feed") as sp:
            result = ingest_feed(spark, store, feed_path, deltas)
            sp.attrs["loaded"] = result.loaded
        ctx.check(result.loaded == new_rows,
                  f"traced probe found {new_rows} new rows, ingest loaded {result.loaded}")
        return result

    return traced


def _trace_store(ctx, store):
    """Span ``count_cves`` and ``append`` on this store instance."""
    count_cves, append = store.count_cves, store.append

    def traced_count():
        with ctx.tracer.span("nvd.count_cves"):
            return count_cves()

    def traced_append(df):
        before, _ = _store_files(store.path)
        with ctx.tracer.span("nvd.append") as sp:
            append(df)
        sp.attrs["files"] = _store_files(store.path)[0] - before

    store.count_cves, store.append = traced_count, traced_append


def _store_query(ctx, store, name: str, sql: str):
    """One end-user query: fresh ``NvdStore.read()`` (so the newest
    files are listed), plan, execute, rows to the client."""
    with ctx.tracer.span("nvd.store_query", query=name) as sp:
        store.read().createOrReplaceTempView("nvd")
        df = ctx.spark.sql(sql)
        if ctx.traced:
            with ctx.tracer.span("nvd.store_query_catalyst"):
                force_plan(df)
        with ctx.tracer.span("nvd.store_query_exec"):
            rows = df.collect()
    ctx.samples["read"].append(sp.seconds)
    return rows


def run(ctx) -> None:
    from bq_nvd_spark.nvd import etl, pipeline
    from bq_nvd_spark.nvd.etl import NvdStore

    spark = ctx.spark
    threshold = _threshold(ctx.scale)
    base, seeded, store_path = ctx.base, ctx.seeded, ctx.store_path
    expected_ids = base["unique_ids"] + seeded.unique_ids
    expected_linux = base["linux_ids"] + seeded.linux_ids
    if expected_ids <= threshold:
        raise RuntimeError(f"generated {expected_ids} CVEs, not above the bootstrap threshold")

    store = NvdStore(spark, store_path)
    if ctx.traced:
        _trace_store(ctx, store)
        pipeline.ingest_feed = _traced_ingest(ctx, etl, pipeline.ingest_feed)
    rng = random.Random(f"probe-{ctx.seed}")
    tracer = ctx.tracer

    ctx.attempted += 1
    with tracer.span("nvd.bootstrap") as sp:
        results = ctx.guard(lambda: pipeline.run(
            spark, store, seeded.paths, bootstrap_threshold=threshold))
    ctx.samples["batch"].append(sp.seconds)
    if results is not None:
        ctx.check(len(results) == len(SEEDED_YEARS) and not any(r.skipped for r in results)
                  and sum(r.loaded for r in results) == seeded.unique_ids,
                  f"bootstrap loaded {[r.loaded for r in results]}, expected {seeded.unique_ids} in total")

    for pass_no, feed in enumerate(ctx.recent):
        ctx.attempted += 1
        with tracer.span("nvd.refresh_pass", feed=pass_no) as sp:
            results = ctx.guard(lambda: pipeline.run(
                spark, store, seeded.paths, recent_feed=feed.path, bootstrap_threshold=threshold))
        ctx.samples["op"].append(sp.seconds)
        expected_ids += len(feed.new_ids)
        expected_linux += feed.new_linux
        if results is not None:
            ctx.check(len(results) == 1, f"pass {pass_no} took the bootstrap path ({len(results)} feeds)")
            ctx.check(results[0].loaded == len(feed.new_ids)
                      and results[0].skipped == (not feed.new_ids),
                      f"pass {pass_no} loaded {results[0].loaded}, expected {len(feed.new_ids)}")
        queries = [("count", COUNT_SQL, lambda rows: rows[0]["Count"] == expected_ids),
                   ("flagship", FLAGSHIP_SQL,
                    lambda rows: len(rows) == expected_linux == len({r["ID"] for r in rows}))]
        if feed.ids:
            probe_id = rng.choice(feed.ids)
            queries.append(("projection", PROJECTION_SQL.format(cve_id=probe_id),
                            lambda rows, want=probe_id: len(rows) == 1 and rows[0]["ID"] == want))
        for name, sql, ok in queries:
            ctx.attempted += 1
            rows = ctx.guard(lambda: _store_query(ctx, store, name, sql))
            if rows is not None:
                ctx.check(ok(rows), f"pass {pass_no} store query {name} returned a wrong result")

    # Untimed end-of-run checks.
    from pyspark.sql import functions as F

    dup_ids = (store.read().groupBy(F.col(etl.ID_COL)).count()
               .filter("count > 1").count())
    ctx.check(dup_ids == 0, f"store holds {dup_ids} duplicate IDs")
    stored = store.count_cves()
    ctx.check(stored == expected_ids, f"count_cves is {stored}, expected {expected_ids}")
    ctx.store_layout = _store_files(store_path) + (stored,)


def per_layer(ctx) -> dict[str, float]:
    """Per-layer figures of a traced ``nvd_mirror`` run.

    Bootstrap-side times are sums over the bootstrap's feeds; refresh-side
    times and row counts are medians over the refresh passes; store query
    splits are medians over store queries; jobs and stages are medians
    over ``ingest_feed`` calls."""
    tr = ctx.tracer
    boot = tr.named("nvd.bootstrap")[0]
    boot_ids = {s.id for s in tr.subtree(boot)}
    passes = tr.named("nvd.refresh_pass")

    def in_boot(name):
        return [s for s in tr.named(name) if s.id in boot_ids]

    def per_pass(name, value=lambda s: s.seconds):
        out = []
        for p in passes:
            spans = [s for s in tr.subtree(p) if s.name == name]
            out.append(sum(value(s) for s in spans))
        return median(out)

    read = per_pass("nvd.parse", lambda s: s.attrs["rows"])
    unique = per_pass("nvd.dedup_within", lambda s: s.attrs["rows"])
    delta = per_pass("nvd.anti_join", lambda s: s.attrs["rows"])
    loaded = per_pass("nvd.ingest_feed", lambda s: s.attrs["loaded"])
    ingests = tr.named("nvd.ingest_feed")
    files, size, stored = ctx.store_layout
    return {
        "nvd.parse_s": sum(s.seconds for s in in_boot("nvd.parse")),
        "nvd.dedup_within_s": sum(s.seconds for s in in_boot("nvd.dedup_within")),
        "nvd.ingest_jobs": median([sum(x.jobs for x in tr.subtree(s)) for s in ingests]),
        "nvd.ingest_stages": median([sum(x.stages for x in tr.subtree(s)) for s in ingests]),
        "nvd.count_cves_s": per_pass("nvd.count_cves"),
        "nvd.anti_join_s": per_pass("nvd.anti_join"),
        "nvd.append_s": per_pass("nvd.append"),
        "nvd.append_files": per_pass("nvd.append", lambda s: s.attrs["files"]),
        "nvd.rows_read": read,
        "nvd.rows_within_dup": read - unique,
        "nvd.rows_already_stored": unique - delta,
        "nvd.rows_loaded": loaded,
        "nvd.loaded_ratio": loaded / read if read else 0.0,
        "nvd.store_files": files,
        "nvd.store_bytes_per_cve": size / stored if stored else 0.0,
        "nvd.store_query_catalyst_s": median([s.seconds for s in tr.named("nvd.store_query_catalyst")]),
        "nvd.store_query_exec_s": median([s.seconds for s in tr.named("nvd.store_query_exec")]),
    }


def summary(ctx) -> dict[str, tuple]:
    """The mirror's own names for the report: bootstrap, refresh and
    store-query times, and for tails the percentile and sample count."""
    return {
        "bootstrap_s": (ctx.samples["batch"][0],),
        "refresh_p50_s": (median(ctx.samples["op"]),),
        "refresh_tail_s": tail(ctx.samples["op"]),
        "store_query_p50_s": (median(ctx.samples["read"]),),
        "store_query_tail_s": tail(ctx.samples["read"]),
    }


if __name__ == "__main__":
    build_snapshot(sys.argv[1], sys.argv[2], float(sys.argv[3]))
