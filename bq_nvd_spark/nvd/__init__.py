"""Layer A — the NVD ingest pipeline (SURVEY.md §2.1–§2.2, §2.9)."""

from bq_nvd_spark.nvd.download import (
    download_feed,
    download_feeds,
    feed_names,
    feed_url,
)
from bq_nvd_spark.nvd.etl import (
    NvdStore,
    cve_items,
    dedup_within,
    deltas_only,
    nvd_store_integrity,
    read_cve_ndjson,
    read_feed,
    write_ndjson,
)
from bq_nvd_spark.nvd.pipeline import BOOTSTRAP_THRESHOLD, IngestResult, ingest_feed, run
from bq_nvd_spark.nvd.schema import feed_schema, nvd_schema, parse_bq_json_schema

__all__ = [
    "BOOTSTRAP_THRESHOLD",
    "IngestResult",
    "NvdStore",
    "cve_items",
    "dedup_within",
    "deltas_only",
    "download_feed",
    "download_feeds",
    "feed_names",
    "feed_schema",
    "feed_url",
    "ingest_feed",
    "nvd_schema",
    "nvd_store_integrity",
    "parse_bq_json_schema",
    "read_cve_ndjson",
    "read_feed",
    "run",
    "write_ndjson",
]
