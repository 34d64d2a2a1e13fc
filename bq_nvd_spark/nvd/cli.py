"""CLI entry point — the Spark twin of the reference's ``bq-nvd.py``.

``python -m bq_nvd_spark.nvd`` runs the same four-step pipeline the
reference's ``main()`` documents (reference bq-nvd.py:153-163): download
→ extract → transform → load, behind the same greenfield check — count
the stored CVEs, bootstrap the full per-year backfill when the count is
below the 130k sanity threshold, else one incremental pass over the
``recent`` feed (bq-nvd.py:70-104).

Configuration mirrors the reference's precedence exactly (reference
bq-nvd.py:26-47): each setting is read from an OS environment variable of
the same name; if ANY variable is missing the whole set is loaded from
the YAML config file instead (``./config.yml`` by default, overridable
with ``--config``). This all-or-nothing fallback is the reference's
documented behavior ("to support local running or GKE"), not an
accident, and tests pin it.

Settings (reference config.yml:1-23, adapted to the Spark engine):

    local_path    landing directory for downloaded feed artifacts
    store_path    parquet store location — the analog of the reference's
                  project/dataset/bucket trio, which all describe WHERE
                  the table lives (here: one path)
    nvd_schema    path to the BQ-JSON schema document (optional; the
                  packaged ``nvd_schema.json`` is the default)
    url_base      NVD feed URL base; ``file://`` works for offline runs
    file_prefix   feed artifact prefix (``nvdcve-1.1-``)
    file_suffix   feed artifact suffix (``.json.gz``)
    store_format  optional sink format (parquet default; see etl.NvdStore)
    first_feed_year / last_feed_year
                  optional bootstrap range override — the reference
                  hardcodes 2002..current-year (bq-nvd.py:90-92); tests
                  narrow it so an offline fixture set suffices
    bootstrap_threshold
                  optional greenfield cutoff override (130000 default,
                  reference bq-nvd.py:81) — injectable for tests, same
                  as pipeline.run()
"""

from __future__ import annotations

import os
import sys
import traceback
from datetime import datetime

from bq_nvd_spark.nvd.download import (
    FEED_PREFIX,
    FEED_SUFFIX,
    FIRST_FEED_YEAR,
    URL_BASE,
    download_feed,
)
from bq_nvd_spark.nvd.etl import NvdStore
from bq_nvd_spark.nvd.pipeline import BOOTSTRAP_THRESHOLD, IngestResult, run

# Reference bq-nvd.py:26-35 — the settings roster. Everything is
# env-var-first; one missing variable sends the WHOLE set to the yaml
# file, matching the reference's load_from_yaml flag.
REQUIRED_VARS = ["local_path", "store_path", "url_base"]
OPTIONAL_VARS = [
    "nvd_schema",
    "file_prefix",
    "file_suffix",
    "store_format",
    "first_feed_year",
    "last_feed_year",
    "bootstrap_threshold",
]
DEFAULTS = {
    "url_base": URL_BASE,
    "file_prefix": FEED_PREFIX,
    "file_suffix": FEED_SUFFIX,
}


def print_debug(message: str) -> None:
    """Reference bq-nvd.py:57-61 — progress lines on stdout for the
    scheduler's log collector."""
    print("+++ bq_nvd_spark debug: " + message)


def print_error_and_exit(message: str, exception: Exception, signal: int) -> None:
    """Reference bq-nvd.py:63-68 — stack trace to stdout, then exit."""
    print(message + ": " + str(exception))
    traceback.print_exc(file=sys.stdout)
    sys.exit(signal)


def build_config(config_path: str = "./config.yml") -> dict:
    """Env-vars-else-yaml, the reference's exact precedence
    (bq-nvd.py:26-47): if every required variable is present in the
    environment, the environment wins wholesale; otherwise the yaml file
    is loaded wholesale."""
    config = {}
    load_from_yaml = False
    for var in REQUIRED_VARS:
        if os.environ.get(var):
            config[var] = os.environ.get(var)
        else:
            load_from_yaml = True

    if load_from_yaml:
        import yaml

        try:
            with open(config_path) as f:
                config = yaml.safe_load(f) or {}
        except (OSError, yaml.YAMLError) as e:
            print_error_and_exit("yaml config load failed", e, 1)
    else:
        for var in OPTIONAL_VARS:
            if os.environ.get(var):
                config[var] = os.environ.get(var)

    for key, value in DEFAULTS.items():
        config.setdefault(key, value)
    missing = [v for v in REQUIRED_VARS if not config.get(v)]
    if missing:
        print_error_and_exit(
            "incomplete configuration", KeyError(", ".join(missing)), 1
        )
    return config


def _fetch(config: dict, name: str) -> str:
    """Step 1 — download one feed artifact (reference bq-nvd.py:106-114)."""
    print_debug("downloading " + name)
    try:
        return download_feed(
            name,
            config["local_path"],
            url_base=config["url_base"],
            prefix=config["file_prefix"],
            suffix=config["file_suffix"],
        )
    except RuntimeError as e:
        print_error_and_exit("download failed", e, 1)
        raise AssertionError("unreachable")


def run_cli(config: dict, spark=None) -> list[IngestResult]:
    """check_bootstrap → bootstrap-or-incremental, reference
    bq-nvd.py:70-104 + main():153-163, through ``pipeline.run``. Feeds
    are downloaded lazily: the year feeds one by one only when the run
    bootstraps, ``recent`` only on an incremental pass."""
    if spark is None:
        from bq_nvd_spark.session import get_spark

        spark = get_spark(app_name="bq-nvd-spark-cli")

    store = NvdStore(
        spark,
        config["store_path"],
        format=config.get("store_format", "parquet"),
        schema_path=config.get("nvd_schema"),
    )
    first = int(config.get("first_feed_year", FIRST_FEED_YEAR))
    last = int(config.get("last_feed_year", datetime.now().year))

    def year_feeds():
        print_debug("bootstrapping")  # reference bq-nvd.py:88
        for year in range(first, last + 1):
            yield _fetch(config, str(year))

    def recent_feed():
        print_debug("doing incremental update")  # reference bq-nvd.py:100
        return _fetch(config, "recent")

    threshold = int(config.get("bootstrap_threshold", BOOTSTRAP_THRESHOLD))
    results = run(spark, store, year_feeds(), recent_feed, bootstrap_threshold=threshold)
    # Steps 2-4 ran as one declarative extract+transform+load pass per
    # feed; the reference runs them as three driver-side stages
    # (bq-nvd.py:116-150).
    for result in results:
        if result.skipped:
            print_debug("no updates to load")  # reference bq-nvd.py:141-143
        else:
            print_debug(f"loaded {result.loaded} CVEs from {result.feed_path}")
    return results


def main(argv: list[str] | None = None) -> int:
    import argparse

    parser = argparse.ArgumentParser(
        prog="python -m bq_nvd_spark.nvd",
        description="Mirror NVD JSON feeds into a Spark-managed store.",
    )
    parser.add_argument(
        "--config",
        default="./config.yml",
        help="yaml settings file, used only when env vars are incomplete",
    )
    args = parser.parse_args(argv)
    run_cli(build_config(args.config))
    return 0
