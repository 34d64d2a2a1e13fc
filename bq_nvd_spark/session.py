"""SparkSession factory tuned for the engine's workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration knobs are the ones that matter on a 1000-executor cluster:
AQE (runtime shuffle-partition coalescing + skew-join splitting), a
generous broadcast threshold so dimension tables never shuffle, and
Arrow-backed Python interop for the few Pandas-UDF code paths.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)


#: Runtime-settable confs every session gets: ``get_spark`` builds them
#: in, and ``tune_session`` applies them to a session the driver built.
RUNTIME_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # The driver testdata's events.ts carries parquet TIMESTAMP(NANOS),
    # which Spark rejects by default; with this flag it scans as
    # epoch-nanos longs and the scan layer converts to microseconds.
    # Set at session prep — never as a side effect of a table read.
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # Arrow-batch the Python UDTF boundary (plans/python_udfs.py::
    # udtf_token_chunks) — pickled row-at-a-time transfer otherwise.
    ("spark.sql.execution.pythonUDTF.arrow.enabled", "true"),
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bq-nvd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    The driver may hand us an externally-built session; these settings only
    apply when we own session construction (tests, bench.py, pipeline CLI).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Dimension tables (region/nation/customer/supplier/part at test SFs,
        # and the dedup ID-set in the NVD pipeline) should broadcast, never
        # shuffle. 64 MiB is safe for 128 GiB executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(map=dict(RUNTIME_CONFS))
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally-provided session."""
    for key, value in RUNTIME_CONFS:
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # pragma: no cover - conf may be static
            # A static/locked conf (e.g. a shared cluster session) is
            # survivable — queries still run, just without this tuning —
            # but silently so was not: nanosAsLong in particular changes
            # how events.ts scans, so leave a trace for the operator.
            _LOG.warning("tune_session: could not set %s=%s: %s", key, value, exc)
    return spark
