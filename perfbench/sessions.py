"""Start, warm and stop the program's Spark session."""

from __future__ import annotations

import os


def warm_up(spark) -> None:
    """The one warm-up action of set-up: a pandas UDF over a small range,
    which starts the JVM's code generation and the Python workers."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def identity(s):
        return s

    cpus = len(os.sched_getaffinity(0))
    spark.range(0, 1 << 16, numPartitions=cpus).select(
        F.sum(identity("id"))).collect()


def stop(spark) -> None:
    """Stop the context, close the gateway and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
