"""Structured Streaming surface: readStream twins of the batch plans."""

from bq_nvd_spark.streaming.micro_batch import (  # noqa: F401
    run_available_now,
    stream_events,
    streaming_dedup_keys,
    streaming_static_enrich,
    streaming_tumbling_counts,
)
from bq_nvd_spark.streaming.foreach_sink import (  # noqa: F401
    ParquetUpsertStore,
    streaming_upsert_user_totals,
)
from bq_nvd_spark.streaming.stateful import (  # noqa: F401
    running_user_totals,
    stateful_user_totals,
)
