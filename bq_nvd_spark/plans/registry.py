"""Registry pairing each Spark query plan with its ANSI-SQL oracle.

Contract (``__spark_entry__.py`` at the repository root): the driver
executes the Spark callable and the DuckDB oracle side by side and compares
row-count + schema + order-insensitive value-hash, so every computed column
MUST carry the same alias in both formulations, and float-producing
expressions are rounded identically on both sides to make the hash
deterministic.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bq_nvd_spark.session import tune_session

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: The external driver oracle-checks only the first 50 registered
#: queries; ``query()`` keeps these first, in this order. Rotate only at
#: a round's open: code-changed names first, then never-checked names,
#: then the stalest ``CORRECTNESS_r*.json`` evidence.
DRIVER_WINDOW = (
    "doc_gopher_quality_profile",
    "gopher_quality_census",
    "streaming_gopher_gate",
    "simhash_signatures",
    "simhash_near_dup_pairs",
    "rrf_fusion_topk",
    "hof_filter_transform_fold",
    "bloom_decontamination_census",
    "boilerplate_excised_docs",
    "boilerplate_lines_census",
    "doc_line_repetition_profile",
    "ivf_cell_census",
    "line_repetition_census",
    "quality_gate_agreement",
    "semdedup_pairs",
    "semdedup_survivors",
    "snapshot_dup_delta",
    "tokenizer_fertility_census",
    "sketch_distinct_accuracy",
    "streaming_approx_daily_users",
    "textrank_keywords",
    "theta_overlap_users",
    "token_length_histogram",
    "topk_orders_by_price",
    "vocab_growth_curve",
    "window_running_order_total",
    "window_top3_customers_per_nation",
    "asof_last_error_per_click",
    "bag_intersect_order_dates",
    "bm25_multi_query_topk",
    "bm25_topk_docs",
    "bpe_token_stats",
    "collocation_pmi_top",
    "cross_source_contamination_matrix",
    "dedup_cluster_size_histogram",
    "dedup_survivors",
    "dedup_survivors_by_quality",
    "deterministic_sample_docs",
    "doc_length_percentiles_by_lang",
    "doc_rolling_fingerprint",
    "edit_distance_verified_pairs",
    "json_extract_props",
    "lang_group_profile",
    "langid_ngram_pred",
    "multimodal_binary_meta",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_resize_thumb",
    "ngram_jaccard_adjacent",
    "nvd_assigner_stats",
)
_WINDOW_RANK = {name: rank for rank, name in enumerate(DRIVER_WINDOW)}


def _register(registry: dict, name: str, value) -> None:
    """Insert ``name``; window names lead in window order, the rest keep
    registration order, so the result is independent of import order."""
    registry[name] = value
    if name in _WINDOW_RANK:
        last = len(DRIVER_WINDOW)
        ranked = sorted(registry.items(), key=lambda kv: _WINDOW_RANK.get(kv[0], last))
        registry.clear()
        registry.update(ranked)


# Registered queries compose (dedup_survivors calls dedup_clusters, both
# registered), so the per-entry checkpoint release below must fire only
# at the TOP-LEVEL invocation — releasing mid-build would drop blocks
# the outer plan just pinned. Thread-local depth keeps streaming
# micro-batch threads (which never enter through the registry) out of
# the accounting.
_DEPTH = threading.local()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query plan; ``oracle`` is the DuckDB-runnable ANSI SQL.

    Pass ``oracle=None`` only for genuinely non-SQL-expressible operators
    (the driver then records a weaker rows-only check).

    The registered callable tunes the provided session first (AQE + the
    nanos-parquet legacy flag) — the driver hands us an externally-built
    SparkSession, and session prep belongs at the plan entry point, not
    as a hidden side effect inside the scan layer.
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            from bq_nvd_spark.operators import checkpoint as _ckpt

            depth = getattr(_DEPTH, "value", 0)
            if depth == 0:
                # A new top-level query means the previous one's result
                # has been consumed (engine-wide contract, see
                # operators/checkpoint.py): release the executor blocks
                # its stage_checkpoints pinned so a long-lived session
                # doesn't accumulate storage run over run. The entering
                # query's name goes into the release log line so an
                # interleaved-consumption crash is traceable to the
                # invocation that dropped the blocks.
                _ckpt.release_stage_checkpoints(spark, entering=name)
                # Stamp the top-level name on this thread so every pin
                # the plan creates records its owner.
                _ckpt._CURRENT_QUERY.name = name
            _DEPTH.value = depth + 1
            try:
                return fn(spark, sf_dir)
            finally:
                _DEPTH.value = depth
                if depth == 0:
                    _ckpt._CURRENT_QUERY.name = None

        _register(QUERIES, name, wrapper)
        if oracle is not None:
            _register(ORACLES, name, oracle)
        return wrapper

    return deco
