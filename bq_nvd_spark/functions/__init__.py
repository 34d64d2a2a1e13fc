"""Curated column-function API (SURVEY §2.8 surface).

Reusable Column-level building blocks, re-exported from their
implementation homes so users compose them without knowing the package
internals. Everything here is a pure expression factory — no scans, no
actions — usable in any DataFrame context.
"""

from bq_nvd_spark.functions.text_metrics import (
    avg_token_len,
    rolling_fingerprint,
    stopword_ratio,
    token_count,
)
from bq_nvd_spark.operators.similarity import fold_dot

__all__ = [
    "avg_token_len",
    "fold_dot",
    "rolling_fingerprint",
    "stopword_ratio",
    "token_count",
]
