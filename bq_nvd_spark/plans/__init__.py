"""Query plans: the engine's user-facing query surface.

Importing this package populates the registry (``QUERIES`` / ``ORACLES``)
with every declared operator from SURVEY.md §2; ``query()`` keeps the
``DRIVER_WINDOW`` names first whatever the import order.
"""

from bq_nvd_spark.plans.registry import DRIVER_WINDOW, ORACLES, QUERIES

# These imports populate QUERIES/ORACLES as a side effect.
from bq_nvd_spark.plans import (  # noqa: F401
    classify,
    clustering,
    curation,
    events,
    funnels,
    layout,
    llm,
    nested,
    nvd_ingest,
    pq,
    privacy,
    python_udfs,
    quantization,
    relational,
    sampling,
    similarity_search,
    sketches,
    skew_scale,
    spans,
    sql_surface,
    temporal_joins,
    warehouse,
)
from bq_nvd_spark import streaming  # noqa: F401  (registers streaming queries)

__all__ = ["DRIVER_WINDOW", "QUERIES", "ORACLES"]
