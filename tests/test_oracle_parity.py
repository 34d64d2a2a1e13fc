"""Mirror of the driver's correctness gate: run every registered Spark
query and its DuckDB oracle on the same parquet tables and require an
exact (order-insensitive) match on row count, column names, DTYPES, and
values.  The dtype check is canonical-vocabulary (oracle_compare.py),
so a DuckDB HUGEINT (``SUM`` over BIGINT without a cast) fails here the
way it fails at the driver — ``repr``-level value equality is not
enough.

Runs at sf0.001 for speed; the driver repeats this at sf0.01.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from bq_nvd_spark.oracle_compare import (
    duck_schema_map,
    rowset,
    schema_mismatches,
    spark_schema_map,
)
from bq_nvd_spark.plans import DRIVER_WINDOW, ORACLES, QUERIES
from bq_nvd_spark.sources.tables import TABLES


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns
    spark_types = spark_schema_map(sdf)

    if name not in ORACLES:
        # The driver records a weaker rows-only check for genuinely
        # non-SQL-reproducible queries (engine-specific sketch
        # estimates). Mirror that: non-empty result, stable schema.
        assert spark_rows, f"{name}: rows-only query returned nothing"
        assert spark_cols and spark_types
        return
    con = duck_connection(sf_dir)
    rel = con.sql(ORACLES[name])
    duck_cols = rel.columns
    duck_types = duck_schema_map(rel)
    duck_rows = rel.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    dtype_diffs = schema_mismatches(spark_types, duck_types)
    assert not dtype_diffs, f"{name}: dtype mismatch {dtype_diffs}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_norm = rowset(spark_cols, [tuple(r) for r in spark_rows])
    d_norm = rowset(duck_cols, duck_rows)
    mismatches = [
        (i, s, d) for i, (s, d) in enumerate(zip(s_norm, d_norm)) if s != d
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_registry_consistency():
    assert QUERIES, "no queries registered"
    orphan_oracles = set(ORACLES) - set(QUERIES)
    assert not orphan_oracles


def test_driver_window_leads_the_registry():
    """The driver oracle-checks the first 50 registered names: they must
    be exactly ``DRIVER_WINDOW``, every one registered, none twice."""
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)
    assert set(DRIVER_WINDOW) <= QUERIES.keys()
    assert list(QUERIES)[:50] == list(DRIVER_WINDOW)


def _registry_order(first_import: str) -> list[list[str]]:
    probe = (
        f"import {first_import}\n"
        "import json\n"
        "from bq_nvd_spark.plans import ORACLES, QUERIES\n"
        "print(json.dumps([list(QUERIES), list(ORACLES)]))\n"
    )
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1", PYTHONPATH=REPO_ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.splitlines()[-1])


def test_registry_order_is_independent_of_import_order():
    """``import bq_nvd_spark.streaming`` first re-enters ``plans`` midway
    through streaming's own registration; both orders must give the same
    registry, and the same one this process sees."""
    plans_first = _registry_order("bq_nvd_spark.plans")
    assert _registry_order("bq_nvd_spark.streaming") == plans_first
    assert plans_first == [list(QUERIES), list(ORACLES)]
