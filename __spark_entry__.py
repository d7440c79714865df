"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``rust_cdc_validator_spark`` package
(SURVEY.md §2 operator inventory; §7 build plan).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rust_cdc_validator_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: net-effect CDC replay (the reference's core capability,
    SURVEY.md §2.10 C3) on the sf0.001 events change log."""
    return QUERIES["cdc_net_effect_events"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The whole query catalog of ``queries.py``.

    The driver's CORRECTNESS_r{N}.json checks a fixed subset of it.
    tests/test_oracle_catalog.py runs every oracled query against DuckDB
    at sf0.001 in pytest, ``python tools/check_oracle.py`` runs the same
    comparison at sf0.01, and tests/test_goldens_sketch_ops.py pins the
    rows-only sketch queries."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omissions are the
    xxhash64-sketch ops, rows-only by design)."""
    return dict(ORACLES)
