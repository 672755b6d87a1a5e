"""Query-registry entry point for the PySpark engine.

``entry(spark)`` runs the flagship query as a smoke check; ``queries()``
maps every registered query name to its ``fn(spark, sf_dir)``, and
``oracle_sql()`` maps each query that has one to its DuckDB SQL twin.
``tests/run_verify.py`` runs every query at sf=0.01 and compares it
against its oracle (row count, column names, order-insensitive values).

All real logic lives in ``batch_processing_new_spark``; this module is a
thin re-export of its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from batch_processing_new_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    specs = registry.all_specs()
    return specs["q01_pricing_summary"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted => rows-only)."""
    return registry.all_oracles()
