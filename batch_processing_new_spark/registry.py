"""Named-query registry: a plain name -> ``QuerySpec`` map.

Every implemented operator registers a query here via the ``@query``
decorator; ``__spark_entry__.py`` re-exports the registry. A query carries:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``oracle`` — an equivalent ANSI/DuckDB SQL string over the pre-registered
  views (``region nation customer supplier part orders lineitem events
  documents embeddings``), or ``None`` for non-SQL-expressible operators
  (those get a rows-only check plus dedicated pytest invariants in
  ``tests/``).

``all_specs()`` returns the queries in registration order (module order
in ``_QUERY_MODULES``, then definition order within a module).

Column-name contract: every computed column is aliased identically on both
sides (the oracle check sorts columns by name before comparing values).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules whose import registers queries.
_QUERY_MODULES = [
    "batch_processing_new_spark.operators.relational",
    "batch_processing_new_spark.operators.relational_ext",
    "batch_processing_new_spark.operators.grouped_map",
    "batch_processing_new_spark.operators.text_analysis",
    "batch_processing_new_spark.operators.dedup",
    "batch_processing_new_spark.operators.analytics",
    "batch_processing_new_spark.operators.similarity",
    "batch_processing_new_spark.operators.enrich_queries",
    "batch_processing_new_spark.operators.multimodal",
    "batch_processing_new_spark.operators.training_mix",
    "batch_processing_new_spark.operators.udtf_ops",
    "batch_processing_new_spark.operators.scale",
    "batch_processing_new_spark.operators.web_prep",
    "batch_processing_new_spark.operators.corpus_stats",
    "batch_processing_new_spark.operators.layout",
    "batch_processing_new_spark.operators.scoring",
    "batch_processing_new_spark.operators.graph",
    "batch_processing_new_spark.operators.experiments",
    "batch_processing_new_spark.operators.bpe",
    "batch_processing_new_spark.operators.activity",
    "batch_processing_new_spark.operators.quality_audit",
    "batch_processing_new_spark.operators.versioning",
    "batch_processing_new_spark.operators.evaluation",
    "batch_processing_new_spark.operators.clustering",
    "batch_processing_new_spark.plans.corpus_pipeline",
    "batch_processing_new_spark.sources.excel",
    "batch_processing_new_spark.sources.scraped",
    "batch_processing_new_spark.sources.pydatasource",
    "batch_processing_new_spark.sources.kafka_shim",
    "batch_processing_new_spark.streaming.stream_queries",
    "batch_processing_new_spark.streaming.incremental",
]

_loaded = False


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_specs() -> dict[str, QuerySpec]:
    _load()
    return dict(_REGISTRY)


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
