"""Query registry — single source of truth for the driver contract.

Each operator from SURVEY.md §2 registers here once, with:
- a Spark callable ``(spark, sf_dir) -> DataFrame`` (the engine path), and
- an ANSI-SQL oracle string for DuckDB (the correctness gate).

``__spark_entry__.py`` just re-exports this registry. Column names are
aliased identically on both sides (driver hashes values after sorting
columns by name).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str):
    """Decorator: register a query implementation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


_MODULES = (
    "kinesis_sample_spark.queries.relational",
    "kinesis_sample_spark.queries.advanced",
    "kinesis_sample_spark.queries.tpch_more",
    "kinesis_sample_spark.queries.tpch_deep",
    "kinesis_sample_spark.queries.sampling_rollup",
    "kinesis_sample_spark.queries.contamination",
    "kinesis_sample_spark.queries.semantics",
    "kinesis_sample_spark.queries.extras",
    "kinesis_sample_spark.queries.corpus_quality",
    "kinesis_sample_spark.queries.capstone",
    "kinesis_sample_spark.queries.stats",
    "kinesis_sample_spark.queries.funnels",
    "kinesis_sample_spark.queries.streaming_live",
    "kinesis_sample_spark.queries.windows",
    "kinesis_sample_spark.queries.scalar",
    "kinesis_sample_spark.queries.stream_batch",
    "kinesis_sample_spark.queries.dedup",
    "kinesis_sample_spark.queries.similarity",
    "kinesis_sample_spark.queries.text",
    "kinesis_sample_spark.queries.multimodal",
    "kinesis_sample_spark.queries.pipeline_ops",
    "kinesis_sample_spark.queries.graph",
    "kinesis_sample_spark.queries.reweighting",
    "kinesis_sample_spark.queries.redaction",
    "kinesis_sample_spark.queries.formats",
    "kinesis_sample_spark.queries.versioning",
    "kinesis_sample_spark.queries.retrieval",
    "kinesis_sample_spark.queries.cogroup",
    "kinesis_sample_spark.queries.sketches",
    "kinesis_sample_spark.queries.pysource",
    "kinesis_sample_spark.queries.spark4",
    "kinesis_sample_spark.queries.graph_metrics",
    "kinesis_sample_spark.queries.temporal",
    "kinesis_sample_spark.queries.robuststats",
    "kinesis_sample_spark.queries.bizaudit",
    "kinesis_sample_spark.queries.textcal",
    "kinesis_sample_spark.queries.opstats",
    "kinesis_sample_spark.queries.inference",
    "kinesis_sample_spark.queries.frontier",
    "kinesis_sample_spark.queries.sqlprog",
    "kinesis_sample_spark.queries.physical",
)


def load_registry() -> dict[str, Query]:
    """Import all query modules (idempotent) and return the registry in
    registration order."""
    for mod in _MODULES:
        importlib.import_module(mod)
    return REGISTRY
