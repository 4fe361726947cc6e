"""Fixture catalog: load the driver's parquet tables and register SQL views.

Tables (TESTDATA.md / FIXTURES.md): TPC-H-ish star schema + ``events``
(the stand-in for the reference's Kinesis stream envelope —
AmazonKinesisRecordProducerSample.java:127-132) + ``documents`` /
``embeddings`` for the LLM-pipeline operators.

Scans stay declarative (``spark.read.parquet``) so Catalyst keeps
predicate pushdown / column pruning; at 100 TB these would be
partitioned-by-date tables and the same code path picks up partition
pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: runtime-settable confs every engine entry point needs, applied
#: defensively because the *driver* may hand us a session built without
#: kinesis_sample_spark.session.get_spark (e.g. the harness's own bare
#: SparkSession): without nanosAsLong the events table is unreadable
#: (Spark 4 rejects parquet TIMESTAMP(NANOS)); without UTC the timestamp
#: values drift against the DuckDB oracle.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # performance, not correctness: a bare session defaults to 200 shuffle
    # partitions — pure overhead at fixture scale; AQE re-coalesces anyway.
    "spark.sql.adaptive.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover — conf not recognized
            pass
    # Scale-adaptive shuffle sizing (optimization r16, guide §2.2): only a
    # BARE driver session, which never set the key and so runs at Spark's
    # static default (200), gets retuned, and to ITS core count — not a
    # constant. A session built by session.get_spark already sized this to
    # local[N], and a session that set 200 on purpose keeps it.
    try:
        # conf.get with a default returns that default when the key was
        # never set, even though the effective value is the static 200;
        # an explicitly set value, 200 included, comes back as set.
        if spark.conf.get("spark.sql.shuffle.partitions", None) is None:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:  # pragma: no cover — conf not recognized
        pass


#: (applicationId, sf_dir, table) → DataFrame. A catalog-level schema/plan
#: cache: the fixture tables are immutable, so the relation built on first
#: access (file listing + footer schema read, ~50 ms of driver time each)
#: is reusable for every later query in the same session. Keyed by
#: applicationId so a stopped session's relations are never reused.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Depending on the Spark
        # version it surfaces either as LongType nanoseconds (older, via
        # spark.sql.legacy.parquet.nanosAsLong) or as TIMESTAMP_NTZ with
        # ns→µs truncation (Spark ≥4.1 reads nanos natively). Normalize both
        # to TimestampType (LTZ): with the session timezone pinned to UTC the
        # NTZ→LTZ cast is value-preserving, and DuckDB applies the same
        # ns→µs truncation — both engines see identical timestamps, and
        # LTZ-only functions (unix_millis etc.) work.
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _RELATION_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view for ``spark.sql`` queries."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
