"""Observability — the reference's A17 (slf4j/MDC logs + CloudWatch
metrics via KCL metricsConfig, Cons:72/:80) read from the streaming query
itself.

A query keeps its own per-batch progress: ``numInputRows`` is the
reference's "Processing N records" log line (Proc:167), and
``observedMetrics`` carries the ``df.observe(name, exprs...)`` partials
computed inside the plan — Spark's equivalent of the KCL's CloudWatch
metric emission. Both are readable from the query as soon as it returns
from a drain, so nothing here waits on the asynchronous listener bus.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryProgress

_RETENTION_CONF = "spark.sql.streaming.numRecentProgressUpdates"


def batch_progress(query: StreamingQuery) -> list[StreamingQueryProgress]:
    """The query's per-batch progress, oldest first, one entry per
    executed micro-batch (no-data batches included).

    Spark keeps at most ``numRecentProgressUpdates - 1`` entries and drops
    the oldest beyond that, so a full history may already have lost
    batches: this raises instead of letting a caller undercount."""
    progress = query.recentProgress
    retention = int(SparkSession.active().conf.get(_RETENTION_CONF))
    if len(progress) >= retention - 1:
        raise RuntimeError(
            f"query {query.name or query.id} holds {len(progress)} progress "
            f"entries, the most {_RETENTION_CONF}={retention} retains; "
            f"earlier batches may have been dropped"
        )
    return progress


def observed_totals(query: StreamingQuery, name: str) -> dict:
    """Sum each metric that ``df.observe(name, ...)`` reported across the
    query's batches. Per-batch observed rows are partial aggregates over
    exactly that batch's input, so additive metrics (counts, integer
    sums) summed across batches equal the same aggregate over the whole
    bounded input — which makes the surface hash-checkable against batch
    SQL (q186 and the A17 smoke in ``__spark_entry__.entry``). None-safe:
    a batch with no matching rows observes NULL for sum-like metrics."""
    out: dict = {}
    for p in batch_progress(query):
        row = p.observedMetrics.get(name)
        if row is None:
            continue
        for k, v in row.asDict().items():
            if v is not None:
                out[k] = out.get(k, 0) + v
    return out
