"""Emission-equivalence harness for the stream-stream join drains.

Round-16 left q106/q153 draining one file per trigger because coarser
batching *might* change what a stream-stream join emits (outer-join
nulls are watermark-timed). Round-17 proves it does not — for THESE two
queries, for the reasons documented on each query — by running the same
pipeline under the fine (1 file/trigger) and coarse (all 4 files in one
trigger) batchings and asserting the emitted MULTISETS are identical.
The queries' registered fns now use the coarse drain; this harness is
the standing guard that the batching stays emission-neutral (if Spark's
eviction semantics or the fixtures ever change so that batching matters,
these tests fail before the oracle does).

Queries deliberately NOT covered (and still fine-batched): q328
(event-time timeouts), q316 (rate-limit cadence), q331 (asserts file
counts), q164/q187-phase-1 (per-batch emission IS the law), q290-q293
(per-batch delivery counts).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from kinesis_sample_spark.streaming.pipeline import drain_to_memory

SF = "/root/testdata/sf0.01"


def _emitted(spark: SparkSession, stream_df: DataFrame, mode: str) -> Counter:
    name = drain_to_memory(stream_df, mode).name
    try:
        rows = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    return Counter(tuple(r) for r in rows)


def test_q106_inner_join_emission_batching_equivalent(spark):
    """Inner stream-stream join: each matched pair emits exactly once in
    whichever batch completes it; with the 3650-day watermark nothing is
    evicted, so the emitted multiset cannot depend on batching."""
    from kinesis_sample_spark.queries.streaming_live import _q106_joined

    fine = _emitted(spark, _q106_joined(spark, SF, files_per_trigger=1), "append")
    coarse = _emitted(spark, _q106_joined(spark, SF, files_per_trigger=4), "append")
    assert fine == coarse
    assert sum(coarse.values()) > 0  # the law is vacuous on an empty join


def test_q126_stream_static_enrich_batching_equivalent(spark):
    """Stateless broadcast enrich + complete-mode aggregate: the final
    table is the aggregate over all input under any batching."""
    from kinesis_sample_spark.queries.streaming_live import _q126_agg

    fine = _emitted(spark, _q126_agg(spark, SF, files_per_trigger=1), "complete")
    coarse = _emitted(spark, _q126_agg(spark, SF, files_per_trigger=4), "complete")
    assert fine == coarse
    assert sum(coarse.values()) > 0


def test_q153_left_outer_join_emission_batching_equivalent(spark):
    """Left-outer stream-stream join over the TIME-ORDERED replay: no row
    is ever late under any batching, no signup is evicted before its last
    possible match has arrived, and the null-padded set depends only on
    the final watermark — so fine and coarse drains must emit the same
    multiset, including the same null-padded rows."""
    from kinesis_sample_spark.queries.streaming_live import _q153_joined

    fine = _emitted(spark, _q153_joined(spark, SF, files_per_trigger=1), "append")
    coarse = _emitted(spark, _q153_joined(spark, SF, files_per_trigger=4), "append")
    assert fine == coarse
    nulls = sum(n for row, n in coarse.items() if row[2] is None)
    matched = sum(n for row, n in coarse.items() if row[2] is not None)
    # the law must be exercised on both emission kinds to mean anything
    assert nulls > 0, "fixture produced no watermark-timed null-padded rows"
    assert matched > 0, "fixture produced no inner matches"
