#!/usr/bin/env python
"""End-to-end demo mirroring the reference's two entry points
(AmazonKinesisRecordProducerSample / AmazonKinesisRecordConsumerSample):
a producer streams enveloped records, a consumer decodes them with DLQ
semantics and checkpointing, then shuts down gracefully.

Run: python examples/producer_consumer_demo.py [seconds]

Differences from the reference, by design (SURVEY.md §3.4):
- the KCL scheduler/lease/DynamoDB machinery is Spark's micro-batch
  execution + checkpointLocation — zero user code;
- poison records land in a durable DLQ instead of being retried 10× and
  silently dropped (Proc:63-91);
- throughput: the reference caps at ~2 rec/s (500 ms sleep per blocking
  put, Prod:136); this demo defaults to 200 rec/s on one laptop core and
  scales linearly with input partitions.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_sample_spark.session import get_spark
from kinesis_sample_spark.streaming.envelope import rate_producer
from kinesis_sample_spark.streaming.observe import batch_progress, observed_totals
from kinesis_sample_spark.streaming.pipeline import stop_query


def main(run_seconds: float = 5.0) -> None:
    spark = get_spark("demo", cpus=4)
    work = tempfile.mkdtemp(prefix="kss_demo_")
    try:
        _demo(spark, work, run_seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _demo(spark, work: str, run_seconds: float) -> None:
    # --- producer (A1/A2) → consumer decode/DLQ (A11/A12), live with a
    # processing-time trigger ≈ the reference's continuous loop. (The
    # bounded-replay variant of this pipeline, consume_with_dlq over a
    # file source, is exercised in tests/test_streaming.py.)
    from kinesis_sample_spark.streaming.envelope import decode_envelope
    from kinesis_sample_spark.streaming.dlq import split_dlq

    from pyspark.sql import functions as F

    decoded = decode_envelope(rate_producer(spark, rows_per_second=200))
    good, _ = split_dlq(decoded, "event_ts")
    # A17's in-plan metric channel (the KCL metricsConfig analog, q186):
    # per-batch partial aggregates reported in the query's progress
    good = good.observe(
        "demo_metrics",
        F.count(F.lit(1)).alias("n_good"),
        F.sum(F.length("payload")).alias("payload_bytes"),
    )
    live = (
        good.writeStream.format("memory")
        .queryName("live")
        .option("checkpointLocation", f"{work}/ckpt_live")
        .trigger(processingTime="1 second")
        .start()
    )
    time.sleep(run_seconds)
    stop_query(live, timeout_s=20.0)  # A16 graceful shutdown

    n = spark.sql("SELECT count(*) AS n FROM live").collect()[0].n
    rate = n / run_seconds
    print(f"consumed {n} records in ~{run_seconds:.0f}s (≈{rate:.0f} rec/s; reference: ~2 rec/s)")
    for p in batch_progress(live)[-3:]:
        print(f"  batch {p.batchId}: {p.numInputRows} rows -> {p.sink.description[:60]}")
    print(f"observed metric totals across batches: {observed_totals(live, 'demo_metrics')}")

    # --- A9/A13 made visible: a STATEFUL stage (windowed counts) whose
    # checkpointed state we read back AFTER shutdown with Spark 4's batch
    # state-metadata / statestore sources — the same audit q331 gates.
    # The checkpoint IS the durable consumer position + state; this is
    # what a resume (A9) would pick up.
    agg = (
        decode_envelope(rate_producer(spark, rows_per_second=200))
        .withWatermark("event_ts", "2 seconds")
        .groupBy(F.window("event_ts", "1 second"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck_agg = f"{work}/ckpt_agg"
    q2 = (
        agg.writeStream.format("memory")
        .queryName("agg_live")
        .outputMode("update")
        .option("checkpointLocation", ck_agg)
        .trigger(processingTime="1 second")
        .start()
    )
    time.sleep(run_seconds)
    stop_query(q2, timeout_s=20.0)
    # a batch reports progress only after its commit, and a short run can
    # stop before the first one (the state metadata exists before it)
    if not batch_progress(q2):
        print(f"state store after shutdown: no batch committed in {run_seconds}s")
    else:
        md = (
            spark.read.format("state-metadata").load(ck_agg)
            .select("operatorName", "maxBatchId")
            .collect()[0]
        )
        n_keys = spark.read.format("statestore").load(ck_agg).count()
        print(
            f"state store after shutdown: operator={md.operatorName} "
            f"last_batch={md.maxBatchId} window_keys_held={n_keys} "
            f"(read back cold from {ck_agg})"
        )


if __name__ == "__main__":
    main(float(sys.argv[1]) if len(sys.argv) > 1 else 5.0)
