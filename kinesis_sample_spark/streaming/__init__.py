"""Structured Streaming layer — the reference's capability surface
(SURVEY.md §2 Table A), Spark-native.

The reference is a Kinesis producer (AmazonKinesisRecordProducerSample) +
KCL consumer (AmazonKinesisRecordConsumerSample/...RecordProcessor). Its
entire machinery — scheduler, leases, checkpoints, retries, graceful
shutdown — maps onto the Structured Streaming lifecycle (SURVEY.md §3.4):

- KCL Scheduler / shard leases   → micro-batch execution + source offsets
- DynamoDB checkpoint table      → ``checkpointLocation`` (offset WAL)
- per-record retry + poison skip → explicit DLQ split (streaming.dlq)
- graceful shutdown (stdin+20 s) → ``stop_query(query, timeout)``
- CloudWatch metrics             → the query's progress, read through observe.py
"""

from kinesis_sample_spark.streaming.envelope import (
    ENVELOPE_SCHEMA,
    envelope_from_events,
    rate_producer,
    decode_envelope,
)
from kinesis_sample_spark.streaming.dlq import split_dlq
from kinesis_sample_spark.streaming.pipeline import (
    stop_query,
    streaming_window_counts,
    streaming_dedup,
    consume_with_dlq,
)

__all__ = [
    "ENVELOPE_SCHEMA",
    "envelope_from_events",
    "rate_producer",
    "decode_envelope",
    "split_dlq",
    "stop_query",
    "streaming_window_counts",
    "streaming_dedup",
    "consume_with_dlq",
]
