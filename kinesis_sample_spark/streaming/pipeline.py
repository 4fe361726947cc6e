"""Streaming pipelines mirroring the reference consumer (SURVEY.md §2/§3).

Each builder takes a *streaming* DataFrame (envelope schema) and returns a
transformed streaming DataFrame; callers attach ``writeStream`` with a
``checkpointLocation`` (A13 — Spark checkpoints offsets per micro-batch,
strictly stronger than the reference's 60 s DynamoDB cadence, Proc:52).

Watermarks bound the state stores so these run indefinitely at any input
rate: state is per (key × open-window), not per record.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kinesis_sample_spark.operators.upsert import write_epoch
from kinesis_sample_spark.streaming.dlq import split_dlq
from kinesis_sample_spark.streaming.envelope import decode_envelope


def streaming_window_counts(
    env: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Decode (A12) → watermark → tumbling event-time window counts.
    The watermark drops data later than its bound and lets Spark purge
    window state — the piece the reference (processing-time only) lacks."""
    decoded = decode_envelope(env)
    good, _ = split_dlq(decoded, "event_ts")
    return (
        good.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), F.col("partitionKey"))
        .agg(F.count("*").alias("n_records"))
        .select(F.col("w.start").alias("w_start"), "partitionKey", "n_records")
    )


def streaming_dedup(env: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup on (partitionKey, sequenceNumber) —
    at-least-once replay (A14: reprocessing after lease loss) collapses to
    effectively-once output. State is bounded by the watermark."""
    decoded = decode_envelope(env)
    good, _ = split_dlq(decoded, "event_ts")
    return good.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        ["partitionKey", "sequenceNumber"]
    )


def consume_with_dlq(
    env: DataFrame,
    good_path: str,
    dlq_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """The full consumer loop (A10-A13) as ``foreachBatch``: decode, split
    poison records to a durable DLQ sink, write good records — both sinks
    written per micro-batch, offsets committed after. Each sink writes the
    batch to its own ``epoch=<id>`` directory (``write_epoch``), so a
    batch replayed after a crash between its sink write and its offset
    commit overwrites its first write: at-least-once delivery, no
    duplicate output. This is the engine's replacement for
    processRecordsWithRetries (Proc:63-91).

    Drains every available input through ``drain_available_now`` and
    returns the terminated query; a drain that misses its timeout raises
    with the query stopped."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        decoded = decode_envelope(batch_df)
        good, dlq = split_dlq(decoded, "event_ts")
        write_epoch(good.drop("data"), good_path, epoch_id)
        write_epoch(dlq.drop("data"), dlq_path, epoch_id)

    return drain_available_now(
        env.writeStream.foreachBatch(_process).option("checkpointLocation", checkpoint),
        what="consume_with_dlq drain",
    )


def stop_query(query: StreamingQuery, timeout_s: float = 20.0, drain: bool = False) -> bool:
    """A16 graceful shutdown: the reference blocks on stdin then waits 20 s
    for the scheduler's graceful-shutdown future (Cons:86-105).

    ``drain=True`` waits for all *currently available* input first — only
    meaningful on bounded sources (file replay); on an unbounded source
    (rate/Kinesis) ``processAllAvailable`` never returns, so the default
    stops after the in-flight micro-batch, which is exactly the
    reference's graceful-shutdown semantics."""
    try:
        if drain:
            query.processAllAvailable()
    finally:
        query.stop()
    return query.awaitTermination(timeout_s) or not query.isActive


def drain_available_now(
    writer: DataStreamWriter, timeout_s: float = 300, what: str = "availableNow drain"
) -> StreamingQuery:
    """Start ``writer`` with an availableNow trigger and wait for it to
    drain every input available at start. A drain that misses
    ``timeout_s`` raises with the query stopped, so no caller reads a
    partially written sink or leaves a query holding its checkpoint.
    Returns the terminated query (``observe.batch_progress`` reads its
    per-batch progress)."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        stop_query(q)
        raise RuntimeError(f"{what} did not finish within {timeout_s} s")
    return q


def drain_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Drain ``stream_df`` into a memory-sink table through
    ``drain_available_now`` and return the terminated query; the table is
    ``spark.table(query.name)``. ``name`` defaults to a fresh unique one;
    ``checkpoint`` keeps the run's offsets and state where a caller can
    read them back."""
    name = name or f"live_{uuid.uuid4().hex[:12]}"
    writer = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return drain_available_now(writer, what=f"memory drain {name}")


def last_emission(emissions: DataFrame, key: str, running: str) -> DataFrame:
    """Each ``key``'s final row in an update-mode emission log: the row
    with the largest ``running`` value. Update mode re-emits a key only
    when new input arrived, so a running count strictly increases over a
    key's emissions and its maximum marks the last one."""
    w = Window.partitionBy(key).orderBy(F.col(running).desc())
    return (
        emissions.withColumn("_emission_rank", F.row_number().over(w))
        .filter(F.col("_emission_rank") == 1)
        .drop("_emission_rank")
    )
