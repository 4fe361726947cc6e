"""Live Structured Streaming queries, driver-gated.

Everything else in the registry is batch; these callables actually *run
a streaming query* (file-source replay of events written by
``sources.files.replay_frame`` → envelope → transformation → sink,
drained by ``streaming.pipeline.drain_available_now`` or its memory-sink
form ``drain_to_memory``) and return the final table —
so the driver's DuckDB oracle hash-checks real streaming execution, not a
batch mirror. Complete-mode + a watermark wider than the fixture's
event-time span make the bounded run deterministic (production trades
that for bounded state; see tests/test_streaming.py).
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.operators.upsert import (
    foreach_batch_dual_sink,
    foreach_batch_upsert,
    write_epoch,
)
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.scratch import scratch_dir
from kinesis_sample_spark.sources.files import (
    replay_events_stream,
    replay_frame,
    write_stream_fixture,
)
from kinesis_sample_spark.streaming.dlq import split_dlq
from kinesis_sample_spark.streaming.envelope import decode_envelope, envelope_from_events
from kinesis_sample_spark.streaming.observe import batch_progress, observed_totals
from kinesis_sample_spark.streaming.pipeline import (
    drain_available_now,
    drain_to_memory,
    last_emission,
    stop_query,
    streaming_dedup,
    streaming_window_counts,
)
from kinesis_sample_spark.streaming.stateful import (
    retry_process,
    stateful_key_counts,
    timeout_sessions,
)


def _replay(
    spark: SparkSession,
    sf_dir: str,
    files_per_trigger: int = 1,
    time_ordered: bool = False,
) -> DataFrame:
    """The events fixture replayed as 4 files, one per trigger by default:
    round-robin files, or with ``time_ordered`` files range-partitioned on
    ts, so file k's span precedes file k+1's and a *finite* watermark
    delay never drops rows (the round-robin files interleave old rows
    into every batch and force the 3650-day delay). A finite delay is
    what lets the final watermark pass event times — the precondition for
    outer-join state expiry and event-time timeouts. ``replay_frame``
    stamps mtimes in file order, so the time-ordered files are also read
    in ts order: a late-range file read first would jump the watermark
    and drop every earlier file's rows as late."""
    events = load_table(spark, sf_dir, "events")
    frame = events.repartitionByRange(4, "ts") if time_ordered else events.repartition(4)
    out = os.path.join(scratch_dir(prefix="kss_live_"), "events_stream")
    return replay_frame(frame, out, 4, files_per_trigger)


# ---------------------------------------------------------------------------
# q80 — LIVE tumbling-window counts over the streamed envelope.
# ---------------------------------------------------------------------------
@query(
    "q80_live_streaming_windows",
    oracle="""
SELECT date_trunc('hour', ts) AS w_start,
       'partitionKey-' || CAST(user_id AS VARCHAR) AS partitionKey,
       COUNT(*) AS n_records
FROM events
GROUP BY 1, 2
ORDER BY w_start, partitionKey
""",
)
def q80_live_streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full streaming path under the oracle: events replayed as files →
    envelope build (A1/A2) → UTF-8 decode + event-time lift (A12) → DLQ
    split (A11) → watermarked tumbling windows — executed by
    MicroBatchExecution, final table hash-compared to plain batch SQL.
    The payload's millisecond truncation cannot move an event across an
    hour boundary, so the SQL needs no truncation gymnastics."""
    env = envelope_from_events(_replay(spark, sf_dir))
    agg = streaming_window_counts(env, window="1 hour", watermark="3650 days")
    q = drain_to_memory(agg, "complete")
    return spark.table(q.name).orderBy("w_start", "partitionKey")


# ---------------------------------------------------------------------------
# q81 — LIVE streaming dedup collapsing an at-least-once replay.
# ---------------------------------------------------------------------------
@query(
    "q81_live_streaming_dedup",
    oracle="""
SELECT DISTINCT 'partitionKey-' || CAST(user_id AS VARCHAR) AS partitionKey,
       CAST(event_id AS VARCHAR) AS sequenceNumber
FROM events
ORDER BY partitionKey, sequenceNumber
""",
)
def q81_live_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 made checkable: the input stream is deliberately doubled
    (simulating post-failover replay), dropDuplicatesWithinWatermark
    collapses it, and the oracle is the distinct key set — if streaming
    dedup ever under- or over-collapses, the hash breaks."""
    stream = _replay(spark, sf_dir)
    doubled = envelope_from_events(stream.unionByName(stream))
    dedup = streaming_dedup(doubled, watermark="3650 days")
    q = drain_to_memory(dedup.select("partitionKey", "sequenceNumber"))
    return spark.table(q.name).orderBy("partitionKey", "sequenceNumber")


# ---------------------------------------------------------------------------
# q82 — LIVE custom stateful operator (applyInPandasWithState).
# ---------------------------------------------------------------------------
@query(
    "q82_live_stateful_counts",
    oracle="""
SELECT 'partitionKey-' || CAST(user_id AS VARCHAR) AS partitionKey,
       COUNT(*) AS n_records
FROM events
GROUP BY user_id
ORDER BY partitionKey
""",
)
def q82_live_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState under the gate: per-key running counts
    accumulate across micro-batches in the state store (one file per
    trigger forces multiple batches); the last emission per key must equal
    the batch group count — checking both the pandas-state plumbing and
    the cross-batch state carry."""
    env = envelope_from_events(_replay(spark, sf_dir))
    q = drain_to_memory(stateful_key_counts(env), "update")
    return (
        last_emission(spark.table(q.name), "partitionKey", "n_records")
        .select("partitionKey", "n_records")
        .orderBy("partitionKey")
    )


# ---------------------------------------------------------------------------
# q106 — LIVE watermarked stream-stream join (signup → purchase funnel).
# ---------------------------------------------------------------------------
@query(
    "q106_live_stream_stream_join",
    oracle="""
SELECT a.user_id AS user_id,
       a.event_id AS signup_id,
       b.event_id AS purchase_id,
       date_diff('second', a.ts, b.ts) AS delta_s,
       b.value AS purchase_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'signup' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
ORDER BY signup_id, purchase_id
""",
)
def q106_live_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join under the oracle gate: one replayed source
    split into a signup stream and a purchase stream, joined on user with
    a 1-hour event-time band — the funnel query Table B's "stream-stream
    join" row promises, executed by MicroBatchExecution with join state
    keyed by user_id (the time band is what lets Spark expire state once
    the watermark passes; the bounded run uses a wide watermark for
    determinism, production narrows it to bound state size). The final
    append-mode table must hash-match the batch self-join.

    Optimization r17 (guide §1 — the cost was micro-batch trigger
    scheduling, not compute): the drain now takes all 4 files in ONE
    trigger. For an INNER stream-stream join in append mode the emitted
    SET is batching-independent — each matched pair emits exactly once,
    in whichever batch the later row arrives, and the 3650-day watermark
    means no state is ever evicted, so coarser batching can only move a
    row between batches, never add or drop one (the memory-sink table is
    then globally sorted). Pinned empirically by the emission-equivalence
    harness (tests/test_emission_equivalence.py) which runs 1-file and
    4-file batchings and asserts identical emitted multisets."""
    q = drain_to_memory(_q106_joined(spark, sf_dir, files_per_trigger=4))
    return spark.table(q.name).orderBy("signup_id", "purchase_id")


def _q106_joined(
    spark: SparkSession, sf_dir: str, files_per_trigger: int
) -> DataFrame:
    """q106's streaming pipeline, parameterized by drain batching so the
    emission-equivalence harness can run both variants."""
    s = _replay(spark, sf_dir, files_per_trigger=files_per_trigger)
    a = (
        s.withWatermark("ts", "3650 days")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("a_ts"),
        )
    )
    b = (
        s.withWatermark("ts", "3650 days")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("b_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return a.join(
        b,
        F.expr(
            "a_user = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        F.col("a_user").alias("user_id"),
        "signup_id",
        "purchase_id",
        (F.col("b_ts").cast("long") - F.col("a_ts").cast("long")).alias("delta_s"),
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# q112 — LIVE CDC upsert sink (foreachBatch merge into a parquet table).
# ---------------------------------------------------------------------------
@query(
    "q112_live_cdc_upsert",
    oracle="""
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
ORDER BY user_id
""",
)
def q112_live_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC materialization under the oracle gate: the replayed event
    stream is upserted micro-batch by micro-batch into a parquet table
    (operators/upsert.py — last-writer-wins by event_id inside
    foreachBatch), and the driver hash-checks the *final table state*
    against the batch argmax-per-key SQL. Because the merge orders by a
    global version column, the final state is independent of batch
    arrival order and of replays — the idempotent-sink half of the
    exactly-once story (A13/A14) made checkable."""
    table_path = os.path.join(scratch_dir(prefix="kss_live_"), "cdc_table")
    drain_available_now(
        _replay(spark, sf_dir).writeStream.foreachBatch(
            foreach_batch_upsert(table_path, "user_id", "event_id")
        ),
        what="q112 CDC upsert drain",
    )
    return (
        spark.read.parquet(table_path)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q126 — LIVE stream-static enrichment join.
# ---------------------------------------------------------------------------
@query(
    "q126_live_stream_static_enrich",
    oracle="""
WITH prof AS (
  SELECT user_id,
         CASE WHEN sum(CAST(value AS DECIMAL(18,6))) >= 18000
              THEN 'high' ELSE 'low' END AS tier
  FROM events GROUP BY user_id
)
SELECT 'partitionKey-' || CAST(e.user_id AS VARCHAR) AS partitionKey,
       p.tier,
       CAST(count(*) AS BIGINT) AS n_records
FROM events e JOIN prof p ON p.user_id = e.user_id
GROUP BY 1, 2
ORDER BY partitionKey
""",
)
def q126_live_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining streaming join shape: a live stream enriched against
    a *batch* dimension (feature-store lookup — here a per-user value
    tier computed from the batch events table, decimal-summed so the
    threshold compare is exact in any engine). The dimension is broadcast
    into every micro-batch — at 100 TB/day stream rates this is the only
    join shape that needs no stream-side state at all. Aggregation after
    the join runs in complete mode; the oracle replays the identical
    enrich+count in batch SQL.

    Optimization r17: drains all 4 files in one trigger — the law here
    is the JOIN SHAPE (stateless broadcast enrich), not batch cadence,
    and a complete-mode aggregate's final table is the aggregate over
    ALL input whatever the batching. Equivalence pinned by
    tests/test_emission_equivalence.py."""
    q = drain_to_memory(_q126_agg(spark, sf_dir, files_per_trigger=4), "complete")
    return spark.table(q.name).orderBy("partitionKey")


def _q126_agg(spark: SparkSession, sf_dir: str, files_per_trigger: int) -> DataFrame:
    """q126's streaming pipeline, parameterized by drain batching so the
    emission-equivalence harness can run both variants."""
    ev = load_table(spark, sf_dir, "events")
    prof = (
        ev.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"))
        .select(
            F.concat(F.lit("partitionKey-"), F.col("user_id").cast("string")).alias(
                "partitionKey"
            ),
            F.when(F.col("sv") >= 18000, "high").otherwise("low").alias("tier"),
        )
    )
    stream = envelope_from_events(
        _replay(spark, sf_dir, files_per_trigger=files_per_trigger)
    )
    joined = stream.join(F.broadcast(prof), "partitionKey")
    return joined.groupBy("partitionKey", "tier").agg(F.count("*").alias("n_records"))


# ---------------------------------------------------------------------------
# q131 — LIVE session windows (dynamic-gap state merging).
# ---------------------------------------------------------------------------
_SESSION_GAP_S = 7200  # 2 h; fixture gaps never come within 1 s of this


@query(
    "q131_live_session_windows",
    oracle=f"""
WITH e AS (
  SELECT user_id, date_trunc('milliseconds', ts) AS ts_ms FROM events
),
d AS (
  SELECT user_id, ts_ms,
         CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
                   > INTERVAL {_SESSION_GAP_S} SECOND
              THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT user_id, ts_ms,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM d
)
SELECT 'partitionKey-' || CAST(user_id AS VARCHAR) AS partitionKey,
       min(ts_ms) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sess
ORDER BY partitionKey, session_start
""",
)
def q131_live_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows are the one event-time window Spark must *merge
    state* for (a late event can fuse two open sessions) — exercised
    here LIVE via ``F.session_window`` over the replayed envelope, one
    row per (user, session). The oracle recomputes sessions serially as
    gaps-and-islands SQL (lag → break flags → running sum), on
    millisecond-truncated timestamps because the envelope payload
    carries millis (fixture gaps sit hours from the 2 h threshold, so
    truncation can never flip a boundary). Scale: session state is
    per-key and windows close ``gap`` after the key's last event —
    state size tracks *active* keys, not history; the batch shape is a
    single keyed aggregation."""
    stream = decode_envelope(envelope_from_events(_replay(spark, sf_dir)))
    good, _ = split_dlq(stream, "event_ts")
    agg = (
        good.groupBy(
            F.session_window("event_ts", f"{_SESSION_GAP_S} seconds"),
            "partitionKey",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "partitionKey",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    q = drain_to_memory(agg, "complete")
    return spark.table(q.name).orderBy("partitionKey", "session_start")


# ---------------------------------------------------------------------------
# q153 — LIVE left-outer stream-stream join (outer rows need watermark
# progress: the only join flavor whose output depends on state EXPIRY).
# ---------------------------------------------------------------------------


@query(
    "q153_live_left_outer_join",
    oracle="""
WITH wm AS (
  SELECT make_timestamp((epoch_us(least(
           (SELECT max(ts) FROM events WHERE event_type = 'signup'),
           (SELECT max(ts) FROM events WHERE event_type = 'purchase'))) // 1000) * 1000)
         - INTERVAL 1 HOUR AS w
),
s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
       p.value AS purchase_value
FROM s JOIN p
  ON s.user_id = p.user_id AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
UNION ALL
SELECT s.user_id, s.event_id, NULL, NULL
FROM s, wm
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = s.user_id
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
  AND s.ts <= wm.w - INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND
ORDER BY signup_id, purchase_id
""",
)
def q153_live_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join under the oracle gate. Unlike q106's
    inner join, the null-padded rows can only be emitted when the
    watermark proves no matching purchase can still arrive — i.e. when
    the signup's join window [ts, ts+1h] falls behind the event-time
    watermark and its state is evicted. The oracle encodes Spark's
    eviction rule exactly, verified against the executed plan's state
    cleanup predicate (``a_ts <= eviction_wm − 1h − 1ms``): the global
    watermark is the MIN across the two branch watermarks (each =
    ms-floored branch-max event time − the 1-hour delay), and a left row
    evicts (→ null-padded emit, in availableNow's closing no-data batch)
    iff its join-window end ``ts + 1h`` is ≤ that watermark − 1ms. Inner
    matches emit unconditionally. Signups newer than the boundary remain
    in (discarded) state and must NOT appear — a hash gate on the
    eviction rule itself. Time-ordered replay files (read in ts order)
    keep the finite watermark from dropping input.

    Optimization r17 (guide §1 — the cost was micro-batch trigger
    scheduling): the drain takes all 4 files in ONE trigger. The emitted
    set is batching-independent HERE because the replay is time-ordered:
    (a) no input row is ever late (file k+1's ts range starts above file
    k's, so every row arrives at or above the current watermark — nothing
    is dropped at ingest under any batching); (b) no signup can be
    evicted before its last possible match arrives — eviction of s after
    batch k needs s.ts + 1h ≤ wm(k) − 1ms < max_ts(files 0..k), and any
    matching purchase has p.ts ≤ s.ts + 1h < max_ts(files 0..k), which
    time-ordering places in files 0..k, i.e. already processed. So inner
    matches are identical under any batching, and the null-padded set
    depends only on the FINAL watermark (min across branches of branch
    max − 1h), which availableNow's closing no-data batch computes from
    all the data regardless of how it was batched. Pinned empirically by
    tests/test_emission_equivalence.py (1-file vs 4-file drain, identical
    emitted multisets including the null-padded rows)."""
    q = drain_to_memory(_q153_joined(spark, sf_dir, files_per_trigger=4))
    return spark.table(q.name).orderBy("signup_id", "purchase_id")


def _q153_joined(
    spark: SparkSession, sf_dir: str, files_per_trigger: int
) -> DataFrame:
    """q153's streaming pipeline, parameterized by drain batching so the
    emission-equivalence harness can run both variants."""
    st = _replay(spark, sf_dir, files_per_trigger, time_ordered=True)
    a = (
        st.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("a_ts"),
        )
    )
    b = (
        st.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("b_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return a.join(
        b,
        F.expr("a_user = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 1 HOUR"),
        "leftOuter",
    ).select(
        F.col("a_user").alias("user_id"),
        "signup_id",
        "purchase_id",
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# q164 — LIVE update-mode aggregation (per-batch incremental emission).
# ---------------------------------------------------------------------------


@query(
    "q164_live_update_mode",
    oracle="""
WITH sliced AS (
  SELECT user_id, ts,
         least(CAST(event_id * 4 // (SELECT count(*) FROM events) AS INTEGER), 3)
           AS slice
  FROM events
),
per_batch AS (
  SELECT date_trunc('hour', ts) AS w_start, user_id, slice,
         count(*) AS batch_n
  FROM sliced GROUP BY 1, 2, 3
)
SELECT w_start, user_id,
       CAST(SUM(batch_n) OVER (PARTITION BY w_start, user_id ORDER BY slice
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_records
FROM per_batch
ORDER BY w_start, user_id, n_records
""",
)
def q164_live_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode under the hash gate — the third output mode
    (q80 gates complete, q81/q106/q153 append). Update mode re-emits a
    key's aggregate every micro-batch in which it changed, so the memory
    sink accumulates the full *emission history*: one row per (window,
    user, batch-that-touched-it) holding the running count at that point.
    Because the replay slices files on integer event_id quartiles, the
    oracle reconstructs the exact history as a cumulative sum over slices
    — if Spark ever emitted an unchanged key, skipped a changed one, or
    sliced batches differently, the hash breaks. Watermark far wider than
    the fixture span: no state eviction, pure incremental-emission
    semantics."""
    events = load_table(spark, sf_dir, "events")
    n = events.count()
    # file i holds the events whose event_id falls in quartile i — pure
    # integer arithmetic, so the oracle can reconstruct exactly which
    # events each micro-batch carried
    slice_col = F.floor(F.col("event_id") * 4 / F.lit(n)).cast("int")
    st = replay_frame(
        events.withColumn("slice", F.least(slice_col, F.lit(3))),
        os.path.join(scratch_dir(prefix="kss_live_"), "events_stream"),
        4,
        by="slice",
    )
    agg = (
        st.withWatermark("ts", "3650 days")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_records"))
        .select(F.col("w.start").alias("w_start"), "user_id", "n_records")
    )
    q = drain_to_memory(agg, "update")
    return spark.table(q.name).orderBy("w_start", "user_id", "n_records")


# ---------------------------------------------------------------------------
# q171 — LIVE transformWithStateInPandas (Spark 4 arbitrary-state API).
# ---------------------------------------------------------------------------


def _make_running_stats_processor():
    """Built lazily: importing StatefulProcessor is cheap, but keeping the
    class definition inside a factory keeps module import working on
    Spark versions without the API."""
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningStats(StatefulProcessor):
        """Per-user running (count, value-cents sum) carried in ValueState
        across micro-batches; emits the running totals each batch the key
        appears in (update semantics, like q164's built-in agg but through
        the arbitrary-state API)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    sum(int(round(float(v) * 100)) for v in pdf["value"])
                )
            prev = self._state.get()
            if prev is not None:
                n += int(prev[0])
                cents += int(prev[1])
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [int(key[0])], "n": [n], "cents": [cents]}
            )

        def close(self) -> None:
            pass

    return RunningStats()


def _twsip_available() -> bool:
    """transformWithStateInPandas ships a protobuf-based state protocol;
    this container has no usable google.protobuf (and installs are out of
    scope), so the capability is probed, not assumed."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


@query(
    "q171_live_transform_with_state",
    oracle="""
SELECT user_id,
       count(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q171_live_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful running (count, integer-cents sum) per user —
    through transformWithStateInPandas (Spark 4's typed-ValueState
    successor to applyInPandasWithState) when the runtime supports it.
    The API's state protocol needs google.protobuf, absent from this
    container, so here the SAME operator semantics run through an
    applyInPandasWithState processor (q82's machinery, richer state
    tuple) — an explicit capability fallback, not a silent substitution;
    _make_running_stats_processor keeps the transformWithStateInPandas
    implementation real and ready for a protobuf-equipped deploy. Either
    path: state carried across micro-batches, emissions on every change,
    LAST emission per key (max strictly-increasing count) must equal the
    batch aggregate. Integer cents keep sums associative → hash is
    parallelism-proof."""
    st = _replay(spark, sf_dir)
    if _twsip_available():  # pragma: no cover — protobuf absent here
        out = st.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_make_running_stats_processor(),
            outputStructType="user_id bigint, n bigint, cents bigint",
            outputMode="Update",
            timeMode="None",
        )
    else:
        import pandas as pd
        from pyspark.sql.streaming.state import GroupState

        def running_stats(key, pdfs, state: GroupState):
            n, cents = 0, 0
            for pdf in pdfs:
                n += len(pdf)
                cents += int(
                    sum(int(round(float(v) * 100)) for v in pdf["value"])
                )
            if state.exists:
                pn, pc = state.get
                n += pn
                cents += pc
            state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [int(key[0])], "n": [n], "cents": [cents]}
            )

        out = st.groupBy("user_id").applyInPandasWithState(
            running_stats,
            outputStructType="user_id bigint, n bigint, cents bigint",
            stateStructType="n bigint, cents bigint",
            outputMode="Update",
            timeoutConf="NoTimeout",
        )
    q = drain_to_memory(out, "update")
    return (
        last_emission(spark.table(q.name), "user_id", "n")
        .select("user_id", "n", "cents")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q184 — LIVE bounded per-record retry + poison DLQ (the reference's A11).
# ---------------------------------------------------------------------------
_RETRY_BOUND = 3000  # records under the gate — keeps ~3k state keys per run
_RETRY_MAX_ATTEMPTS = 5
_POISON_MOD = 37  # every 37th record is a permanent failure
_FLAKY_MOD = 3  # others fail transiently on their first (seq % 3) attempts


def _flaky_process(payload: str, attempt: int) -> str:
    """Deterministic stand-in for the reference's processSingleRecord
    (Proc:99-110): record ``seq % 37 == 0`` is poison (every attempt
    raises — the reference's skip-after-10 path, Proc:85-89), every other
    record fails its first ``seq % 3`` attempts and then succeeds — so the
    surfaced attempt count exercises 1, 2 and 3-attempt successes, not
    just the happy path."""
    seq = int(payload)
    if seq % _POISON_MOD == 0:
        raise RuntimeError("poison")
    if attempt <= seq % _FLAKY_MOD:
        raise ValueError("transient")
    return f"processed:{seq}"


@query(
    "q184_live_retry_dlq",
    oracle=f"""
SELECT CAST(event_id AS VARCHAR) AS sequenceNumber,
       CASE WHEN event_id % {_POISON_MOD} = 0 THEN NULL
            ELSE 'processed:' || CAST(event_id AS VARCHAR) END AS result,
       (event_id % {_POISON_MOD} <> 0) AS ok,
       CAST(CASE WHEN event_id % {_POISON_MOD} = 0 THEN {_RETRY_MAX_ATTEMPTS}
                 ELSE (event_id % {_FLAKY_MOD}) + 1 END AS INTEGER) AS attempts,
       CASE WHEN event_id % {_POISON_MOD} = 0
            THEN 'RuntimeError: poison' END AS dlq_reason
FROM events
WHERE event_id < {_RETRY_BOUND}
ORDER BY sequenceNumber
""",
)
def q184_live_retry_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — the reference's semantic core (per-record bounded retry with
    backoff, then skip; Proc:63-91) — under the live driver gate: the
    replayed record stream runs through streaming/stateful.py's
    ``retry_process`` (applyInPandasWithState keyed by sequenceNumber)
    with a deterministic flaky processor, and the emitted table surfaces
    at-least-once delivery, the per-record attempt count, AND the
    explicit DLQ row for poison records (ok = false, attempts =
    max_attempts, last error as dlq_reason) in one value-hashed result —
    the upgrade over the reference's silent skip. The oracle re-derives
    every attempt count arithmetically from the poison/flaky moduli.

    Scale: state is per in-flight/poison record and removed on success
    (retry_process docstring); keys partition with the stream, so a
    1000-executor run shards the retry bookkeeping exactly like the
    KCL's per-shard processors — no coordination beyond the state store."""
    stream = _replay(spark, sf_dir).filter(F.col("event_id") < _RETRY_BOUND)
    env = stream.select(
        F.encode(F.col("event_id").cast("string"), "UTF-8").alias("data"),
        F.col("event_id").cast("string").alias("sequenceNumber"),
    )
    out = retry_process(env, _flaky_process, max_attempts=_RETRY_MAX_ATTEMPTS)
    q = drain_to_memory(out, "update")
    return spark.table(q.name).orderBy("sequenceNumber")


# ---------------------------------------------------------------------------
# q185 — LIVE checkpoint-restart resume (the reference's A9).
# ---------------------------------------------------------------------------
@query(
    "q185_live_checkpoint_restart",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_records,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q185_live_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — shard initialize / resume from checkpoint (Proc:151-159: a new
    processor resumes its shard at the checkpointed extendedSequenceNumber)
    — under the live driver gate, the way q184 lifted A11. Two separate
    streaming query *incarnations* share one checkpointLocation: phase 1
    drains the even-event_id half of the fixture and stops (A16's
    graceful-stop path); the odd half then lands in the source directory;
    phase 2 starts a NEW query from the same checkpoint. Both halves are
    written once by ``replay_frame`` (files 0-1 even, 2-3 odd) into a
    staging directory, and each phase renames its two files into the
    source directory, so both keep the writer's file-count check and
    ascending mtimes. The sink is a
    parquet emission log with one directory per epoch (update-mode
    foreachBatch through ``write_epoch``, so a replayed epoch overwrites
    its first write), and the returned table keeps each user's LAST
    emission (max running count — update mode only re-emits a key when
    new events arrived, so ``n`` strictly increases per user).

    Both failure directions break the value hash: if phase 2 re-read
    phase-1 files (offset resume broken), running counts overshoot the
    batch aggregate; if the state store restarted empty (state resume
    broken), every user spanning both halves undercounts. Matching the
    plain batch GROUP BY therefore proves offsets AND agg state survived
    the restart. Integer-cents sum keeps values associative → the hash is
    parallelism-proof (same quantization as q171).

    Scale: checkpoint WAL + state store are per-partition, exactly the
    KCL's per-shard DynamoDB lease rows (SURVEY §1.2) — a 1000-executor
    restart re-plans from the driver-side offset log with no per-record
    coordination."""
    base = scratch_dir(prefix="kss_a9_")
    src = os.path.join(base, "in")
    ck = os.path.join(base, "ck")
    emissions = os.path.join(base, "emissions")
    staging = os.path.join(base, "halves")
    os.makedirs(src)

    def run_incarnation() -> None:
        # optimization r16: the law gated here is CROSS-INCARNATION
        # resume (offsets + agg state surviving the restart), not
        # within-phase batching — drain each phase's 2 files in one
        # trigger; update-mode still emits each user's running count and
        # the final per-user LAST row is unchanged.
        st = replay_events_stream(spark, src, files_per_trigger=2)
        agg = (
            st.withWatermark("ts", "3650 days")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_records"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            )
        )

        # a still-running incarnation would contend with the next phase's
        # start() on the same checkpoint (or let the final read observe a
        # half-written sink) — the drain raises instead of surfacing as an
        # inexplicable hash mismatch
        drain_available_now(
            agg.writeStream.foreachBatch(
                lambda batch_df, epoch_id: write_epoch(batch_df, emissions, epoch_id)
            )
            .outputMode("update")
            .option("checkpointLocation", ck),
            what="q185 incarnation",
        )

    try:
        eid = F.col("event_id")
        replay_frame(
            load_table(spark, sf_dir, "events").withColumn(
                "file", eid % 2 * 2 + F.floor(eid % 4 / 2)
            ),
            staging,
            4,
            by="file",
        )
        files = sorted(os.listdir(staging))
        for half in (files[:2], files[2:]):
            for f in half:
                os.rename(os.path.join(staging, f), os.path.join(src, f))
            run_incarnation()

        last = (
            last_emission(spark.read.parquet(emissions), "user_id", "n_records")
            .select("user_id", "n_records", "cents")
            .orderBy("user_id")
        )
        # materialize the (per-user, small) result on the driver so the
        # WHOLE /tmp base — emissions log included — can be removed in
        # the finally block; repeated sweeps used to accumulate one
        # kss_a9_* dir per run (round-5 ADVICE)
        rows = last.collect()
        return spark.createDataFrame(rows, last.schema).orderBy("user_id")
    finally:
        # the fixture, checkpoint and emissions log are all scoped to
        # this call — drop the base so repeated runs don't accumulate
        # 100k-event parquet + state-store files in /tmp
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# q186 — LIVE observed-metrics surface (the reference's A17).
# ---------------------------------------------------------------------------
_OBS_BUCKETS = 4


@query(
    "q186_live_observed_metrics",
    oracle=f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN user_id % {_OBS_BUCKETS} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS bucket0_n,
         CAST(SUM(CASE WHEN user_id % {_OBS_BUCKETS} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bucket1_n,
         CAST(SUM(CASE WHEN user_id % {_OBS_BUCKETS} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS bucket2_n,
         CAST(SUM(CASE WHEN user_id % {_OBS_BUCKETS} = 3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket3_n
  FROM events
)
SELECT 'bucket0_n' AS metric, bucket0_n AS value FROM m
UNION ALL SELECT 'bucket1_n', bucket1_n FROM m
UNION ALL SELECT 'bucket2_n', bucket2_n FROM m
UNION ALL SELECT 'bucket3_n', bucket3_n FROM m
UNION ALL SELECT 'cents', cents FROM m
UNION ALL SELECT 'n_records', n_records FROM m
UNION ALL SELECT 'progress_input_rows', n_records FROM m
ORDER BY metric
""",
)
def q186_live_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — observability — under the live driver gate, completing the
    A-side crossover that q184 (A11) and q185 (A9) started. The reference
    surfaces two observability channels: per-record-processor CloudWatch
    metrics via the KCL's metricsConfig (Cons:72,:80) and the per-batch
    "Processing N records" slf4j log line (Proc:167). Spark's equivalents
    are ``df.observe`` (metrics computed INSIDE the query plan, reported
    per micro-batch in the query's progress as ``observedMetrics``) and
    the progress's per-batch ``numInputRows`` field. This query runs a
    live replay with BOTH channels attached and returns the accumulated
    metric totals as a (metric, value) table — so the driver's DuckDB
    hash gate checks the observability surface itself, not the query
    result it describes.

    Correctness law (pinned by test_observed_metrics_accumulate_to_batch_
    aggregate): per-batch observed rows are partial aggregates over
    exactly that batch's input, so additive metrics (counts, integer
    sums) summed across batches equal the same aggregate over the whole
    bounded input. Any broken seam — a dropped batch's metrics, a batch
    observed twice, partials computed on post-filter rows — shifts a
    total and breaks the value hash. ``progress_input_rows`` pins the
    second channel: the sum of per-batch numInputRows must equal the
    true record count (the reference's N values, summed). Both are read
    from the drained query through ``streaming/observe.py``, which holds
    every batch once the drain returns.

    Scale: ``observe`` aggregates ride the existing per-batch plan
    (map-side partials, one tiny merged row per batch to the driver) —
    exactly the KCL's per-shard metric emission folded into per-stream
    CloudWatch sums; no extra shuffle, state, or driver loop. The query
    keeps one progress entry per batch, not per record."""
    base = scratch_dir(prefix="kss_a17_")
    metric_name = "a17"
    try:
        events = load_table(spark, sf_dir, "events")
        st = replay_frame(events.repartition(4), os.path.join(base, "events_stream"), 4)
        metrics = [
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        ]
        for b in range(_OBS_BUCKETS):
            metrics.append(
                F.sum((F.col("user_id") % _OBS_BUCKETS == b).cast("bigint")).alias(
                    f"bucket{b}_n"
                )
            )
        q = drain_available_now(
            st.observe(metric_name, *metrics).writeStream.format("noop"),
            what="q186 replay",
        )
        totals = observed_totals(q, metric_name)
        progress_rows = sum(p.numInputRows for p in batch_progress(q))

        rows = sorted(
            [
                ("n_records", totals.get("n_records")),
                ("cents", totals.get("cents")),
                ("progress_input_rows", progress_rows),
            ]
            + [(f"bucket{b}_n", totals.get(f"bucket{b}_n")) for b in range(_OBS_BUCKETS)]
        )
        return spark.createDataFrame(
            rows, "metric string, value bigint"
        ).orderBy("metric")
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# q187 — LIVE graceful shutdown (the reference's A16).
# ---------------------------------------------------------------------------
@query(
    "q187_live_graceful_shutdown",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_records,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q187_live_graceful_shutdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — graceful shutdown — under the live driver gate, completing
    the crossover set q184 (A11), q185 (A9) and q186 (A17) started. The
    reference's consumer blocks on stdin, then requests
    ``startGracefulShutdown()`` and waits AT MOST 20 s for the future
    (Cons:86-105, bound at :97): in-flight record-processor batches
    finish and checkpoint; un-fetched shard data simply stays in the
    stream for the next worker. The Spark analog is
    ``streaming.pipeline.stop_query`` (default drain=False): stop after
    the in-flight micro-batch, leaving a consistent offset WAL + state
    store behind.

    Shape: a 16-file throttled replay (1 file/trigger, 500 ms cadence)
    with an update-mode per-user aggregation into an append-only
    emission log. Once the sink has written its second micro-batch the
    query is stopped gracefully MID-STREAM — trigger arithmetic
    guarantees files remain (the sink signals the stop as that batch's
    write returns, so at most a handful of the 16 files are consumed;
    asserted from the query's progress). A second
    incarnation on the SAME checkpoint then drains the remainder
    (availableNow), exactly the reference's next-worker-picks-up-the-
    stream semantics. The returned table keeps each user's LAST emission.

    Correctness law: the final per-user (count, integer-cents, max
    event_id) must equal the plain batch GROUP BY over the whole
    fixture. A non-graceful stop breaks it from either side — a torn
    batch (sink rows without committed offsets beyond one replayable
    batch) overshoots after the phase-2 replay; lost state or offsets
    undershoots. The 20 s stop bound itself is enforced: a stop that
    does not complete in the reference's budget raises instead of
    surfacing as a hash mismatch.

    Scale: graceful stop is a driver-side barrier (finish in-flight
    batch, write commit log); no per-record coordination — on a
    1000-executor cluster the restart re-plans from the offset log the
    same way the KCL reassigns leases from DynamoDB (SURVEY §1.2).
    The emission log writes each epoch to its own directory
    (``write_epoch``), so a replayed boundary batch overwrites its first
    write instead of appending a second copy."""
    base = scratch_dir(prefix="kss_a16_")
    ck = os.path.join(base, "ck")
    emissions = os.path.join(base, "emissions")
    # 16 files at a 500 ms cadence: the stop follows the 2nd batch's sink
    # write, so reaching all 16 before it lands would need the host to
    # stall ~6+ s mid-phase — wide margin for a loaded driver box, cheap
    # in phase-2 drain time
    n_files = 16
    second_batch_written = threading.Event()

    def aggregate(st: DataFrame) -> DataFrame:
        return (
            st.withWatermark("ts", "3650 days")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_records"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
                F.max("event_id").alias("max_event_id"),
            )
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(batch_df, emissions, epoch_id)
        if epoch_id >= 1:
            second_batch_written.set()

    try:
        events_dir = write_stream_fixture(spark, sf_dir, base, n_files=n_files)

        # -- phase 1: continuous trigger, stopped gracefully mid-stream
        q = (
            aggregate(replay_events_stream(spark, events_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        if not second_batch_written.wait(120):
            stop_query(q)
            raise RuntimeError("q187 phase 1: no 2nd micro-batch within 120 s")
        if not stop_query(q, timeout_s=20.0):
            raise RuntimeError(
                "q187 graceful stop exceeded the reference's 20 s bound (Cons:97)"
            )
        if q.isActive:
            raise RuntimeError("q187 query still active after graceful stop")
        consumed = sum(p.numInputRows > 0 for p in batch_progress(q))
        if not 1 <= consumed < n_files:
            # the 500 ms cadence makes draining all 16 files before the
            # ~instant post-2nd-batch stop physically impossible; if
            # this fires, the mid-stream premise (files REMAIN at stop)
            # was not exercised and the A16 evidence would be hollow
            raise RuntimeError(
                f"q187 phase 1 consumed {consumed}/{n_files} files — stop was "
                f"not mid-stream"
            )

        # -- phase 2: new incarnation, same checkpoint, drain the rest.
        # Optimization r16: phase 1 pinned 1 file/trigger because the
        # graceful stop must land MID-stream; phase 2 only has to drain
        # the remainder and read back the final state, so batching
        # granularity is incidental there — maxFilesPerTrigger is a
        # source option (not checkpointed state), and update-mode
        # emission keeps the per-user LAST row identical whether the
        # remainder arrives in 14 micro-batches or 1. Draining in one
        # trigger removes ~13 micro-batch scheduling rounds (~10 s of
        # pure trigger overhead at sf0.1, no compute change).
        drain_available_now(
            aggregate(replay_events_stream(spark, events_dir, files_per_trigger=n_files))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck),
            what="q187 phase 2",
        )

        last = (
            last_emission(spark.read.parquet(emissions), "user_id", "n_records")
            .select("user_id", "n_records", "cents", "max_event_id")
            .orderBy("user_id")
        )
        # materialize driver-side (per-user, small) so the whole scratch
        # base — emissions log included — can be removed in finally
        rows = last.collect()
        return spark.createDataFrame(rows, last.schema).orderBy("user_id")
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-14 family A — multi-stream LIVE fan-in. The live shelf above
# covers windows/dedup/state/joins/restart for ONE stream; production
# topologies union several. Two independent file-replayed streams (split
# on event_id parity, written in different orders) stand in for two
# sources; the laws gated are the fan-in ones: exactly-once per side,
# cross-stream dedup state, schema-evolution union, and two-producer CDC.
# ---------------------------------------------------------------------------
def _two_parity_streams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Two independent event streams: even event_ids (ascending order)
    and odd event_ids (descending — different arrival order), each its
    own directory + readStream of two files, one file per micro-batch."""
    out = scratch_dir(prefix="kss_live2_")
    ev = load_table(spark, sf_dir, "events")
    even = ev.filter(F.col("event_id") % 2 == 0).repartition(2)
    odd = ev.filter(F.col("event_id") % 2 == 1).repartition(2)
    return (
        replay_frame(even.sortWithinPartitions("event_id"), f"{out}/even", 2),
        replay_frame(odd.sortWithinPartitions(F.col("event_id").desc()), f"{out}/odd", 2),
    )


@query(
    "q290_live_union_two_streams",
    oracle="""
SELECT date_trunc('hour', ts) AS w_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY 1, 2
ORDER BY w_start, event_type
""",
)
def q290_live_union_two_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE two-stream fan-in: the even-id and odd-id halves of the
    events fixture replay as two INDEPENDENT file streams (different
    directories, different file order), each watermarked at its own
    source, then ``unionByName`` → tumbling 1 h aggregate. The law: a
    union of streams is processed exactly-once per side and the final
    table equals the batch aggregate over the union — the oracle is
    plain SQL over ALL events. min/max event_id per group make per-side
    presence visible (even-only or odd-only ingestion cannot fake the
    parity-spanning min/max + count at once).

    Watermarks are applied per-source BEFORE the union: Spark advances a
    unioned stream's watermark as the MIN over sources, which is the
    semantics a fan-in needs (one slow source must hold back eviction
    for all). Sum rides DECIMAL(12,2) → double via the VARCHAR path.

    Scale: union is narrow (no shuffle); aggregate state is keyed by
    (window, type) exactly as single-stream — fan-in adds sources, not
    state. Kinesis parallel: one consumer over N streams (Cons:70-84
    handles exactly one)."""
    s_even, s_odd = _two_parity_streams(spark, sf_dir)
    unioned = s_even.withWatermark("ts", "3650 days").unionByName(
        s_odd.withWatermark("ts", "3650 days")
    )
    agg = (
        unioned.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
            "min_event_id",
            "max_event_id",
        )
    )
    q = drain_to_memory(agg, "complete")
    return spark.table(q.name).orderBy("w_start", "event_type")


@query(
    "q291_live_union_dedup_across_streams",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_dedup
FROM events
GROUP BY 1
ORDER BY event_type
""",
)
def q291_live_union_dedup_across_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-stream dedup: stream 1 carries ALL events, stream 2
    re-delivers every third event (the cross-topic redelivery a fan-in
    actually sees), and ``dropDuplicatesWithinWatermark`` AFTER the
    union collapses them — dedup state is keyed across sources, which is
    the point: per-source dedup cannot catch cross-source replays. The
    final count per event_type must equal the batch DISTINCT.

    The failure mode this pins (found in the round-13 prototype): the
    watermark must be applied per-source BEFORE the union. The unioned
    watermark is the MIN of the sources', so late data on one stream
    cannot evict the other's dedup state early; watermarking after the
    union would tie eviction to whichever source the engine read last.

    Scale: dedup state is bounded by the watermark horizon per key —
    identical to single-stream q81; fan-in multiplies arrival paths,
    not state."""
    out = scratch_dir(prefix="kss_live2_")
    ev = load_table(spark, sf_dir, "events")
    third = ev.filter(F.col("event_id") % 3 == 0).repartition(1)
    s_all = replay_frame(ev.repartition(3), f"{out}/all", 3)
    s_third = replay_frame(third, f"{out}/third", 1)
    dedup = (
        s_all.withWatermark("ts", "3650 days")
        .unionByName(s_third.withWatermark("ts", "3650 days"))
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    q = drain_to_memory(dedup)
    return (
        spark.table(q.name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_dedup"))
        .orderBy("event_type")
    )


@query(
    "q292_live_union_heterogeneous_schema",
    oracle="""
WITH a AS (
    SELECT 'props_stream' AS src, CAST(NULL AS DOUBLE) AS value, props
    FROM events WHERE event_id % 2 = 1
),
b AS (
    SELECT 'value_stream' AS src, value, CAST(NULL AS VARCHAR) AS props
    FROM events WHERE event_id % 2 = 0
),
u AS (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
SELECT src,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(value) AS BIGINT) AS n_value,
       CAST(COUNT(props) AS BIGINT) AS n_props
FROM u
GROUP BY src
ORDER BY src
""",
)
def q292_live_union_heterogeneous_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution fan-in, LIVE: one stream carries ``value`` but
    no ``props`` (a slim metrics topic), the other carries ``props`` but
    no ``value`` (an enriched topic) — unioned with
    ``unionByName(allowMissingColumns=True)``, which NULL-pads each
    side's missing column, then a per-source null-profile aggregate.
    The oracle mirrors the padding with DuckDB's UNION ALL BY NAME. The
    batch twin is q179; this proves the same evolution contract holds
    under MicroBatchExecution with two readStream schemas.

    Scale: the union is narrow; the null-profile is the audit a fan-in
    pipeline runs BEFORE trusting a merged topic at 100 TB — count(col)
    per source over the padded frame is exactly the column-coverage
    matrix."""
    out = scratch_dir(prefix="kss_live2_")
    ev = load_table(spark, sf_dir, "events")
    value_only = ev.filter(F.col("event_id") % 2 == 0).drop("props").repartition(2)
    props_only = ev.filter(F.col("event_id") % 2 == 1).drop("value").repartition(2)
    s_value = replay_frame(value_only, f"{out}/value_stream", 2).withColumn(
        "src", F.lit("value_stream")
    )
    s_props = replay_frame(props_only, f"{out}/props_stream", 2).withColumn(
        "src", F.lit("props_stream")
    )
    unioned = s_value.withWatermark("ts", "3650 days").unionByName(
        s_props.withWatermark("ts", "3650 days"), allowMissingColumns=True
    )
    agg = unioned.groupBy("src").agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_value"),
        F.count("props").alias("n_props"),
    )
    q = drain_to_memory(agg, "complete")
    return spark.table(q.name).orderBy("src")


@query(
    "q293_live_priority_merge_latest",
    oracle="""
SELECT user_id,
       event_id AS last_event_id,
       CAST(event_id % 2 AS BIGINT) AS last_src,
       value AS last_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
ORDER BY user_id
""",
)
def q293_live_priority_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-producer CDC merge: the even- and odd-id streams both carry
    updates for the SAME user_id key space (every user appears on both
    sides); the union feeds one foreachBatch last-writer-wins upsert
    keyed on user_id with event_id as the version. The final table state
    must equal the batch argmax per user REGARDLESS of which producer's
    micro-batch landed last — ``last_src`` (= last_event_id parity)
    exposes which producer won each key, so a merge that favored one
    source would break the hash row-by-row, not just in aggregate.

    q112 gates the single-producer upsert; this gates the CONTENTION
    case — two interleaved producers converging onto one table, the
    standard dual-writer CDC topology (A13/A14 with N producers).

    Scale: the upsert is one shuffle per micro-batch on the key; union
    fan-in adds producers without changing the sink contract, because
    the version column (not arrival order) decides every collision."""
    out = scratch_dir(prefix="kss_live2_")
    table_path = os.path.join(out, "merged_table")
    s_even, s_odd = _two_parity_streams(spark, sf_dir)
    unioned = s_even.unionByName(s_odd)
    drain_available_now(
        unioned.writeStream.foreachBatch(
            foreach_batch_upsert(table_path, "user_id", "event_id")
        ),
        what="q293 merged upsert drain",
    )
    return (
        spark.read.parquet(table_path)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            (F.col("event_id") % 2).alias("last_src"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


@query(
    "q313_live_dual_sink_consistency",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       TRUE AS sinks_agree
FROM events
GROUP BY 1
ORDER BY event_type
""",
)
def q313_live_dual_sink_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE fan-OUT (the dual of q290's fan-in): one replayed stream,
    one ``foreachBatch`` feeding TWO sinks in the same epoch — raw rows
    into an epoch-addressed parquet directory, and a running per-type
    aggregate additively merged and published crash-safe
    (operators/upsert.py::foreach_batch_dual_sink). The law: after the
    drain, the aggregate TABLE equals the re-aggregation of the raw
    SINK (``sinks_agree``, computed — not pinned — Spark-side) and both
    equal the plain batch SQL the oracle runs over events. A multi-sink
    consumer that duplicated an epoch in one sink but not the other, or
    dropped a batch from either, breaks the hash row-by-row.

    This is the contract that makes one-stream/N-tables topologies
    (raw + serving rollup is the standard pair) safe under replay:
    both sinks ride the same epoch id, raw partitions are overwritten
    whole, and the aggregate table records the last epoch it folded in,
    so a replayed epoch is not merged twice — at-least-once delivery
    converges to exactly-once TABLE STATE (A13/A14 for N sinks;
    q112/q293 gate the one-sink and two-producer corners;
    tests/test_upsert.py replays an epoch directly).

    Scale: the raw sink writes one directory per epoch (no
    read-modify-write);
    the aggregate table is bounded by |event_type| so its per-epoch
    merge reads KBs regardless of stream volume."""
    out = scratch_dir(prefix="kss_live2_")
    raw_dir = os.path.join(out, "raw_sink")
    agg_path = os.path.join(out, "agg_table")
    sink = foreach_batch_dual_sink(raw_dir, agg_path)
    drain_available_now(
        _replay(spark, sf_dir).writeStream.foreachBatch(sink), what="q313 dual-sink drain"
    )
    agg = spark.read.parquet(agg_path)
    re_agg = (
        spark.read.parquet(raw_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("raw_n"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(22,2)")
            .alias("raw_sum"),
        )
    )
    return (
        agg.join(re_agg, "event_type")
        .select(
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
            (
                (F.col("n_events") == F.col("raw_n"))
                & (F.col("sum_value") == F.col("raw_sum"))
            ).alias("sinks_agree"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q316 — LIVE rate-limited backlog drain with a per-batch progression
# audit (round 14).
# ---------------------------------------------------------------------------
_BACKLOG_FILES = 8


@query(
    "q316_live_rate_limited_backlog",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id,
       TRUE AS one_file_per_trigger,
       TRUE AS drained_in_file_count_batches,
       TRUE AS watermark_monotone,
       TRUE AS watermark_advanced,
       TRUE AS totals_match
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q316_live_rate_limited_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited backlog drain, with the rate limit itself under the
    gate: the events fixture is written as 8 time-sliced files
    (repartitionByRange on ts), the stream reads them at
    maxFilesPerTrigger=1, and AFTER the drain the per-batch
    StreamingQueryProgress history is audited into boolean law columns
    next to the oracle-checked final aggregate:

    - one_file_per_trigger: the MULTISET of per-batch input-row counts
      equals the multiset of per-file row counts — every trigger
      consumed exactly one file, none was split or coalesced. File
      order is deterministic (``replay_frame`` stamps mtimes in file
      order, and ``tests/test_sources.py`` checks the in-order law on
      the writer itself); the law here stays a multiset check, which is
      all that "one file per trigger" needs.
    - drained_in_file_count_batches: exactly 8 data batches (plus at
      most one trailing empty commit batch).
    - watermark_monotone / watermark_advanced: the watermark never
      regresses across batches and ends past epoch — the eviction
      clock a Kinesis consumer's lag monitoring watches (Cons:70-84
      polls with a fixed sleep; this is the engine-side dual).
    - totals_match: rows summed over batches == fixture rows (no batch
      dropped or double-read under the limit).

    The final table must equal the batch aggregate — bounded-lag
    ingestion converges to the batch answer, the fan-in dual of q290's
    fan-out law. Booleans are computed driver-side from the progress
    log (the one place streaming facts live) and surface as literal
    columns; any violation flips a column and breaks the value hash.

    Scale: maxFilesPerTrigger is the knob that bounds per-trigger state
    growth on a backlogged source (the 100 TB restart story: a cold
    consumer must not load the whole backlog into one micro-batch);
    aggregate state is (event_type)-keyed, trivially bounded."""
    events_dir = os.path.join(scratch_dir(prefix="kss_backlog_"), "sliced")
    ev = load_table(spark, sf_dir, "events")
    stream = replay_frame(  # maxFilesPerTrigger=1
        ev.repartitionByRange(_BACKLOG_FILES, "ts").sortWithinPartitions("ts"),
        events_dir,
        _BACKLOG_FILES,
    )
    file_counts = sorted(
        r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n_total = sum(file_counts)

    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )
    q = drain_to_memory(agg, "complete")

    progs = batch_progress(q)
    data_batches = [p for p in progs if p.numInputRows > 0]
    batch_rows = sorted(p.numInputRows for p in data_batches)
    marks = [p.eventTime["watermark"] for p in progs if "watermark" in p.eventTime]
    one_file = batch_rows == file_counts
    drained = (
        len(data_batches) == _BACKLOG_FILES
        and len(progs) <= _BACKLOG_FILES + 1
    )
    monotone = all(a <= b for a, b in zip(marks, marks[1:]))
    advanced = bool(marks) and marks[-1] > "1971-01-01T00:00:00.000Z"
    totals = sum(batch_rows) == n_total
    return (
        spark.table(q.name)
        .select(
            "event_type",
            "n_events",
            "sum_value",
            "min_event_id",
            "max_event_id",
            F.lit(one_file).alias("one_file_per_trigger"),
            F.lit(drained).alias("drained_in_file_count_batches"),
            F.lit(monotone).alias("watermark_monotone"),
            F.lit(advanced).alias("watermark_advanced"),
            F.lit(totals).alias("totals_match"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q328 — LIVE GroupState event-time TIMEOUT (the one state-API path the
# shelf's other stateful queries never fire).
# ---------------------------------------------------------------------------
_TIMEOUT_GAP_MS = 2 * 3600 * 1000  # 2 h, same threshold family as q131

#: shared gaps-and-islands CTE chain for the q328/q331 oracle pair — the
#: island split interpolates the SAME constant the operator uses (a
#: hand-written "INTERVAL 2 HOUR" here once desynced the two halves of
#: the oracle from a _TIMEOUT_GAP_MS change), and the deadline/watermark
#: comparison is STRICT (<) because Spark evicts timed-out state only
#: when timeoutTimestamp < eviction watermark — verified empirically: a
#: session whose ms-floored deadline exactly equals the final watermark
#: is NOT emitted (tests/test_stateful_streaming.py boundary note).
_SESSION_ISLANDS_SQL = f"""
e AS (SELECT user_id, ts FROM events),
d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {_TIMEOUT_GAP_MS} MILLISECOND THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM d
),
g AS (
  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS en,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, sess
),
wm AS (
  SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000)
         - INTERVAL 1 HOUR AS w
  FROM e
)"""

#: a session's timeout deadline has passed (strict; see above)
_SESSION_CLOSED_SQL = f"""make_timestamp((epoch_us(g.en) // 1000) * 1000)
      + INTERVAL {_TIMEOUT_GAP_MS} MILLISECOND < wm.w"""


@query(
    "q328_live_session_timeout",
    oracle=f"""
WITH {_SESSION_ISLANDS_SQL}
SELECT g.user_id, g.session_start, g.n_events
FROM g, wm
WHERE EXISTS (SELECT 1 FROM e WHERE e.user_id = g.user_id AND e.ts > g.en)
   OR {_SESSION_CLOSED_SQL}
ORDER BY user_id, session_start
""",
)
def q328_live_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupState's *timeout* path exercised live — the last uncovered
    feature of the arbitrary-state API (q82/q184 run NoTimeout, q131 the
    managed session_window, q171 transformWithState): custom sessions via
    ``applyInPandasWithState`` + ``EventTimeTimeout`` over the
    time-ordered replay (q153's finite-watermark machinery — a 1 h delay
    the watermark actually crosses, unlike the 3650-day shelf default).
    Sessions close two ways: a later event >2 h after the open island
    (in-function gaps-and-islands split), or ``state.hasTimedOut`` when
    the watermark passes ``floor_ms(last_event) + 2 h`` — Spark invokes
    the processor with *no data* for the key, including in the final
    no-data batch availableNow runs after the last file drains (verified:
    both paths fire on every fixture; the prototype measured 808 gap /
    12 timeout closes at sf0.001). Which path closes a session depends on
    batch boundaries, so the projected columns are the batch-invariant
    (user_id, session_start, n_events) set.

    The oracle is q131's gaps-and-islands SQL plus the *emittability*
    predicate: a session appears iff a later same-key event exists (gap
    close) OR its ms-floored deadline is STRICTLY below the final
    watermark (ms-floored max event time minus the 1 h delay; Spark
    evicts on timeoutTimestamp < watermark, empirically a deadline
    exactly equal to the watermark does NOT fire) — trailing sessions
    the watermark never reaches stay in the state store (their rows would
    surface on the next incarnation via the checkpoint, A9-style). Gap
    margins: the split compares exact microseconds on both engines; the
    only ms-floored comparison (deadline vs watermark) has >20 s fixture
    margin at sf0.1.

    Scale: see timeout_sessions — O(active keys) state with
    watermark-driven eviction; per-batch shuffle is that batch's rows
    keyed by user, the same topology a 1000-executor cluster runs."""
    stream = _replay(spark, sf_dir, time_ordered=True).withWatermark("ts", "1 hour")
    q = drain_to_memory(timeout_sessions(stream, _TIMEOUT_GAP_MS))
    return spark.table(q.name).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# q331 — the STATE STORE read back as a batch table (Spark 4 statestore
# source): retained state must be exactly the sessions q328 withheld.
# ---------------------------------------------------------------------------
@query(
    "q331_live_state_store_audit",
    oracle=f"""
WITH {_SESSION_ISLANDS_SQL},
closed AS (
  SELECT count(*) AS c FROM g, wm
  WHERE EXISTS (SELECT 1 FROM e WHERE e.user_id = g.user_id AND e.ts > g.en)
     OR {_SESSION_CLOSED_SQL}
)
SELECT g.user_id, g.session_start, g.en AS last_event, g.n_events,
       (epoch_us(g.en) // 1000) + {_TIMEOUT_GAP_MS} AS timeout_ms,
       (SELECT CAST(c AS BIGINT) FROM closed) AS n_sessions_emitted,
       'applyInPandasWithState' AS operator_name,
       CAST(4 AS BIGINT) AS last_batch_id
FROM g, wm
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = g.user_id AND e.ts > g.en)
  AND NOT ({_SESSION_CLOSED_SQL})
ORDER BY user_id
""",
)
def q331_live_state_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state store itself, audited: run q328's timeout-session
    pipeline against an OWNED checkpoint, then read the checkpoint back
    with Spark 4's batch ``statestore`` data source and gate what the
    store retains. Conservation is the law: the emitted sessions
    (memory sink, counted into n_sessions_emitted) plus the retained
    GroupState rows must partition the gaps-and-islands sessions — the
    oracle enumerates exactly the trailing islands whose ms-floored
    deadline the final watermark never passed, with the SAME
    timeoutTimestamp arithmetic the operator used
    (floor_ms(last_event) + gap; the reader exposes it verbatim).
    ``state-metadata`` pins the run shape: operatorName and
    maxBatchId = 4 — four file batches plus availableNow's final
    no-data batch would be maxBatchId 4 with batches 0-3 carrying data,
    i.e. the value also re-proves the no-data batch executed (A13's
    checkpoint discipline made inspectable; the reference can only LOG
    its lease table, Cons:70-84 — here the durable state is a queryable
    relation).

    Scale: the statestore source reads one snapshot per store partition
    in parallel — the audit is a scan, not a replay; on a cluster the
    same read diagnoses skewed/leaking state without touching the
    running query. The checkpoint is per-run scratch, so the audit is
    hermetic and idempotent."""
    ck = os.path.join(scratch_dir(prefix="kss_live_"), "ck")
    stream = _replay(spark, sf_dir, time_ordered=True).withWatermark("ts", "1 hour")
    q = drain_to_memory(timeout_sessions(stream, _TIMEOUT_GAP_MS), checkpoint=ck)
    n_emitted = spark.table(q.name).count()

    md = (
        spark.read.format("state-metadata").load(ck)
        .filter(F.col("operatorId") == 0)
        .select("operatorName", "maxBatchId")
        .collect()[0]
    )
    st = spark.read.format("statestore").load(ck)
    return (
        st.select(
            F.col("key.user_id").alias("user_id"),
            F.expr("timestamp_micros(value.groupState.start_us)").alias(
                "session_start"
            ),
            F.expr("timestamp_micros(value.groupState.last_us)").alias(
                "last_event"
            ),
            F.col("value.groupState.n").alias("n_events"),
            F.col("value.timeoutTimestamp").alias("timeout_ms"),
            F.lit(n_emitted).cast("bigint").alias("n_sessions_emitted"),
            F.lit(str(md.operatorName)).alias("operator_name"),
            F.lit(int(md.maxBatchId)).cast("bigint").alias("last_batch_id"),
        )
        .orderBy("user_id")
    )
