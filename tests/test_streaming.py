"""Streaming semantics tests (SURVEY.md §5.2): run each streaming query on
a bounded file source and compare the final output against the equivalent
batch computation.
"""

from __future__ import annotations

import os
import time
from xml.etree import ElementTree

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.operators.upsert import write_epoch
from kinesis_sample_spark.sources.files import (
    replay_events_stream,
    replay_frame,
    write_stream_fixture,
)
from kinesis_sample_spark.streaming.envelope import (
    decode_envelope,
    envelope_from_events,
    rate_producer,
)
from kinesis_sample_spark.streaming.observe import batch_progress, observed_totals
from kinesis_sample_spark.streaming.pipeline import (
    consume_with_dlq,
    drain_available_now,
    drain_to_memory,
    stop_query,
    streaming_dedup,
    streaming_window_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream"))
    return write_stream_fixture(spark, SF, out, n_files=4)


def test_envelope_roundtrip_streaming(spark, events_dir):
    """Envelope build + decode survives the streaming path; payload parses
    back to the original second-truncated event time."""
    env = envelope_from_events(replay_events_stream(spark, events_dir))
    decoded = decode_envelope(env)
    drain_to_memory(decoded.select("partitionKey", "payload", "event_ts"), "append", "t_env")
    out = spark.sql("SELECT * FROM t_env")
    n_events = load_table(spark, SF, "events").count()
    assert out.count() == n_events
    assert out.filter(F.col("event_ts").isNull()).count() == 0
    assert out.filter(~F.col("payload").startswith("testData-")).count() == 0


def test_windowed_counts_match_batch(spark, events_dir):
    """Streaming tumbling-window counts == batch groupBy once the bounded
    stream is fully consumed. The replay files are unordered in event time,
    so the equivalence run uses a watermark wider than the fixture's span
    (no late-drops) and complete mode (every window in the final snapshot);
    production uses append + a tight watermark and accepts late-drops —
    that trade is the point of watermarks."""
    env = envelope_from_events(replay_events_stream(spark, events_dir))
    agg = streaming_window_counts(env, window="1 hour", watermark="40 days")
    drain_to_memory(agg, "complete", "t_win")
    streamed = spark.sql("SELECT w_start, partitionKey, n_records FROM t_win")

    expected = batch_window_counts(spark, SF)
    assert streamed.exceptAll(expected).count() == 0
    assert expected.exceptAll(streamed).count() == 0


def batch_window_counts(spark, sf_dir: str):
    """``streaming_window_counts``' answer over every event, as one batch
    ``groupBy`` (the fixtures hold no poison record)."""
    batch_env = decode_envelope(envelope_from_events(load_table(spark, sf_dir, "events")))
    return (
        batch_env.groupBy(F.window("event_ts", "1 hour").alias("w"), "partitionKey")
        .agg(F.count("*").alias("n_records"))
        .select(F.col("w.start").alias("w_start"), "partitionKey", "n_records")
    )


def _checkpoint_file_manager(spark, path: str) -> str:
    """Class name of the CheckpointFileManager that Spark builds for
    ``path`` from the session's Hadoop conf. Offset, commit and source
    logs use it as is; state stores wrap this same manager in
    ``ChecksumCheckpointFileManager``, which is unwrapped if present."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    if fm.getClass().getSimpleName() == "ChecksumCheckpointFileManager":
        underlying = fm.getClass().getDeclaredField("underlyingFileMgr")
        underlying.setAccessible(True)
        fm = underlying.get(fm)
    return fm.getClass().getName()


def test_checkpoints_write_through_filesystem_manager(spark, tmp_path):
    """Every engine session writes streaming checkpoints through
    FileSystem.create + rename, not the FileContext manager, which starts
    shell processes per write when no native libhadoop is loaded. The
    files it leaves must still make a restart exact: no temp file is left
    behind, batch ids continue and the restored state counts on."""
    ckpt = str(tmp_path / "ckpt")
    assert _checkpoint_file_manager(spark, ckpt) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    events = load_table(spark, SF, "events").withColumn("file", F.col("event_id") % 4)
    src = str(tmp_path / "src")
    stream = replay_frame(events, src, 4, by="file")
    held = str(tmp_path / "part-00003.parquet")
    os.rename(os.path.join(src, "part-00003.parquet"), held)
    counts = streaming_window_counts(envelope_from_events(stream), watermark="40 days")

    first = drain_to_memory(counts, "complete", "t_fs_ckpt_1", checkpoint=ckpt)
    assert [p.batchId for p in batch_progress(first)] == [0, 1, 2]
    left = [f for _, _, files in os.walk(ckpt) for f in files if f.endswith(".tmp")]
    assert left == []

    os.rename(held, os.path.join(src, "part-00003.parquet"))
    second = drain_to_memory(counts, "complete", "t_fs_ckpt_2", checkpoint=ckpt)
    assert [p.batchId for p in batch_progress(second)] == [3]
    final = spark.table("t_fs_ckpt_2")
    expected = batch_window_counts(spark, SF)
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0


def test_local_file_system_sets_modes_in_process_and_keeps_checksums(spark, tmp_path):
    """``file://`` resolves to the engine's checksummed local file system,
    which sets permissions without starting a ``chmod`` process. Modes,
    ``.crc`` files and checksum verification must be what Hadoop's stock
    ``LocalFileSystem`` gives."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == "kinesis_sample_spark.jvm.NioLocalFileSystem"
    assert fs.getClass().getSuperclass().getName() == "org.apache.hadoop.fs.LocalFileSystem"

    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = FsPermission.getUMask(conf).toShort()
    data, sub = tmp_path / "data.bin", tmp_path / "sub"
    out = fs.create(Path(str(data)), True)
    out.write(bytearray(range(100)))
    out.close()
    fs.mkdirs(Path(str(sub)))
    assert data.stat().st_mode & 0o7777 == 0o666 & ~umask
    assert sub.stat().st_mode & 0o7777 == 0o777 & ~umask

    fs.setPermission(Path(str(data)), FsPermission("600"))
    assert data.stat().st_mode & 0o7777 == 0o600
    # NIO cannot set the sticky bit, so this mode takes Hadoop's own path.
    fs.setPermission(Path(str(sub)), FsPermission("1777"))
    assert sub.stat().st_mode & 0o7777 == 0o1777

    assert (tmp_path / ".data.bin.crc").is_file()
    with open(data, "r+b") as f:
        f.seek(10)
        f.write(b"\xff")
    stream = fs.open(Path(str(data)))
    try:
        with pytest.raises(Py4JJavaError) as exc:
            stream.readAllBytes()
    finally:
        stream.close()
    assert exc.value.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException"


def test_shipped_hadoop_conf_carries_no_yarn_defaults(spark):
    """The Hadoop Configuration that write tasks deserialize holds no key
    from ``yarn-default.xml``: the engine's empty copy shadows the jar's.
    The core and mapred defaults, which the write committers read, stay."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    job_conf = jvm.org.apache.hadoop.mapreduce.Job.getInstance(conf).getConfiguration()
    xml = jvm.java.io.StringWriter()
    job_conf.writeXml(xml)
    source = {
        prop.findtext("name"): [s.text for s in prop.findall("source")]
        for prop in ElementTree.fromstring(xml.toString()).iter("property")
    }
    assert [k for k, srcs in source.items() if "yarn-default.xml" in srcs] == []
    # Spark sets algorithm.version itself; task.cleanup.enabled is a
    # FileOutputCommitter key that only mapred-default.xml supplies.
    assert source["mapreduce.fileoutputcommitter.task.cleanup.enabled"] == ["mapred-default.xml"]
    assert source["fs.defaultFS"] == ["core-default.xml"]


def test_streaming_dedup_collapses_replay(spark, events_dir):
    """A14 semantics: replaying the same records (union of the stream with
    itself via two passes) still yields each (partitionKey, sequenceNumber)
    once."""
    stream = replay_events_stream(spark, events_dir)
    # simulate at-least-once replay: duplicate every record in the batch
    doubled = stream.unionByName(stream)
    env = envelope_from_events(doubled)
    # watermark wider than the fixture's event-time span: the replay files
    # are time-unordered, and dropDuplicatesWithinWatermark would discard
    # genuinely-late rows (correct in production, wrong for equivalence).
    dedup = streaming_dedup(env, watermark="40 days")
    drain_to_memory(dedup.select("partitionKey", "sequenceNumber"), "append", "t_dedup")
    out = spark.sql("SELECT * FROM t_dedup")
    n_events = load_table(spark, SF, "events").count()
    assert out.count() == n_events
    assert out.distinct().count() == n_events


def test_dlq_splits_poison_records(spark, events_dir, tmp_path):
    """A11 semantics, explicit: corrupt payloads land in the DLQ sink with a
    reason; good records flow through; nothing is silently dropped."""
    stream = replay_events_stream(spark, events_dir)
    env = envelope_from_events(stream)
    # poison every 10th record by truncating its payload bytes
    poisoned = env.withColumn(
        "data",
        F.when(
            F.col("sequenceNumber").cast("long") % 10 == 0,
            F.encode(F.lit("testData-NOT_A_TIMESTAMP"), "UTF-8"),
        ).otherwise(F.col("data")),
    )
    good_path = str(tmp_path / "good")
    dlq_path = str(tmp_path / "dlq")
    consume_with_dlq(poisoned, good_path, dlq_path, checkpoint=str(tmp_path / "ckpt"))

    n_events = load_table(spark, SF, "events").count()
    good = spark.read.parquet(good_path)
    dlq = spark.read.parquet(dlq_path)
    n_poison = n_events // 10  # sequenceNumbers 0,10,...
    assert dlq.count() == n_poison
    assert good.count() == n_events - n_poison
    assert dlq.filter(F.col("dlq_reason") != "null:event_ts").count() == 0


def test_graceful_stop_and_listener(spark, events_dir):
    """A16 graceful shutdown + A17 observability: the stopped query's
    progress counts every event; stop_query terminates within the 20 s
    budget; offsets are checkpointed so a restart would resume, not
    reprocess."""
    env = envelope_from_events(replay_events_stream(spark, events_dir))
    q = (
        decode_envelope(env)
        .writeStream.format("memory")
        .queryName("t_stop")
        .trigger(availableNow=True)
        .start()
    )
    assert stop_query(q, timeout_s=20.0, drain=True)  # bounded source → drain first
    assert not q.isActive
    n_events = load_table(spark, SF, "events").count()
    total = sum(p.numInputRows for p in batch_progress(q))
    assert total == n_events


def test_drain_timeout_raises_and_stops_query(spark, events_dir):
    """A drain that outlives its timeout must raise, not hand the caller a
    partially written sink, and must leave no query running."""

    def slow_sink(_batch_df, _batch_id):
        time.sleep(3)

    name = "t_slow_drain"
    writer = (
        replay_events_stream(spark, events_dir, files_per_trigger=4)
        .writeStream.queryName(name)
        .foreachBatch(slow_sink)
    )
    with pytest.raises(RuntimeError, match="did not finish within 1 s"):
        drain_available_now(writer, timeout_s=1, what="slow drain")
    assert name not in {q.name for q in spark.streams.active}


def test_observed_metrics_accumulate_to_batch_aggregate(spark, events_dir):
    """A17 as a *checkable* metric surface: ``df.observe`` counts/sums
    accumulated across micro-batches must equal the same aggregate over
    the bounded input — the additivity law q186 rests on (see
    streaming.observe.observed_totals)."""
    st = replay_events_stream(spark, events_dir)
    obs = st.observe(
        "a17",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    q = drain_available_now(obs.writeStream.format("noop"), 120, "a17")
    events = load_table(spark, SF, "events")
    expected_n = events.count()
    expected_cents = events.select(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
    ).collect()[0][0]
    totals = observed_totals(q, "a17")
    assert totals["n_rows"] == expected_n
    assert totals["cents"] == expected_cents


def test_batch_progress_raises_when_history_may_be_truncated(spark, tmp_path):
    """Spark keeps at most numRecentProgressUpdates - 1 progress entries
    and silently drops older ones; a reader that summed what is left
    would undercount, so a full history must raise."""
    key = "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        one_row_files = spark.range(4).withColumn("file", F.col("id"))
        st = replay_frame(one_row_files, str(tmp_path / "replay"), 4, by="file")
        q = drain_available_now(st.writeStream.format("noop"), 120, "retention")
        with pytest.raises(RuntimeError, match="numRecentProgressUpdates=2"):
            batch_progress(q)
    finally:
        spark.conf.set(key, before)


def test_rate_producer_envelope(spark):
    """A1/A2: the producer simulation emits schema-correct envelopes."""
    env = rate_producer(spark, rows_per_second=50)
    drain_to_memory(env, "append", "t_rate")
    # rate+availableNow produces whatever was due; schema is the contract
    out = spark.sql("SELECT * FROM t_rate")
    assert set(out.columns) == {
        "data",
        "partitionKey",
        "sequenceNumber",
        "shardId",
        "approximateArrivalTimestamp",
    }


def test_streaming_session_windows_match_batch(spark, events_dir):
    """Live session_window aggregation on the replay == q25's batch result
    (complete mode + wide watermark for the bounded-equivalence run)."""
    stream = replay_events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "40 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    drain_to_memory(agg, "complete", "t_sess")
    streamed = spark.sql("SELECT * FROM t_sess")

    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """A9/A13/A14: restarting a drained query against the same checkpoint
    must not re-emit — offsets resume, the idempotent sink stays stable."""
    out = str(tmp_path / "resume")
    events_dir = write_stream_fixture(spark, SF, str(tmp_path), n_files=4)

    def run():
        env = envelope_from_events(replay_events_stream(spark, events_dir))
        consume_with_dlq(env, f"{out}/good", f"{out}/dlq", checkpoint=f"{out}/ckpt")

    run()
    first = spark.read.parquet(f"{out}/good").count()
    run()  # second run: same checkpoint, no new input
    assert spark.read.parquet(f"{out}/good").count() == first


def test_stream_static_join_enrichment(spark, events_dir):
    """Stream-static join: enrich the event stream with the (static)
    customer dimension — the dimension is re-read per micro-batch, no
    watermark needed on the static side. Core pattern for
    stream-time feature lookup."""
    static_users = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = replay_events_stream(spark, events_dir)
    enriched = stream.join(static_users, "user_id", "left")
    enriched = enriched.select("event_id", "user_id", "c_mktsegment")
    drain_to_memory(enriched, "append", "t_enrich")
    out = spark.sql("SELECT * FROM t_enrich")
    n_events = load_table(spark, SF, "events").count()
    assert out.count() == n_events
    # users 0..149 exist in customer (c_custkey range) — all should enrich
    assert out.filter(F.col("c_mktsegment").isNull()).count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics pinned as Spark actually implements them:
    the late-record filter of a streaming aggregation uses the watermark
    as of the PREVIOUS batch (one-batch lag vs the progress-reported
    eviction watermark), and numRowsDroppedByWatermark counts dropped
    post-partial-aggregation groups, not raw rows. Three mtime-ordered
    files: fresh (advances the watermark), late#1 (arrives in the very
    next batch — still accepted under the lagged filter), late#2
    (arrives after the watermark has been in force for a full batch —
    dropped, absent from results)."""
    import datetime

    base = datetime.datetime(2024, 6, 1, 12, 0, 0)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string, file int"
    )
    batches = [
        [(i, base + datetime.timedelta(minutes=i), 1, "click", 1.0, "{}") for i in range(10)],
        [(100 + i, base - datetime.timedelta(days=2), 2, "click", 1.0, "{}") for i in range(5)],
        [(200 + i, base - datetime.timedelta(days=3), 3, "click", 1.0, "{}") for i in range(4)],
    ]
    rows = [row + (j,) for j, batch in enumerate(batches) for row in batch]
    st = replay_frame(
        spark.createDataFrame(rows, schema), str(tmp_path / "late_stream"), 3, by="file"
    )
    agg = (
        st.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    q = drain_to_memory(agg, "update", "t_late_drop")
    dropped = sum(
        s.numRowsDroppedByWatermark for p in batch_progress(q) for s in p.stateOperators
    )
    assert dropped >= 1, "late batch was not filtered by the watermark"
    out = spark.sql("SELECT * FROM t_late_drop")
    # late#2 dropped entirely; late#1 accepted (lagged filter); fresh intact
    assert out.filter(F.col("user_id") == 3).count() == 0, "late rows leaked into results"
    assert out.filter(F.col("user_id") == 2).agg(F.sum("n")).collect()[0][0] == 5
    assert out.filter(F.col("user_id") == 1).agg(F.sum("n")).collect()[0][0] == 10


def test_stateful_checkpoint_resume(spark, tmp_path):
    """A9/A13 for STATE, not just offsets: a running per-user count whose
    state store must survive a query restart. Phase 1 drains half the
    events and stops; more files arrive; phase 2 reuses the checkpoint.
    The last emission per user across both phases must equal the full
    batch count — if state had restarted from zero, users spanning both
    halves would undercount."""
    d = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    os.makedirs(d)
    events = load_table(spark, SF, "events")
    h1 = events.filter(F.col("event_id") % 2 == 0)
    h2 = events.filter(F.col("event_id") % 2 == 1)

    emissions_dir = str(tmp_path / "emissions")

    def run():
        st = replay_events_stream(spark, d, files_per_trigger=1)
        agg = (
            st.withWatermark("ts", "3650 days")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )

        drain_available_now(
            agg.writeStream.foreachBatch(
                lambda batch_df, epoch_id: write_epoch(batch_df, emissions_dir, epoch_id)
            )
            .outputMode("update")
            .option("checkpointLocation", ck),
            120,
            "stateful resume",
        )

    h1.coalesce(2).write.mode("append").parquet(d)
    run()
    h2.coalesce(2).write.mode("append").parquet(d)
    run()

    merged = spark.read.parquet(emissions_dir)
    final = merged.groupBy("user_id").agg(F.max("n").alias("n"))
    expected = events.groupBy("user_id").agg(F.count("*").alias("n"))
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
