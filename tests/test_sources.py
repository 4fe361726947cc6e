"""Source formats (Table B "Scans/sources"): JSON and CSV roundtrips with
explicit schemas (never inferSchema in production — it is an extra full
read), and the replay writer behind every streaming fixture.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.sources.files import EVENTS_SCHEMA, replay_frame
from kinesis_sample_spark.streaming.observe import batch_progress
from kinesis_sample_spark.streaming.pipeline import drain_available_now

SF = "/root/testdata/sf0.001"


def _events(spark):
    return load_table(spark, SF, "events")


def _replay_files(d: str) -> list[str]:
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]


def test_replay_frame_writes_exactly_n_files(spark, tmp_path):
    d = str(tmp_path / "replay")
    st = replay_frame(spark.range(40).repartition(4), d, 4)
    assert [os.path.basename(f) for f in _replay_files(d)] == [
        f"part-{i:05d}.parquet" for i in range(4)
    ]
    assert sorted(os.listdir(tmp_path)) == ["replay"]  # no staging left behind
    assert st.isStreaming and st.schema.names == ["id"]


def test_replay_frame_mtimes_ascend_in_file_order(spark, tmp_path):
    d = str(tmp_path / "replay")
    replay_frame(spark.range(80).repartitionByRange(8, "id"), d, 8)
    mtimes = [os.stat(f).st_mtime for f in _replay_files(d)]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes


def test_replay_frame_batches_follow_file_order(spark, tmp_path):
    """One file per trigger, in file order: file i holds i + 1 rows, so the
    per-batch input-row counts name the file each batch read."""
    d = str(tmp_path / "replay")
    sized = spark.range(10).withColumn(
        "file",
        F.when(F.col("id") < 1, 0).when(F.col("id") < 3, 1).when(F.col("id") < 6, 2).otherwise(3),
    )
    st = replay_frame(sized, d, 4, by="file")
    assert st.schema.names == ["id"]
    q = drain_available_now(st.writeStream.format("noop"), 120, "replay order")
    batches = [p.numInputRows for p in batch_progress(q) if p.numInputRows > 0]
    assert batches == [spark.read.parquet(f).count() for f in _replay_files(d)]
    assert batches == [1, 2, 3, 4]


def test_replay_frame_raises_on_an_empty_partition(spark, tmp_path):
    d = str(tmp_path / "replay")
    with pytest.raises(RuntimeError, match="empty partition"):
        replay_frame(spark.range(2).repartition(4), d, 4)
    assert os.listdir(tmp_path) == []


def test_json_roundtrip_with_schema(spark, tmp_path):
    src = _events(spark)
    path = str(tmp_path / "events_json")
    src.write.mode("overwrite").json(path)
    back = spark.read.schema(EVENTS_SCHEMA).json(path)
    assert back.count() == src.count()
    assert back.schema == EVENTS_SCHEMA
    # value fidelity on a sample column (timestamps survive ISO round trip)
    assert (
        back.select(F.sum(F.col("event_id")).alias("s")).collect()[0].s
        == src.select(F.sum(F.col("event_id")).alias("s")).collect()[0].s
    )


def test_csv_roundtrip_with_schema(spark, tmp_path):
    src = _events(spark).drop("props")  # props contains commas/quotes — csv needs quoting anyway
    path = str(tmp_path / "events_csv")
    # default csv timestampFormat truncates to millis — pin a micros format
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    src.write.mode("overwrite").option("header", True).option("timestampFormat", ts_fmt).csv(path)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", ts_fmt)
        .csv(path)
    )
    assert back.count() == src.count()
    diff = back.exceptAll(src).count() + src.exceptAll(back).count()
    assert diff == 0


def test_malformed_json_goes_to_corrupt_column(spark, tmp_path):
    """PERMISSIVE mode + _corrupt_record — the batch-source analog of the
    streaming DLQ (SURVEY.md §2 A11 mapping)."""
    p = tmp_path / "bad.json"
    p.write_text('{"event_id": 1, "user_id": 2}\n{not json at all}\n')
    schema = "event_id long, user_id long, _corrupt_record string"
    df = spark.read.schema(schema).json(str(p)).cache()
    try:
        assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
        assert df.filter(F.col("event_id") == 1).count() == 1
    finally:
        df.unpersist()


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Long-lived 100 TB tables evolve: later ingest batches add columns.
    mergeSchema must union the schemas, null-fill history, and keep
    column pruning working against the merged relation."""
    import os

    from pyspark.sql import functions as F

    path = os.path.join(str(tmp_path), "evolving")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    orders.select("o_orderkey", "o_totalprice").write.parquet(
        os.path.join(path, "batch=1")
    )
    orders.select(
        "o_orderkey", "o_totalprice", F.lit("v2").alias("ingest_tag")
    ).write.parquet(os.path.join(path, "batch=2"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=1"), os.path.join(path, "batch=2")
    )
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "ingest_tag"}
    n = orders.count()
    assert merged.count() == 2 * n
    # history rows are null-filled for the new column, new rows carry it
    assert merged.filter(F.col("ingest_tag").isNull()).count() == n
    assert merged.filter(F.col("ingest_tag") == "v2").count() == n


def test_kinesis_integration_smoke(spark):
    """Real-AWS integration smoke for sources/kinesis.py (A3-A7) — gated
    behind KINESIS_SMOKE_STREAM/KINESIS_SMOKE_REGION env vars because CI
    has no AWS credentials or network. When set, the admin surface must
    round-trip (describe/create-if-missing/wait/list) and the connector
    source must either load (jar present) or raise the documented
    guidance error (jar absent) — never fail silently."""
    import os

    import pytest

    stream = os.environ.get("KINESIS_SMOKE_STREAM")
    region = os.environ.get("KINESIS_SMOKE_REGION")
    if not stream or not region:
        pytest.skip("set KINESIS_SMOKE_STREAM + KINESIS_SMOKE_REGION to run")

    from kinesis_sample_spark.sources.kinesis import (
        ensure_stream,
        kinesis_source,
        list_streams,
        wait_for_active,
    )

    ensure_stream(stream, region)
    wait_for_active(stream, region)
    assert stream in list_streams(region)
    try:
        df = kinesis_source(spark, stream, region)
        assert "data" in df.columns
    except RuntimeError as e:
        assert "connector" in str(e)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC is Spark's other built-in columnar format: round-trip the events
    table and confirm both value fidelity and that predicate pushdown
    reaches the ORC scan (search-argument pushdown appears in the plan)."""
    src = _events(spark)
    path = str(tmp_path / "events_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == src.count()
    assert back.schema == src.schema
    assert (
        back.agg(F.sum("event_id").alias("s")).collect()[0].s
        == src.agg(F.sum("event_id").alias("s")).collect()[0].s
    )
    plan = (
        back.filter(F.col("user_id") == 7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "user_id" in plan.split("PushedFilters")[1][:120]


def test_producer_datasource_shards_and_payload(spark):
    """The custom Python DataSource must honor shard/row options: one
    partition per shard, disjoint round-robin sequence ranges, and the
    reference's payload format (testData-<ISO millis>)."""
    from kinesis_sample_spark.sources.producer_source import SOURCE_NAME, register

    register(spark)
    df = (
        spark.read.format(SOURCE_NAME)
        .option("rows", "40")
        .option("shards", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 40
    assert sorted(r.sequence_number for r in rows) == list(range(40))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.sequence_number)
        assert r.data.startswith("testData-")
        assert r.partition_key.startswith("partitionKey-")
    assert len(by_shard) == 4
    for sid, seqs in by_shard.items():
        shard = int(sid.replace("shardId-", ""))
        assert sorted(seqs) == list(range(shard, 40, 4))


# ---------------------------------------------------------------------------
# A3-A6 admin surface, exercised WITHOUT AWS via an injected stub client —
# the one reference behavior family that previously had zero execution
# evidence in CI (the env-gated smoke above stays as the real-AWS path).
# ---------------------------------------------------------------------------
class _NotFound(Exception):
    pass


class _Exceptions:
    ResourceNotFoundException = _NotFound


class _StubKinesisClient:
    """Minimal call-compatible stand-in for boto3's kinesis client: an
    in-memory stream table plus scripted status transitions, recording
    every call so tests can assert the exact control-plane conversation
    the reference has (Prod:68-120)."""

    exceptions = _Exceptions

    def __init__(self, streams=None, status_script=None):
        # streams: {name: status}; status_script: {name: [status, ...]}
        # each describe pops the next scripted status (last one sticks).
        self.streams = dict(streams or {})
        self.status_script = {k: list(v) for k, v in (status_script or {}).items()}
        self.calls: list[tuple] = []

    def describe_stream(self, StreamName):
        self.calls.append(("describe_stream", StreamName))
        script = self.status_script.get(StreamName)
        if script:
            self.streams[StreamName] = script.pop(0) if len(script) > 1 else script[0]
        if StreamName not in self.streams:
            raise _NotFound(StreamName)
        return {"StreamDescription": {"StreamStatus": self.streams[StreamName]}}

    def create_stream(self, StreamName, ShardCount):
        self.calls.append(("create_stream", StreamName, ShardCount))
        self.status_script.setdefault(StreamName, ["CREATING", "ACTIVE"])
        self.streams[StreamName] = "CREATING"

    def list_streams(self, Limit, ExclusiveStartStreamName=None):
        self.calls.append(("list_streams", Limit, ExclusiveStartStreamName))
        names = sorted(self.streams)
        if ExclusiveStartStreamName is not None:
            names = [n for n in names if n > ExclusiveStartStreamName]
        page, rest = names[:Limit], names[Limit:]
        return {"StreamNames": page, "HasMoreStreams": bool(rest)}


def test_admin_ensure_stream_active_is_a_single_describe():
    from kinesis_sample_spark.sources.kinesis import ensure_stream

    c = _StubKinesisClient(streams={"s1": "ACTIVE"})
    ensure_stream("s1", "us-west-2", client=c)
    assert c.calls == [("describe_stream", "s1")]


def test_admin_ensure_stream_rejects_deleting():
    import pytest

    from kinesis_sample_spark.sources.kinesis import ensure_stream

    c = _StubKinesisClient(streams={"s1": "DELETING"})
    with pytest.raises(RuntimeError, match="deleted"):
        ensure_stream("s1", "us-west-2", client=c)


def test_admin_ensure_stream_creates_missing_and_waits_active(monkeypatch):
    """The reference's missing-stream branch (Prod:87-101): describe →
    ResourceNotFound → createStream(name, 2) → poll until ACTIVE."""
    from kinesis_sample_spark.sources import kinesis as k

    monkeypatch.setattr(k.time, "sleep", lambda s: None)
    c = _StubKinesisClient()
    k.ensure_stream("fresh", "us-west-2", client=c)
    assert ("create_stream", "fresh", k.DEFAULT_SHARDS) in c.calls
    # the scripted CREATING→ACTIVE transition must have been polled through
    describes = [x for x in c.calls if x[0] == "describe_stream"]
    assert len(describes) >= 3  # initial miss + >=1 CREATING + ACTIVE
    assert c.streams["fresh"] == "ACTIVE"


def test_admin_wait_for_active_times_out(monkeypatch):
    import pytest

    from kinesis_sample_spark.sources import kinesis as k

    monkeypatch.setattr(k.time, "sleep", lambda s: None)
    c = _StubKinesisClient(streams={"stuck": "CREATING"})
    with pytest.raises(TimeoutError, match="never went active"):
        k.wait_for_active("stuck", "us-west-2", timeout_s=0, client=c)


def test_admin_list_streams_walks_the_pagination_cursor():
    """A6 (Prod:103-120): limit=10 pages joined via the
    exclusiveStartStreamName cursor — all names, no duplicates, and the
    cursor of each follow-up request is the last name of the prior page."""
    from kinesis_sample_spark.sources.kinesis import list_streams

    names = {f"stream-{i:03d}": "ACTIVE" for i in range(27)}
    c = _StubKinesisClient(streams=names)
    got = list_streams("us-west-2", page_size=10, client=c)
    assert got == sorted(names)
    pages = [x for x in c.calls if x[0] == "list_streams"]
    assert len(pages) == 3
    assert pages[0][2] is None
    assert pages[1][2] == "stream-009"
    assert pages[2][2] == "stream-019"
