"""merge_upsert + streaming CDC sink behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_sample_spark.operators.upsert import foreach_batch_upsert, merge_upsert


def test_merge_upsert_last_writer_wins(spark):
    current = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], ["k", "v", "ver"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 11), (4, "d", 11), (2, "b3", 12)], ["k", "v", "ver"]
    )
    out = {r["k"]: (r["v"], r["ver"]) for r in merge_upsert(current, updates, "k", "ver").collect()}
    assert out == {1: ("a", 10), 2: ("b3", 12), 3: ("c", 10), 4: ("d", 11)}


def test_merge_upsert_tie_prefers_update(spark):
    current = spark.createDataFrame([(1, "old", 10)], ["k", "v", "ver"])
    updates = spark.createDataFrame([(1, "new", 10)], ["k", "v", "ver"])
    (row,) = merge_upsert(current, updates, "k", "ver").collect()
    assert row["v"] == "new"


def test_streaming_cdc_upsert(spark, tmp_path):
    """Replay events as CDC (key=user_id, version=ts): after the stream
    drains, the table holds exactly the latest event per user."""
    from kinesis_sample_spark.catalog import load_table
    from kinesis_sample_spark.sources.files import replay_events_stream, write_stream_fixture
    from kinesis_sample_spark.streaming.pipeline import drain_available_now

    sf = "/root/testdata/sf0.001"
    events_dir = write_stream_fixture(spark, sf, str(tmp_path), n_files=4)
    table = str(tmp_path / "user_state")
    drain_available_now(
        replay_events_stream(spark, events_dir, files_per_trigger=1)
        .writeStream.foreachBatch(foreach_batch_upsert(table, "user_id", "ts"))
        .option("checkpointLocation", str(tmp_path / "ckpt")),
        180,
        "CDC upsert",
    )

    got = spark.read.parquet(table)
    events = load_table(spark, sf, "events")
    from pyspark.sql import Window as W

    expected = (
        events.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert got.count() == expected.count()
    # every user's stored ts is the max ts
    diff = (
        got.select("user_id", "ts")
        .exceptAll(expected.select("user_id", "ts"))
        .count()
    )
    assert diff == 0


def test_upsert_recovers_from_backup(spark, tmp_path):
    """Crash simulation: if a batch died between the publish renames
    (live table moved to __bak, replacement not yet renamed in), the next
    batch must read the backup — not silently restart from empty."""
    import shutil

    table = str(tmp_path / "t")
    apply_fn = foreach_batch_upsert(table, "k", "ver")
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], ["k", "v", "ver"])
    apply_fn(b1, 0)
    shutil.move(table, table + "__bak")  # the crash window

    b2 = spark.createDataFrame([(2, "b2", 2)], ["k", "v", "ver"])
    apply_fn(b2, 1)
    out = {r["k"]: r["v"] for r in spark.read.parquet(table).collect()}
    assert out == {1: "a", 2: "b2"}, "history from the backup must survive"


def _dual_sink_state(spark, raw, agg):
    agg_rows = sorted(
        (r.event_type, r.n_events, float(r.sum_value))
        for r in spark.read.parquet(agg).collect()
    )
    raw_rows = sorted(
        (r.epoch, r.event_type, r.value) for r in spark.read.parquet(raw).collect()
    )
    return agg_rows, raw_rows


_DUAL_SCHEMA = "event_type string, value double"


def test_dual_sink_replayed_epoch_is_not_merged_twice(spark, tmp_path):
    """A replay of an epoch that was already published (a crash after
    the sink, before the offset commit) leaves both sinks unchanged."""
    from kinesis_sample_spark.operators.upsert import foreach_batch_dual_sink

    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    apply_fn = foreach_batch_dual_sink(raw, agg)
    b0 = spark.createDataFrame([("a", 1.25), ("a", 2.25), ("b", 4.0)], _DUAL_SCHEMA)
    apply_fn(b0, 0)
    published = _dual_sink_state(spark, raw, agg)
    assert published[0] == [("a", 2, 3.5), ("b", 1, 4.0)]

    apply_fn(b0, 0)
    assert _dual_sink_state(spark, raw, agg) == published


def test_dual_sink_merges_epoch_whose_publish_failed(spark, tmp_path, monkeypatch):
    """An epoch that died after its raw write but before the aggregate's
    publish is merged when it is replayed."""
    from kinesis_sample_spark.operators import upsert

    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    apply_fn = upsert.foreach_batch_dual_sink(raw, agg)
    apply_fn(spark.createDataFrame([("a", 1.25), ("b", 4.0)], _DUAL_SCHEMA), 0)

    b1 = spark.createDataFrame([("a", 0.5), ("c", 3.0)], _DUAL_SCHEMA)

    def crash(*_):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(upsert, "_publish", crash)
    with pytest.raises(RuntimeError):
        apply_fn(b1, 1)
    monkeypatch.undo()
    apply_fn(b1, 1)
    agg_rows, raw_rows = _dual_sink_state(spark, raw, agg)
    assert agg_rows == [("a", 2, 1.75), ("b", 1, 4.0), ("c", 1, 3.0)]
    assert [r[0] for r in raw_rows] == [0, 0, 1, 1]
