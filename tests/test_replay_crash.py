"""Crash gate for the consumer's replay contract (A13/A14).

A child process drains an engine pipeline and SIGKILLs itself and its
JVM after batch K's sinks are written and before Spark commits batch K's
offsets — the window a lost lease or a host crash leaves. The restart
from the same checkpoint replays batch K; the sinks must still hold each
record's output once. Two pipelines are gated: ``consume_with_dlq``
(stateless) and ``streaming_window_counts`` (window state, whose batch K
state version is already written when the kill lands).
"""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.operators.upsert import write_epoch
from kinesis_sample_spark.sources.files import replay_events_stream, write_stream_fixture
from kinesis_sample_spark.streaming.envelope import envelope_from_events
from kinesis_sample_spark.streaming.pipeline import (
    consume_with_dlq,
    drain_available_now,
    last_emission,
    streaming_window_counts,
)
from tests.test_streaming import batch_window_counts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The child wraps the parquet writer: once batch K's last sink (``last``,
# written after every other sink of the batch) is on disk, it kills its
# whole process group — the Python process and the JVM it launched —
# before the offset commit. ``start`` names the function of this module
# that starts the drain.
CHILD = """
import os, signal, sys
from pyspark.sql import DataFrameWriter
from kinesis_sample_spark.session import get_spark
from tests import test_replay_crash

start, events_dir, out, kill_at, last = sys.argv[1:6]
parquet = DataFrameWriter.parquet
last_writes = []

def parquet_then_crash(self, path, *args, **kwargs):
    parquet(self, path, *args, **kwargs)
    if path.startswith(os.path.join(out, last)):
        last_writes.append(path)
        if len(last_writes) == int(kill_at) + 1:
            os.killpg(0, signal.SIGKILL)

DataFrameWriter.parquet = parquet_then_crash
getattr(test_replay_crash, start)(get_spark("crash-child"), events_dir, out)
sys.exit("the drain finished without reaching the kill point")
"""


def start_consumer(spark, events_dir: str, out: str):
    """Drain ``consume_with_dlq`` over the replayed events, one file per
    batch, with every tenth record's payload made undecodable."""
    env = envelope_from_events(replay_events_stream(spark, events_dir))
    poisoned = env.withColumn(
        "data",
        F.when(
            F.col("sequenceNumber").cast("long") % 10 == 0,
            F.encode(F.lit("testData-NOT_A_TIMESTAMP"), "UTF-8"),
        ).otherwise(F.col("data")),
    )
    return consume_with_dlq(
        poisoned, f"{out}/good", f"{out}/dlq", checkpoint=f"{out}/ckpt"
    )


def start_window_counts(spark, events_dir: str, out: str):
    """Drain ``streaming_window_counts`` over the replayed events, one
    file per batch, in update mode into an epoch-per-batch emission log.
    The watermark is wider than the fixture's event-time span, so no row
    is late and the final counts are the batch answer."""
    env = envelope_from_events(replay_events_stream(spark, events_dir))
    counts = streaming_window_counts(env, watermark="40 days")
    return drain_available_now(
        counts.writeStream.foreachBatch(
            lambda batch_df, epoch_id: write_epoch(batch_df, f"{out}/emissions", epoch_id)
        )
        .outputMode("update")
        .option("checkpointLocation", f"{out}/ckpt"),
        what="window counts drain",
    )


def _live_members(pgid: int) -> list[int]:
    """Pids in process group ``pgid`` that have not exited (zombies have)."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            pids.append(int(pid))
    return pids


def _crash_child(start: str, events_dir: str, out: str, kill_at: int, last: str) -> None:
    """Run ``start`` in a child that is SIGKILLed after batch ``kill_at``'s
    ``last`` sink write, and check that the kill landed between that
    batch's planning and its commit, with no process of the child left."""
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD, start, events_dir, out, str(kill_at), last],
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g"),
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        start_new_session=True,
    )
    try:
        log, _ = child.communicate(timeout=300)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    assert child.returncode == -signal.SIGKILL, log[-3000:]
    deadline = time.monotonic() + 30
    while _live_members(child.pid):
        assert time.monotonic() < deadline, "the child's JVM outlived it by 30 s"
        time.sleep(0.1)

    commits = sorted(int(f) for f in os.listdir(f"{out}/ckpt/commits") if f.isdigit())
    assert commits == list(range(kill_at))
    assert os.path.exists(f"{out}/ckpt/offsets/{kill_at}")


@pytest.mark.parametrize("kill_at", [0, 2])
def test_consumer_crash_before_commit_replays_once(spark, sf_dir, tmp_path, kill_at):
    events_dir = write_stream_fixture(spark, sf_dir, str(tmp_path), n_files=4)
    out = str(tmp_path / "out")
    _crash_child("start_consumer", events_dir, out, kill_at, "dlq")

    start_consumer(spark, events_dir, out)

    ids = [r.event_id for r in load_table(spark, sf_dir, "events").select("event_id").collect()]
    good = [int(r.sequenceNumber) for r in spark.read.parquet(f"{out}/good").collect()]
    assert len(good) == len(set(good)), "a replayed batch was written twice"
    assert set(good) == {i for i in ids if i % 10 != 0}
    assert spark.read.parquet(f"{out}/dlq").count() == sum(i % 10 == 0 for i in ids)


def test_window_counts_crash_before_commit_replays_once(spark, sf_dir, tmp_path):
    """Batch K's state version K+1 is committed inside its sink write, so
    the kill leaves it on disk with no offset commit. The restart replays
    batch K against state K, overwrites version K+1, and must emit each
    running count once and end on the batch answer."""
    kill_at = 1
    events_dir = write_stream_fixture(spark, sf_dir, str(tmp_path), n_files=4)
    out = str(tmp_path / "out")
    _crash_child("start_window_counts", events_dir, out, kill_at, "emissions")
    assert glob.glob(f"{out}/ckpt/state/0/*/{kill_at + 1}.delta")

    start_window_counts(spark, events_dir, out)

    emissions = spark.read.parquet(f"{out}/emissions").drop("epoch")
    rows = emissions.groupBy("w_start", "partitionKey", "n_records").count()
    assert rows.filter(F.col("count") > 1).count() == 0, "a replayed batch was emitted twice"
    final = last_emission(emissions, ["w_start", "partitionKey"], "n_records")
    expected = batch_window_counts(spark, sf_dir)
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
