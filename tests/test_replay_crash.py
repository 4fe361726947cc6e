"""Crash gate for the consumer's replay contract (A13/A14).

A child process drains ``consume_with_dlq`` and SIGKILLs itself and its
JVM after batch K's sinks are written and before Spark commits batch K's
offsets — the window a lost lease or a host crash leaves. The restart
from the same checkpoint replays batch K; the sinks must still hold each
good record once and each poison record once.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.sources.files import replay_events_stream, write_stream_fixture
from kinesis_sample_spark.streaming.envelope import envelope_from_events
from kinesis_sample_spark.streaming.pipeline import consume_with_dlq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The child wraps the parquet writer: once batch K's DLQ sink (written
# after the good sink) is on disk, it kills its whole process group — the
# Python driver and the JVM it launched — before the offset commit.
CHILD = """
import os, signal, sys
from pyspark.sql import DataFrameWriter
from kinesis_sample_spark.session import get_spark
from tests.test_replay_crash import start_consumer

events_dir, out, kill_at = sys.argv[1], sys.argv[2], int(sys.argv[3])
parquet = DataFrameWriter.parquet
dlq_writes = []

def parquet_then_crash(self, path, *args, **kwargs):
    parquet(self, path, *args, **kwargs)
    if path.startswith(os.path.join(out, "dlq")):
        dlq_writes.append(path)
        if len(dlq_writes) == kill_at + 1:
            os.killpg(0, signal.SIGKILL)

DataFrameWriter.parquet = parquet_then_crash
start_consumer(get_spark("crash-child"), events_dir, out)
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


@pytest.mark.parametrize("kill_at", [0, 2])
def test_consumer_crash_before_commit_replays_once(spark, sf_dir, tmp_path, kill_at):
    events_dir = write_stream_fixture(spark, sf_dir, str(tmp_path), n_files=4)
    out = str(tmp_path / "out")
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD, events_dir, out, str(kill_at)],
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

    # the kill landed after batch K was planned and before its commit
    commits = sorted(int(f) for f in os.listdir(f"{out}/ckpt/commits") if f.isdigit())
    assert commits == list(range(kill_at))
    assert os.path.exists(f"{out}/ckpt/offsets/{kill_at}")

    start_consumer(spark, events_dir, out)

    ids = [r.event_id for r in load_table(spark, sf_dir, "events").select("event_id").collect()]
    good = [int(r.sequenceNumber) for r in spark.read.parquet(f"{out}/good").collect()]
    assert len(good) == len(set(good)), "a replayed batch was written twice"
    assert set(good) == {i for i in ids if i % 10 != 0}
    assert spark.read.parquet(f"{out}/dlq").count() == sum(i % 10 == 0 for i in ids)
