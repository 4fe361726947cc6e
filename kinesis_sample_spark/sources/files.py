"""File sources: batch readers live in catalog.py; this module provides the
streaming file-source replay used as the Kinesis stand-in in tests
(SURVEY.md §5.2: run the streaming query on a bounded source, compare the
final table to batch SQL).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_sample_spark.catalog import load_table

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_FILE = "_replay_file"


def replay_frame(
    frame: DataFrame,
    out_dir: str,
    n_files: int,
    files_per_trigger: int = 1,
    by: str | None = None,
) -> DataFrame:
    """Write ``frame`` to the new directory ``out_dir`` as exactly
    ``n_files`` parquet files and return a readStream over them with the
    frame's own schema. File i holds partition i of ``frame``, or, with
    ``by``, the rows whose integer column ``by`` equals i (``by`` itself
    is not written).

    The file source orders files by modification time, and parallel
    writes finish in any order, so file i's mtime is stamped one second
    after file i-1's, an hour in the past: the batch schedule under
    ``maxFilesPerTrigger`` is file order, every run. Spark skips empty
    partitions when it writes, so a frame with fewer non-empty files than
    ``n_files`` raises instead of shifting every batch id after it."""
    staging = os.path.normpath(out_dir) + ".staging"
    if by is None:
        tagged = frame.withColumn(_FILE, F.spark_partition_id())
        schema = frame.schema
    else:
        tagged = frame.withColumnRenamed(by, _FILE).repartition(_FILE)
        schema = frame.drop(by).schema
    tagged.write.partitionBy(_FILE).parquet(staging)
    written = {
        int(d.rsplit("=", 1)[1]): glob.glob(os.path.join(staging, d, "*.parquet"))
        for d in os.listdir(staging)
        if d.startswith(f"{_FILE}=")
    }
    if sorted(written) != list(range(n_files)) or any(
        len(files) != 1 for files in written.values()
    ):
        shutil.rmtree(staging)
        raise RuntimeError(
            f"replay of {out_dir} wrote files {sorted(written)}, expected one "
            f"each for 0..{n_files - 1} (an empty partition?)"
        )
    os.makedirs(out_dir)
    base = int(time.time()) - 3600
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        os.rename(written[i][0], path)
        os.utime(path, (base + i, base + i))
    shutil.rmtree(staging)
    return _read_stream(frame.sparkSession, schema, out_dir, files_per_trigger)


def write_stream_fixture(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> str:
    """Materialize the events fixture as ``out_dir/events_stream``, n
    round-robin files (each file ≈ a batch of shard records), and return
    that directory for ``replay_events_stream``. The nanos→micros lift
    happens here (catalog.load_table) so the stream carries plain
    TimestampType."""
    events_dir = os.path.join(out_dir, "events_stream")
    replay_frame(
        load_table(spark, sf_dir, "events").repartition(n_files), events_dir, n_files
    )
    return events_dir


def replay_events_stream(
    spark: SparkSession, events_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """readStream over the materialized events directory. With
    ``maxFilesPerTrigger=1`` each micro-batch consumes one file — the
    closest local analog to per-shard batch delivery (Proc:162-168)."""
    return _read_stream(spark, EVENTS_SCHEMA, events_dir, files_per_trigger)


def _read_stream(
    spark: SparkSession, schema: T.StructType, path: str, files_per_trigger: int
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )
