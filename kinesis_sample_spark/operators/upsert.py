"""MERGE/upsert emulation — CDC into parquet without a table format.

Delta/Iceberg provide MERGE INTO natively; their jars are not in this
image (engine rule: stub behind capability checks). The portable
emulation: keep the latest version per key from (current ∪ updates) —
an anti-join-free formulation using a window over the union, which also
handles multiple updates for the same key in one batch (last-writer-wins
by a version column).

Scale: one shuffle on the key. For partitioned tables, restrict the
rewrite to the partitions present in ``updates`` (dynamic partition
overwrite) — full-table rewrites are the naive trap.

Every ``foreachBatch`` sink in the engine writes through this module, as
a batch replayed after a crash before its offset commit is written again:
an append log writes one epoch directory per batch (:func:`write_epoch`),
and a table sink is replaced crash-safe (:func:`_publish`) from a merge
that is idempotent per epoch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    version_col: str,
) -> DataFrame:
    """Last-writer-wins merge of ``updates`` into ``current`` by ``key``,
    ordered by ``version_col`` (ties prefer the update side)."""
    keys = [key] if isinstance(key, str) else list(key)
    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = W.partitionBy(*keys).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def _hadoop_fs(spark, path: str):
    """Hadoop FileSystem + Path for ``path`` — works on any Hadoop-backed
    store (local, HDFS, s3a), which is what makes the tmp/backup rename
    dance below portable to a real cluster."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Write one micro-batch's rows to ``root/epoch=<epoch_id>``,
    overwriting that directory whole. A replayed epoch rewrites the same
    rows to the same place, so the sink converges instead of holding the
    batch twice; readers of ``root`` see an ``epoch`` partition column."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"epoch={epoch_id}"))


def _publish(spark, df: DataFrame, table_path: str) -> None:
    """Replace the table at ``table_path`` with ``df``, crash-safe: the
    new contents are written to ``__tmp`` while the live table stays
    intact (so ``df``'s lineage may read it lazily — no cache/collect
    needed), then published by rename: live → ``__bak``, tmp → live,
    drop ``__bak``. A crash at any point leaves a complete copy of the
    data on disk — mid-write keeps the old live table; between the
    renames leaves ``__bak``, which :func:`_read_live` recovers from.
    Contrast with in-place overwrite, where a crash (or cache eviction
    forcing a recompute against the truncated path) silently discards
    the whole table history."""
    fs, live = _hadoop_fs(spark, table_path)
    tmp, bak = live.suffix("__tmp"), live.suffix("__bak")
    df.write.mode("overwrite").parquet(tmp.toString())
    fs.delete(bak, True)
    if fs.exists(live) and not fs.rename(live, bak):
        raise OSError(f"rename {live} -> {bak} failed")
    if not fs.rename(tmp, live):
        raise OSError(f"rename {tmp} -> {live} failed")
    fs.delete(bak, True)


def _read_live(spark, table_path: str) -> DataFrame | None:
    """The table :func:`_publish` last wrote, or None before the first
    publish. A crash between the publish renames leaves only ``__bak``,
    which is then the table."""
    fs, live = _hadoop_fs(spark, table_path)
    for path in (live, live.suffix("__bak")):
        if fs.exists(path):
            return spark.read.parquet(path.toString())
    return None


def foreach_batch_upsert(table_path: str, key: str, version_col: str):
    """foreachBatch sink: stream CDC micro-batches into a parquet table via
    read-merge-publish. The last-writer-wins merge is idempotent per batch
    (same input ⇒ same output), so micro-batch replay after failure
    converges — the Spark replacement for the reference's
    checkpoint+retry bookkeeping applied to a mutable-table sink."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        current = _read_live(spark, table_path)
        if current is None:
            current = batch_df.limit(0)
        _publish(spark, merge_upsert(current, batch_df, key, version_col), table_path)

    return _apply


def foreach_batch_dual_sink(raw_dir: str, agg_path: str):
    """foreachBatch sink feeding TWO tables from one micro-batch — the
    fan-OUT dual of a stream union: (1) raw rows land in one
    epoch-addressed directory per batch (:func:`write_epoch`), and (2) a
    running per-event-type aggregate is additively merged and published
    with :func:`_publish`. An additive merge is not idempotent, so the
    aggregate table records the last epoch it folded in
    (``last_epoch``), and an epoch at or below it is not merged again.
    Replaying an epoch therefore rewrites its raw partition with the
    same rows and leaves the aggregate as it is, while an epoch whose
    publish never happened is merged on replay: both sinks converge to
    exactly-once table state, the multi-sink contract q313 hash-gates
    end to end. The tables belong to one checkpoint: a new checkpoint
    restarts epoch ids at 0, so it needs new tables.

    The merged sum is re-narrowed to DECIMAL(22,2) before every publish:
    Spark widens SUM(decimal) by 10 digits per aggregation, so an
    un-narrowed running table would hit the 38-digit precision cap after
    three epochs (the SCALING.md decimal-width trap, streaming edition).
    """

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        write_epoch(batch_df, raw_dir, epoch_id)
        current = _read_live(spark, agg_path)
        if current is not None:
            last = current.agg(F.max("last_epoch")).first()[0]
            if last is not None and last >= epoch_id:
                return
        batch_agg = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(22,2)")
            .alias("sum_value"),
        )
        both = batch_agg if current is None else current.drop("last_epoch").unionByName(batch_agg)
        merged = both.groupBy("event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("decimal(22,2)").alias("sum_value"),
        )
        _publish(spark, merged.withColumn("last_epoch", F.lit(epoch_id)), agg_path)

    return _apply
