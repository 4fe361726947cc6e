"""Bucketed tables — co-located joins without a shuffle.

At 100 TB the dominant cost of a fact⋈fact join is shuffling both sides.
Bucketing pre-partitions (and optionally pre-sorts) the data by the join
key at *write* time: a later join between tables bucketed the same way on
the same key needs no exchange at all — Spark reads matching buckets
pairwise. The write costs one shuffle, amortized over every subsequent
join/aggregation on that key; this is the standard layout for tables whose
join key is stable (orders/lineitem on orderkey).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table.
    Sorting within buckets additionally removes the sort from future
    sort-merge joins — the join becomes a pure zip of sorted runs."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session may have left orphaned files at the managed
    # location (dropping a table another session created only removes the
    # catalog entry it knows about) — clear them so saveAsTable can claim it
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)
