"""MinHash-LSH near-dup detection, and incremental ingestion against a
persisted signature store.

The scheme has one implementation, here: ``minhash_columns`` (8
seeded-md5 minhashes per set), ``lsh_bands`` (bands of ``band_size``
minhashes joined by ``_``), ``lsh_candidates`` (the band join: a
self-join, optionally inside a block, or a batch against a store) and
``verified_pairs`` (exact set overlap on the candidates only, via
``array_intersect``). Every MinHash query builds on these functions:
q31 (and q69, q249, q259 and q288, which reuse its signatures or
pairs), q33, q56 and q182. The DuckDB oracles spell the same scheme out
in SQL.

At 100 TB you never re-shingle the historical corpus per ingest batch:
the MinHash signature relation (doc_id, shingle set, 8 minhashes) is
materialized once as parquet (the explicit form of the ``persist()`` in
q31 — see queries/dedup.py) and each new batch is LSH-banded against the
*store*, verified exactly on candidates only, and only the accepted
(novel) signatures are appended. Cost per batch: O(batch) signature
computation + a band-keyed equi-join against the store — never
O(corpus²), never a historical recompute. This is the batch analog of
the reference's per-record processing loop
(AmazonKinesisApplicationSampleRecordProcessor.java:63-91): process the
delta, checkpoint the state, at-least-once re-delivery is made idempotent
(re-running the same batch marks everything duplicate and appends
nothing).

Runs unchanged inside ``foreachBatch`` for streaming ingest.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.functions.hashing import seeded_md5_long
from kinesis_sample_spark.functions.shingles import shingle_array

N_HASHES = 8


def minhash_columns(grams: str | Column) -> list[Column]:
    """``m0..m7``: the MinHash signature of an array column, the minimum
    of one seeded md5 hash per seed over its elements. Pure array
    higher-order functions: no explode, no shuffle, O(grams) per row.
    ``transform`` builds each lambda's expression when it is called, so
    each lambda sees the seed of its own iteration. The lambda takes one
    argument: ``transform`` passes the array index to a second."""
    return [
        F.array_min(F.transform(grams, lambda x: seeded_md5_long(x, s))).alias(f"m{s}")
        for s in range(N_HASHES)
    ]


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, distinct 3-shingle set ``shs``, m0..m7) — the store's
    signature relation."""
    shl = shingle_array(F.split(F.col(text_col), " "), 3)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shl).alias("shs"),
        *minhash_columns(shl),
    )


def lsh_bands(sig: DataFrame, keys: Sequence[str], band_size: int = 4) -> DataFrame:
    """One row per LSH band of each signature: ``keys``, ``band_idx`` and
    ``band_val``, the band's ``band_size`` minhashes joined by ``_``."""
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws("_", *[f"m{b * band_size + i}" for i in range(band_size)]).alias(
                "band_val"
            ),
        )
        for b in range(N_HASHES // band_size)
    ]
    return sig.select(*keys, F.explode(F.array(*bands)).alias("b")).select(
        *keys, "b.band_idx", "b.band_val"
    )


def lsh_candidates(
    sig: DataFrame,
    block: Sequence[str] = (),
    band_size: int = 4,
    other: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a, doc_b) whose signatures collide on
    one band and whose ``block`` columns are equal: an equi-join on the
    block, ``band_idx`` and ``band_val``, never all pairs. Without
    ``other`` this is the self-join of ``sig``, each pair once with
    doc_a < doc_b; with it, doc_a comes from ``sig`` and doc_b from
    ``other``, whose ids may overlap ``sig``'s."""
    keys = ("doc_id", *block)
    bands_a = lsh_bands(sig, keys, band_size)
    bands_b = bands_a if other is None else lsh_bands(other, keys, band_size)
    on = functools.reduce(
        operator.and_,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in (*block, "band_idx", "band_val")],
    )
    if other is None:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        bands_a.alias("a")
        .join(bands_b.alias("b"), on)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verified_pairs(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame, set_col: str
) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b): each candidate pair's exact set
    intersection and set sizes, doc_a's set read from ``sets_a`` and
    doc_b's from ``sets_b`` (doc_id, ``set_col``: an array of distinct
    elements). JVM-side array ops on the candidates only: no element
    explode, no shuffle of the sets beyond the joins."""
    sh_a = sets_a.select(F.col("doc_id").alias("doc_a"), F.col(set_col).alias("sh_a"))
    sh_b = sets_b.select(F.col("doc_id").alias("doc_b"), F.col(set_col).alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )


def init_signature_store(docs: DataFrame, store_path: str) -> None:
    """Materialize the signature table for an existing corpus (run once)."""
    minhash_signatures(docs).write.mode("overwrite").parquet(store_path)


def dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    *,
    threshold: float = 0.8,
    append_accepted: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup-check ``batch`` (doc_id, text) against the store.

    Returns ``(dups, accepted_ids)``:
    - ``dups``: (doc_id, dup_of, jaccard) — batch docs whose verified
      jaccard vs some stored doc ≥ threshold (best match per doc);
    - ``accepted_ids``: (doc_id) — novel docs, whose signatures were
      appended to the store (if ``append_accepted``).

    Both returned frames are materialized (the store append forces the
    computation), so callers may read the store again immediately.
    """
    sig_new = minhash_signatures(batch).persist()
    store = spark.read.parquet(store_path)

    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    verified = (
        verified_pairs(lsh_candidates(sig_new, other=store), sig_new, store, "shs")
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # best (highest-jaccard, lowest-id) stored match per batch doc
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), "dup_of")
    dups = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # Cut lineage BEFORE appending: the append commits to store_path, and
    # Spark invalidates every cached plan reading that path (refreshByPath)
    # — a merely-persisted `dups` would silently recompute against the
    # *post-append* store and mark the whole batch duplicate. A checkpoint
    # is immune (its plan is a materialized RDD, not a file relation). On a
    # cluster use reliable checkpointing (spark.sparkContext.setCheckpointDir
    # on shared storage + .checkpoint()) instead of localCheckpoint. The
    # checkpoint blocks outlive this call (the returned DataFrames read
    # them); long-lived sessions free them between jobs via
    # kinesis_sample_spark.session.release_checkpoints.
    dups = dups.localCheckpoint(eager=True)
    accepted_sig = sig_new.join(
        dups.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=True)
    accepted_ids = accepted_sig.select("doc_id")
    if append_accepted:
        accepted_sig.write.mode("append").parquet(store_path)
    sig_new.unpersist()
    return dups, accepted_ids
