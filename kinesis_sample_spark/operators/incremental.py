"""Incremental near-dup ingestion against a persisted signature store.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.functions.hashing import seeded_md5_long
from kinesis_sample_spark.functions.shingles import shingle_array

N_HASHES = 8


def _mh(seed: int):
    # closure factory: transform() passes the array index to 2-arg lambdas
    return lambda x: seeded_md5_long(x, seed)


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, distinct 3-shingle set, m0..m7) — identical signature scheme to
    q31 so store and query sides agree. Pure array higher-order
    functions: no explode, no shuffle, O(tokens) per row."""
    shl = shingle_array(F.split(F.col(text_col), " "), 3)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shl).alias("shs"),
        *[F.array_min(F.transform(shl, _mh(s))).alias(f"m{s}") for s in range(N_HASHES)],
    )


def _bands(sig: DataFrame) -> DataFrame:
    """Two 4-hash LSH bands per signature (same banding as q31)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_idx"),
                    F.concat_ws("_", "m0", "m1", "m2", "m3").alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_idx"),
                    F.concat_ws("_", "m4", "m5", "m6", "m7").alias("band_val"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.band_idx", "b.band_val")


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

    cand = (
        _bands(sig_new)
        .alias("n")
        .join(
            _bands(store).alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_val") == F.col("o.band_val")),
        )
        .select(F.col("n.doc_id").alias("doc_id"), F.col("o.doc_id").alias("dup_of"))
        .distinct()
    )
    verified = (
        cand.join(
            sig_new.select(F.col("doc_id"), F.col("shs").alias("sh_n")), "doc_id"
        )
        .join(
            store.select(F.col("doc_id").alias("dup_of"), F.col("shs").alias("sh_o")),
            "dup_of",
        )
        .select(
            "doc_id",
            "dup_of",
            (
                F.size(F.array_intersect("sh_n", "sh_o"))
                / (
                    F.size("sh_n")
                    + F.size("sh_o")
                    - F.size(F.array_intersect("sh_n", "sh_o"))
                )
            ).alias("jaccard"),
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
