"""Incremental dedup against a persisted signature store: the ingest-delta
pattern (operators/incremental.py). Re-ingested content must be flagged
against the *store* without recomputing historical signatures, accepted
novelty must extend the store, and re-running the same batch must be
idempotent (everything duplicate, nothing appended)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.operators.incremental import (
    dedup_batch_against_store,
    init_signature_store,
)

SF = "/root/testdata/sf0.001"


def test_incremental_dedup_flow(spark, tmp_path):
    store = os.path.join(str(tmp_path), "sig_store")
    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    init_signature_store(corpus, store)
    n0 = spark.read.parquet(store).count()
    assert n0 == corpus.count()

    # batch = genuinely new docs + 5 re-ingested copies under fresh ids
    fresh = docs.filter(F.col("doc_id") >= 400).select("doc_id", "text")
    reingested = (
        docs.filter(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    batch = fresh.unionByName(reingested)
    n_batch = batch.count()

    dups, accepted = dedup_batch_against_store(spark, batch, store)
    dup_rows = {r["doc_id"]: r for r in dups.collect()}
    acc_ids = {r["doc_id"] for r in accepted.collect()}

    # every re-ingested copy is caught against its stored original, exactly
    for i in range(5):
        row = dup_rows[10000 + i]
        assert row["dup_of"] == i
        assert row["jaccard"] == 1.0
    # partition of the batch: each doc either accepted or flagged
    assert acc_ids.isdisjoint(dup_rows.keys())
    assert len(acc_ids) + len(dup_rows) == n_batch
    # store grew by exactly the accepted set
    assert spark.read.parquet(store).count() == n0 + len(acc_ids)

    # idempotence: replaying the identical batch flags everything, adds nothing
    dups2, accepted2 = dedup_batch_against_store(spark, batch, store)
    assert accepted2.count() == 0
    assert dups2.count() == n_batch
    assert spark.read.parquet(store).count() == n0 + len(acc_ids)
