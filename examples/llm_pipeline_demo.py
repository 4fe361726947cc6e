#!/usr/bin/env python
"""Training-data pipeline demo over the synthetic corpus fixtures.

Chains the engine's LLM-data operators the way a real curation run would:
quality gate (rules + entropy + LM cross-entropy) → exact + near dedup
→ semantic dedup → novelty/drift audits → chunking → packing,
then two retrieval passes (BM25 lexical, cosine top-k dense). Every stage
is a registry query — the same callables the driver hash-checks — so this
demo is executable documentation, not a separate code path.

Run: python examples/llm_pipeline_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_sample_spark.queries import load_registry
from kinesis_sample_spark.session import get_spark

STAGES = (
    ("quality gate (Gopher rules)", "q117_gopher_quality_rules"),
    ("exact dedup", "q30_exact_dedup"),
    ("near dedup (MinHash+LSH)", "q31_minhash_lsh"),
    ("semantic dedup (SemDeDup bands)", "q158_semantic_dedup"),
    ("decontamination (benchmark n-grams)", "q97_benchmark_decontamination"),
    ("quality: token entropy", "q194_token_entropy"),
    ("quality: bigram-LM cross-entropy", "q195_bigram_cross_entropy"),
    ("novelty: cross-doc 3-gram df=1 share", "q193_ngram_novelty"),
    ("drift: per-key exact Wasserstein-1", "q336_wasserstein_drift"),
    ("chunking (content-defined)", "q148_content_defined_chunks"),
    ("sequence packing (2048-token context)", "q111_sequence_packing"),
    ("lexical retrieval (BM25 top-10)", "q154_bm25_topk"),
    ("dense retrieval (cosine top-k)", "q34_cosine_topk"),
    # round-12 calibration audits: measure the machinery itself before
    # trusting it at scale
    ("calibrate: minhash vs exact jaccard", "q249_minhash_calibration"),
    ("calibrate: LSH vs prefix blocking", "q259_dedup_agreement"),
    ("calibrate: cosine background dist", "q257_cosine_pair_distribution"),
    ("audit: shingle boilerplate per source", "q264_shingle_duplication_rate"),
    ("audit: embedding norm hygiene", "q279_embedding_norm_profile"),
    ("audit: source-mix atypicality (JSD)", "q280_source_lang_jsd"),
    # round-14 curation additions: sampling the corpus is as much a
    # pipeline stage as deduping it — weighted selection, stratified
    # allocation, and an uncertainty bound on the headline ratio
    ("sample: weighted w/o replacement (E-S)", "q307_weighted_sample_es"),
    ("sample: stratified (Neyman allocation)", "q320_neyman_allocation"),
    ("uncertainty: cluster-bootstrap ratio CI", "q330_cluster_ratio_bootstrap"),
    ("corpus capstone (end-to-end)", "q77_training_corpus_pipeline"),
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("llm_pipeline_demo")
    registry = load_registry()
    print(f"corpus: {sf_dir}\n")
    for label, name in STAGES:
        t0 = time.time()
        df = registry[name].fn(spark, sf_dir)
        n = df.count()
        print(f"{label:42s} {name:32s} {n:7d} rows  {time.time() - t0:5.2f}s")
    print("\nfirst BM25 hits:")
    registry["q154_bm25_topk"].fn(spark, sf_dir).show(6, truncate=False)


if __name__ == "__main__":
    main()
