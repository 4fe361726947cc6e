"""Capstone: the full training-corpus preparation pipeline as ONE query —
quality filter → near-dup removal → chunking → reproducible sampling.
The dedup, chunking and sampling stages are operators verified individually
elsewhere (q31, q63, q54); this query proves the four compose, with a single
end-to-end oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.hashing import md5_long, md5_long_sql
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.queries.dedup import _SQL_PAIRS_BODY_TEMPLATE, q31_minhash_lsh

CHUNK, STRIDE = 20, 15
SAMPLE_PCT = 50

_SAMPLE_KEY_SQL = md5_long_sql(
    "CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)"
)


@query(
    "q77_training_corpus_pipeline",
    oracle=f"""
WITH {_SQL_PAIRS_BODY_TEMPLATE},
quality AS (
    SELECT doc_id, text FROM documents
    WHERE len(string_split(text, ' ')) >= 20
      AND len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) >= 0.15
),
kept AS (
    SELECT doc_id, text FROM quality
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
),
chunks AS (
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(string_split(text, ' '),
                                      i * {STRIDE} + 1, i * {STRIDE} + {CHUNK}), ' ') AS chunk_text,
           len(list_slice(string_split(text, ' '),
                          i * {STRIDE} + 1, i * {STRIDE} + {CHUNK})) AS n_tokens
    FROM kept, (SELECT unnest(range(0, 100)) AS i) idx
    WHERE i * {STRIDE} < len(string_split(text, ' '))
)
SELECT doc_id, chunk_idx, chunk_text, n_tokens
FROM chunks
WHERE {_SAMPLE_KEY_SQL} % 100 < {SAMPLE_PCT}
ORDER BY doc_id, chunk_idx
""",
)
def q77_training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus prep: (1) Gopher-style quality gate (length +
    lexical diversity), (2) near-dup removal — greedy keep-lower-id over
    the MinHash-LSH pairs (the connected-components variant is q69; greedy
    suffices when pairs ≈ clusters), (3) sliding-window chunking, (4) 50%
    reproducible hash sample. One declarative plan: Catalyst fuses the
    quality filter into the scan, the anti-join is a broadcast of the tiny
    pair list, chunking is per-row, sampling is a map-side filter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    quality = docs.filter(
        (F.size(toks) >= 20)
        & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.15)
    ).select("doc_id", "text")

    dup_losers = q31_minhash_lsh(spark, sf_dir).select(F.col("doc_b").alias("loser"))
    kept = quality.join(
        F.broadcast(dup_losers), quality.doc_id == F.col("loser"), "left_anti"
    )

    chunks = kept.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text,' ')) / {STRIDE}.0) as int) - 1),"
                f" i -> slice(split(text, ' '), i * {STRIDE} + 1, {CHUNK}))"
            )
        ).alias("chunk_idx", "chunk_toks"),
    ).filter(F.size("chunk_toks") > 0)

    sample_key = md5_long(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx").cast("string")
        )
    )
    return (
        chunks.select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
            F.size("chunk_toks").alias("n_tokens"),
        )
        .filter(sample_key % 100 < SAMPLE_PCT)
        .orderBy("doc_id", "chunk_idx")
    )
