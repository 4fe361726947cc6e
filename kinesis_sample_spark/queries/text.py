"""Text-analysis operators over ``documents`` — north-star LLM-pipeline
surface: token statistics, language-ID heuristic, quality scoring, and
winnowing document fingerprints.

Everything is built from array higher-order functions (split / transform /
filter / aggregate) — per-row, JVM-side, codegen'd; the only shuffles are
the final small aggregations. No Python in the row path, so the same code
runs unchanged over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.hashing import md5_long, md5_long_sql
from kinesis_sample_spark.functions.shingles import shingle_array
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q40 — corpus token statistics per (lang, source).
# ---------------------------------------------------------------------------
@query(
    "q40_token_stats",
    oracle="""
WITH t AS (
    SELECT lang, source,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_types,
           length(text) AS n_text_chars,
           n_chars
    FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_types) AS BIGINT) AS total_types,
       SUM(n_tokens) / COUNT(*) AS avg_tokens,
       SUM(n_types) * 1.0 / SUM(n_tokens) AS type_token_ratio,
       CAST(SUM(n_text_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_meta_chars
FROM t
GROUP BY lang, source
ORDER BY lang, source
""",
)
def q40_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + distinct-type counts, aggregated per
    (lang, source). All-integer sums → exact; ratios are single double
    divisions of identical integers on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = docs.select(
        "lang",
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.length("text").alias("n_text_chars"),
        "n_chars",
    )
    return (
        t.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_types").alias("total_types"),
            (F.sum("n_tokens") / F.count("*")).alias("avg_tokens"),
            (F.sum("n_types") * 1.0 / F.sum("n_tokens")).alias("type_token_ratio"),
            F.sum("n_text_chars").alias("total_chars"),
            F.sum("n_chars").alias("total_meta_chars"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# q43 — winnowing fingerprints (rolling-hash document signatures).
# ---------------------------------------------------------------------------
@query(
    "q43_winnow_fingerprints",
    oracle=f"""
WITH hs AS (
    SELECT doc_id,
           list_transform(
               list_transform(range(1, len(string_split(text, ' ')) - 1),
                              i -> string_split(text, ' ')[i] || ' ' ||
                                   string_split(text, ' ')[i+1] || ' ' ||
                                   string_split(text, ' ')[i+2]),
               x -> {md5_long_sql('x')}) AS h
    FROM documents
    WHERE len(string_split(text, ' ')) >= 6
)
SELECT doc_id,
       unnest(list_distinct(list_transform(range(1, len(h) - 2),
                                           i -> list_min(list_slice(h, i, i + 3))))) AS fp
FROM hs
ORDER BY doc_id, fp
""",
)
def q43_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03): hash every 3-shingle, take
    the min over each sliding window of 4 hashes, keep the distinct mins as
    the document's fingerprint set. Entirely array HOFs — zero shuffle
    until the (doc_id, fp) output."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .filter(F.size(F.split("text", " ")) >= 6)
    )
    hs = docs.select(
        "doc_id",
        F.transform(shingle_array(F.split("text", " ")), md5_long).alias("h"),
    )
    fps = hs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, size(h) - 3), i -> array_min(slice(h, i, 4)))")
            )
        ).alias("fp"),
    )
    return fps.orderBy("doc_id", "fp")


# ---------------------------------------------------------------------------
# Continued text ops: q63 chunking, q64 vocabulary.
# ---------------------------------------------------------------------------
CHUNK = 20  # tokens per chunk
STRIDE = 15  # 5-token overlap


@query(
    "q63_chunk_documents",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(toks, i * {STRIDE} + 1, i * {STRIDE} + {CHUNK}), ' ') AS chunk_text,
       len(list_slice(toks, i * {STRIDE} + 1, i * {STRIDE} + {CHUNK})) AS n_tokens
FROM t, (SELECT unnest(range(0, 100)) AS i) idx
WHERE i * {STRIDE} < len(toks)
ORDER BY doc_id, chunk_idx
""",
)
def q63_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking ({CHUNK}-token chunks, {STRIDE}-token
    stride) — the standard pre-tokenization step for training/RAG
    pipelines. Pure built-ins: sequence of chunk starts → slice per chunk;
    per-row, no shuffle (the UDTF API could express this too, but
    row-at-a-time Python is the slow path — see engine rules). The final
    short chunk is kept, matching most training-data pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text,' ')) / {STRIDE}.0) as int) - 1),"
                f" i -> slice(split(text, ' '), i * {STRIDE} + 1, {CHUNK}))"
            )
        ).alias("chunk_idx", "chunk_toks"),
    ).filter(F.size("chunk_toks") > 0)
    return (
        chunks.select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
            F.size("chunk_toks").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q64_vocabulary_stats",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
totals AS (SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT doc_id) AS n_docs FROM toks)
SELECT token,
       COUNT(*) AS tf,
       COUNT(DISTINCT doc_id) AS df,
       COUNT(*) / (SELECT total_tokens FROM totals) AS tf_share,
       COUNT(DISTINCT doc_id) / (SELECT CAST(n_docs AS DOUBLE) FROM totals) AS df_share
FROM toks
GROUP BY token
ORDER BY tf DESC, token
""",
)
def q64_vocabulary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: term frequency, document frequency, shares —
    the inputs to tokenizer training and idf weighting (log excluded from
    the oracle-checked output deliberately: transcendentals differ by
    1 ulp between JVM and libm; downstream applies it). Scale: one
    explode + one (token) and one (token, doc) aggregation — the classic
    word-count shuffle shape."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    totals = toks.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            "tf",
            "df",
            (F.col("tf") / F.col("total_tokens")).alias("tf_share"),
            (F.col("df") / F.col("n_docs").cast("double")).alias("df_share"),
        )
        .orderBy(F.col("tf").desc(), "token")
    )


# ---------------------------------------------------------------------------
# q144 — BPE first-merge-round pair counts.
# ---------------------------------------------------------------------------
_BPE_TOP = 50


@query(
    "q144_bpe_pair_counts",
    oracle=f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
w2 AS (
  SELECT w FROM w WHERE length(w) >= 2
),
p AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair
  FROM w2
),
c AS (
  SELECT pair, count(*) AS n_pair FROM p GROUP BY pair
),
tot AS (
  SELECT sum(n_pair) AS total_pairs FROM c
)
SELECT pair, n_pair,
       CAST(n_pair AS DOUBLE) / CAST(total_pairs AS DOUBLE) AS pair_share
FROM c, tot
ORDER BY n_pair DESC, pair
LIMIT {_BPE_TOP}
""",
)
def q144_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge candidates, round 1: frequency of every
    adjacent character pair inside corpus words — the statistic a BPE
    tokenizer trainer (Sennrich et al. 2016) maximizes at each merge
    step; the top pair here IS the first merge. The iterative trainer
    re-runs this count after substituting the merged symbol; each round
    is the same plan.

    Scale shape: explode words → per-word pair generation via
    ``transform(sequence(...))`` array HOFs (JVM-side, no Python), one
    (pair, count) exchange with map-side partials, broadcast of the
    1-row total. The pair alphabet is bounded (≤ |charset|²), so the
    final aggregate is tiny no matter the corpus size; the deterministic
    (count desc, pair asc) order makes the top-k cut reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("n_pair"))
    totals = counts.agg(F.sum("n_pair").alias("total_pairs"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "pair",
            "n_pair",
            (F.col("n_pair").cast("double") / F.col("total_pairs").cast("double")).alias(
                "pair_share"
            ),
        )
        .orderBy(F.col("n_pair").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# q148 — content-defined chunking (rolling-hash boundaries).
# ---------------------------------------------------------------------------
_CDC_MOD = 16            # boundary when trigram hash ≡ 0 (mod 16) → ~16-token chunks
_FP_MOD = 1 << 60        # chunk fingerprint kept in 60 bits (bigint-safe)


@query(
    "q148_content_defined_chunks",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
tok AS (
  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM t
),
flag AS (
  SELECT doc_id, i, w[i] AS tok,
         CASE WHEN i >= 3
              AND {md5_long_sql("w[i-2] || ' ' || w[i-1] || ' ' || w[i]")} % {_CDC_MOD} = 0
              THEN 1 ELSE 0 END AS boundary
  FROM tok
),
chunked AS (
  SELECT doc_id, i, tok,
         CAST(sum(boundary) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chunk_id
  FROM flag
),
rel AS (
  SELECT doc_id, chunk_id, tok,
         i - min(i) OVER (PARTITION BY doc_id, chunk_id) AS rel_pos
  FROM chunked
),
chunks AS (
  SELECT doc_id, chunk_id, count(*) AS n_tokens,
         CAST(sum({md5_long_sql("rel_pos || ':' || tok")}) % {_FP_MOD} AS BIGINT)
           AS chunk_fp
  FROM rel GROUP BY doc_id, chunk_id
)
SELECT doc_id, chunk_id, n_tokens, chunk_fp,
       count(*) OVER (PARTITION BY chunk_fp, n_tokens) AS n_dups
FROM chunks
ORDER BY doc_id, chunk_id
""",
)
def q148_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: a boundary opens wherever the rolling
    trigram hash ≡ 0 (mod 16), so chunk boundaries are decided by
    *content*, not offsets — insert one word at the top of a document
    and every downstream chunk fingerprint survives, which is why CDC
    (Muthitacharoen et al., LBFS SOSP'01) is the standard chunker for
    storage-level dedup. Spark shape: posexplode → two window passes
    over the same (doc_id × position) ordering (boundary prefix-sum,
    then per-chunk relative position — one exchange, Catalyst reuses the
    sort) → per-chunk aggregate. The fingerprint is an order-independent
    sum of (relative-position-salted) token hashes taken mod 2^60, so
    identical chunks collide on it wherever they appear; ``n_dups``
    surfaces cross-corpus chunk duplication directly. Per-doc state is
    bounded by document length; nothing global is materialized."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "tok")
    w_doc = W.partitionBy("doc_id").orderBy("i")
    trigram = F.concat_ws(" ", F.lag("tok", 2).over(w_doc), F.lag("tok", 1).over(w_doc), F.col("tok"))
    boundary = (
        (F.col("i") >= 3) & (md5_long(trigram) % _CDC_MOD == 0)
    ).cast("int")
    chunked = tok.withColumn("boundary", boundary).withColumn(
        "chunk_id", F.sum("boundary").over(w_doc.rowsBetween(W.unboundedPreceding, 0))
    )
    rel = chunked.withColumn(
        "rel_pos",
        F.col("i") - F.min("i").over(W.partitionBy("doc_id", "chunk_id")),
    )
    chunks = rel.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("n_tokens"),
        (
            F.sum(
                md5_long(F.concat_ws(":", "rel_pos", "tok")).cast("decimal(38,0)")
            )
            % F.lit(_FP_MOD)
        )
        .cast("bigint")
        .alias("chunk_fp"),
    )
    return chunks.withColumn(
        "n_dups", F.count("*").over(W.partitionBy("chunk_fp", "n_tokens"))
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# q149 — top-k terms per source.
# ---------------------------------------------------------------------------
_TERMS_PER_SOURCE = 5


@query(
    "q149_top_terms_per_source",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
c AS (
  SELECT source, token, count(*) AS tf FROM tok GROUP BY source, token
),
r AS (
  SELECT source, token, tf,
         row_number() OVER (PARTITION BY source ORDER BY tf DESC, token) AS rnk
  FROM c
)
SELECT source, token, tf, rnk FROM r
WHERE rnk <= {_TERMS_PER_SOURCE}
ORDER BY source, rnk
""",
)
def q149_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-k term ranking — the corpus-composition fingerprint
    a release report prints per source. Two exchanges: the (source,
    token) count with map-side partials, then a repartition on source
    for the rank window; the window input is already the *aggregated*
    relation (|sources|·|vocab| rows, not corpus tokens), so the rank
    pass is small no matter the corpus size. Deterministic tie-break
    (tf desc, token asc) keeps the cut reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    w = W.partitionBy("source").orderBy(F.col("tf").desc(), "token")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TERMS_PER_SOURCE)
        .orderBy("source", "rnk")
    )
