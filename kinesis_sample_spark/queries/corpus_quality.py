"""Corpus-quality operators — the filter battery a training-data pipeline
runs before tokenization (C4/Gopher/RefinedWeb-style): chunk-level exact
dedup (boilerplate removal), intra-document repetition signals, and
pattern scanning (PII-shaped regex counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.hashing import md5_long, md5_long_sql
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.functions.shingles import shingle_array
from kinesis_sample_spark.queries import query

CHUNK = 20
STRIDE = 20  # disjoint paragraphs for dedup (no overlap, unlike q63's RAG chunks)


# ---------------------------------------------------------------------------
# q66 — chunk-level exact dedup (boilerplate-paragraph removal).
# ---------------------------------------------------------------------------
@query(
    "q66_chunk_dedup",
    oracle=f"""
WITH chunks AS (
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(string_split(text, ' '),
                                      i * {STRIDE} + 1, i * {STRIDE} + {CHUNK}), ' ') AS chunk_text
    FROM documents, (SELECT unnest(range(0, 100)) AS i) idx
    WHERE i * {STRIDE} < len(string_split(text, ' '))
),
hashed AS (
    SELECT doc_id, chunk_idx, {md5_long_sql('chunk_text')} AS h FROM chunks
),
ranked AS (
    SELECT doc_id, chunk_idx, h,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS occurrence,
           COUNT(*) OVER (PARTITION BY h) AS n_copies
    FROM hashed
)
SELECT doc_id, chunk_idx, h AS chunk_hash, (occurrence = 1) AS keep, n_copies
FROM ranked
WHERE n_copies > 1
ORDER BY chunk_hash, doc_id, chunk_idx
""",
)
def q66_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact dedup: split every document into
    disjoint {CHUNK}-token chunks, hash, keep the first occurrence of each
    repeated chunk (deterministic by (doc_id, chunk_idx)) and flag the
    rest — the C4-style boilerplate filter. Output lists only duplicated
    chunks (the interesting rows). Scale: one shuffle on the 60-bit chunk
    hash; chunk text itself never shuffles."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text,' ')) / {STRIDE}.0) as int) - 1),"
                f" i -> concat_ws(' ', slice(split(text, ' '), i * {STRIDE} + 1, {CHUNK})))"
            )
        ).alias("chunk_idx", "chunk_text"),
    ).filter(F.length("chunk_text") > 0)
    hashed = chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        md5_long(F.col("chunk_text")).alias("chunk_hash"),
    )
    w = W.partitionBy("chunk_hash")
    ranked = hashed.select(
        "doc_id",
        "chunk_idx",
        "chunk_hash",
        (F.row_number().over(w.orderBy("doc_id", "chunk_idx")) == 1).alias("keep"),
        F.count("*").over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("n_copies") > 1).orderBy("chunk_hash", "doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# q67 — intra-document repetition signals (Gopher-style).
# ---------------------------------------------------------------------------
@query(
    "q67_repetition_scores",
    oracle="""
WITH m AS (
    SELECT doc_id,
           string_split(text, ' ') AS toks,
           list_transform(range(1, len(string_split(text, ' ')) - 1),
                          i -> string_split(text, ' ')[i] || ' ' ||
                               string_split(text, ' ')[i+1] || ' ' ||
                               string_split(text, ' ')[i+2]) AS sh
    FROM documents
)
SELECT doc_id,
       1.0 - len(list_distinct(sh)) / len(sh) AS dup_3gram_ratio,
       1.0 - len(list_distinct(toks)) / len(toks) AS dup_token_ratio,
       len(list_filter(toks, t -> t = toks[1])) / len(toks) AS first_token_share
FROM m
WHERE len(sh) > 0
ORDER BY doc_id
""",
)
def q67_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics per document (duplicate-n-gram ratio, duplicate
    token ratio, top-token concentration) — the Gopher repetition filters.
    All array HOFs; integer ratios → identical doubles."""
    from kinesis_sample_spark.functions.shingles import shingle_array

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.split("text", " ")
    m = docs.select(
        "doc_id", toks.alias("toks"), shingle_array(toks).alias("sh")
    ).filter(F.size("sh") > 0)
    first_tok = F.element_at("toks", 1)
    return (
        m.select(
            "doc_id",
            (1.0 - F.size(F.array_distinct("sh")) / F.size("sh")).alias("dup_3gram_ratio"),
            (1.0 - F.size(F.array_distinct("toks")) / F.size("toks")).alias(
                "dup_token_ratio"
            ),
            (
                F.size(F.filter("toks", lambda t: t == first_tok)) / F.size("toks")
            ).alias("first_token_share"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q188 — corpus-derived unigram log-probability quality score.
# ---------------------------------------------------------------------------
_ULP_KEEP = -3.402  # fixture median avg-logprob; below = token-soup outlier


@query(
    "q188_unigram_logprob_quality",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tot AS (SELECT count(*) AS n FROM tok),
freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
lp AS (
  SELECT t.doc_id,
         CAST(round(ln(f.c / (SELECT n FROM tot)), 6) AS DECIMAL(18,6)) AS l
  FROM tok t JOIN freq f ON f.tok = t.tok
),
doc AS (
  SELECT doc_id, CAST(SUM(l) AS DOUBLE) AS sum_lp,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM lp GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_lp,
       sum_lp / n_tokens AS avg_logprob,
       CAST(sum_lp / n_tokens >= {_ULP_KEEP} AS INT) AS keep
FROM doc ORDER BY doc_id
""",
)
def q188_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring with the LM derived
    from the corpus itself: each document's average unigram
    log-probability under the corpus token distribution (the perplexity
    proxy CCNet/fineweb pipelines threshold on — here self-contained, no
    external model). Engine-portability: ln's argument is a ratio of two
    exact integers (token count / corpus total), so both engines feed
    libm identical doubles; each token's logprob is then round(·, 6) →
    DECIMAL(18,6), making the per-document SUM exact integer arithmetic
    (order-independent under any partitioning) — the r04 quantization
    convention. The final average divides that exactly-representable
    decimal-as-double by an integer count, so ``keep`` is a deterministic
    bit-equal comparison even though the threshold sits in the
    distribution's dense center.

    Scale: one word-count shuffle for the frequency table (vocabulary-
    sized — at 100 TB still only as big as the vocabulary), broadcast
    back to the token stream, one per-doc aggregation. No all-pairs, no
    Python."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    lp = (
        tok.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(F.col("c") / F.col("n")), 6)
            .cast("decimal(18,6)")
            .alias("l"),
        )
    )
    doc = lp.groupBy("doc_id").agg(
        F.sum("l").cast("double").alias("sum_lp"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    avg = F.col("sum_lp") / F.col("n_tokens")
    return doc.select(
        "doc_id",
        "n_tokens",
        "sum_lp",
        avg.alias("avg_logprob"),
        (avg >= _ULP_KEEP).cast("int").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q193 — cross-document n-gram novelty score.
# ---------------------------------------------------------------------------
@query(
    "q193_ngram_novelty",
    oracle="""
WITH g AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CAST(df.df = 1 AS BIGINT)) AS BIGINT) AS n_unique,
       SUM(CAST(df.df = 1 AS BIGINT)) / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM g JOIN df ON df.gram = g.gram
GROUP BY g.doc_id ORDER BY g.doc_id
""",
)
def q193_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document novelty: the fraction of a document's distinct
    word 3-grams that appear in no other document (document frequency
    = 1) — high novelty separates original content from boilerplate and
    near-copies, and is the cheap corpus-level signal pipelines use to
    pick dedup survivors. Shingles via the O(n) zip_with form
    (functions/shingles.py), per-doc dedup with array_distinct *before*
    the explode so the df shuffle carries distinct (doc, gram) pairs
    only, then one gram-keyed count and a join back.

    Scale: two gram-keyed shuffles (df count + join), both linear in
    corpus gram volume; no pairwise work. At 100 TB the df table is the
    big relation — the join stays shuffle-hash on the gram key, and a
    stop-gram cap (drop grams with df above a threshold early, as q97
    does) bounds skew from boilerplate grams."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_array(F.split("text", " "), 3))
        ).alias("gram"),
    )
    df = g.groupBy("gram").agg(F.count("*").alias("df"))
    uniq = (F.col("df") == 1).cast("bigint")
    return (
        g.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(uniq).alias("n_unique"),
            (F.sum(uniq) / F.count("*").cast("double")).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q194 — per-document token-distribution entropy.
# ---------------------------------------------------------------------------
@query(
    "q194_token_entropy",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
agg AS (
    SELECT doc_id,
           CAST(SUM(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS DOUBLE) AS s,
           SUM(c) AS n,
           COUNT(*) AS n_distinct
    FROM cnt GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_distinct,
       {sql_double('CAST(round(ln(n), 6) AS DECIMAL(18,6))')} - s / n AS entropy_nats
FROM agg ORDER BY doc_id
""",
)
def q194_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    repetitiveness signal (low entropy = keyword stuffing / boilerplate,
    complementing q67's repetition ratios with an information-theoretic
    scalar). Computed as ln(n) - sum(c*ln c)/n, which needs only ln over
    exact integers. Engine-portability: Java's Math.log and DuckDB's
    libm ln disagree by 1 ulp on some plain-integer arguments (measured:
    ln(48), ln(74)) — so BOTH ln terms are quantized round(·,6) →
    DECIMAL(18,6) before use: the per-token-type terms sum exactly in
    any order, and the standalone ln(n) term crosses to double through
    the correctly-rounded VARCHAR path (sql_double). Every remaining op
    is identical-double arithmetic.

    Scale: one (doc, token) shuffle + one per-doc aggregation, both
    linear; the doc-sized token-count groups never leave the executors."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cnt = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum(F.round(F.col("c") * F.log("c"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("s"),
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_distinct",
        (
            F.round(F.log("n"), 6).cast("decimal(18,6)").cast("double")
            - F.col("s") / F.col("n")
        ).alias("entropy_nats"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q195 — bigram-LM cross-entropy scored against the corpus itself.
# ---------------------------------------------------------------------------
@query(
    "q195_bigram_cross_entropy",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                  i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
    FROM docs
),
bge AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bge GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bge GROUP BY w1),
lp AS (
    SELECT doc_id, CAST(round(ln(c12.c12 / c1.c1), 6) AS DECIMAL(18,6)) AS l
    FROM bge JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
),
agg AS (SELECT doc_id, CAST(SUM(l) AS DOUBLE) AS s, COUNT(*) AS n_bigrams
        FROM lp GROUP BY doc_id)
SELECT doc_id, n_bigrams, -s / n_bigrams AS cross_entropy
FROM agg ORDER BY doc_id
""",
)
def q195_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with the LM estimated from the
    corpus itself: each document's cross-entropy under the maximum-
    likelihood conditional P(w2|w1) = c(w1 w2)/c(w1 ·). The second-order
    sibling of q188's unigram score — token-soup documents whose word
    *order* is atypical surface here even when their unigram mix looks
    fine (the Wikipedia-perplexity filter shape from CCNet, with the
    external LM replaced by in-corpus counts). ln's argument is again a
    ratio of exact integers, each term round(·,6) → DECIMAL(18,6) so the
    per-doc sum is order-independent; the final divide is identical
    doubles on both engines.

    Scale: the bigram count table is vocabulary²-bounded but Zipf-thin
    in practice; both count shuffles and the scoring join are bigram-
    keyed equi-joins (no broadcast assumed — unlike q188's vocab-sized
    table the bigram model may exceed driver memory at 100 TB). The
    context-count join keys on w1 alone; boilerplate-skewed contexts
    would salt or cap exactly like q193's stop-grams."""
    docs = load_table(spark, sf_dir, "documents")
    bg_expr = (
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
        " slice(t, 2, greatest(size(t) - 1, 0)),"
        " (a, b) -> struct(a AS w1, b AS w2))"
    )
    bge = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.explode(F.expr(bg_expr)).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c12 = bge.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bge.groupBy("w1").agg(F.count("*").alias("c1"))
    lp = (
        bge.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            F.round(F.log(F.col("c12") / F.col("c1")), 6)
            .cast("decimal(18,6)")
            .alias("l"),
        )
    )
    return (
        lp.groupBy("doc_id")
        .agg(
            F.sum("l").cast("double").alias("s"),
            F.count("*").alias("n_bigrams"),
        )
        .select("doc_id", "n_bigrams", (-F.col("s") / F.col("n_bigrams")).alias("cross_entropy"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q211 — token co-occurrence PMI over the top-k vocabulary.
# ---------------------------------------------------------------------------
_PMI_TOPK = 50


@query(
    "q211_cooccurrence_pmi",
    oracle=f"""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
vocab AS (
    SELECT tok, c FROM (
        SELECT tok, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
        FROM tok GROUP BY tok
    ) v WHERE rk <= {_PMI_TOPK}
),
t AS (
    SELECT tok.doc_id, tok.tok, vocab.c FROM tok JOIN vocab USING (tok)
),
pairs AS (
    SELECT a.tok AS token_a, b.tok AS token_b,
           CAST(COUNT(*) AS BIGINT) AS c_ab,
           MIN(a.c) AS c_a, MIN(b.c) AS c_b
    FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY a.tok, b.tok
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT token_a, token_b, c_ab,
       {sql_double('CAST(round(ln((n_docs * c_ab) / (c_a * c_b)), 6) AS DECIMAL(18,6))')}
         AS pmi
FROM pairs, n
ORDER BY pmi DESC, token_a, token_b
LIMIT 100
""",
)
def q211_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between top-50 vocabulary
    tokens, by document co-presence: pmi(a,b) = ln(N*c_ab / (c_a*c_b))
    over document-frequency counts — the collocation / topic-affinity
    signal (and the association metric behind SPPMI embedding matrices).
    The ln argument is a single division of exact integer products, and
    the result is quantized round(.,6) -> DECIMAL(18,6) before crossing
    engines (Java Math.log vs libm 1-ulp rule; see q188/q194).

    Scale: the vocabulary is rank-capped (broadcast), so
    the per-doc pair space is bounded by k^2 regardless of corpus size;
    the pair count is one word-count-shaped shuffle. Raising k grows
    candidates quadratically in k but never in N."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    counts = tok.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = F.broadcast(
        counts.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("c").desc(), "tok")),
        )
        .filter(F.col("rk") <= _PMI_TOPK)
        .select("tok", "c")
    )
    t = tok.join(vocab, "tok").select("doc_id", "tok", "c")
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("token_a"), F.col("b.tok").alias("token_b")
        )
        .agg(
            F.count("*").alias("c_ab"),
            F.min("a.c").alias("c_a"),
            F.min("b.c").alias("c_b"),
        )
    )
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            "c_ab",
            F.round(
                F.log((F.col("n_docs") * F.col("c_ab")) / (F.col("c_a") * F.col("c_b"))),
                6,
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "token_a", "token_b")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q232 — vocabulary growth curve (Heaps'-law audit).
# ---------------------------------------------------------------------------
@query(
    "q232_vocab_growth",
    oracle="""
WITH first_seen AS (
    SELECT tok, MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
    GROUP BY tok
),
bounds AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
per_decile AS (
    SELECT CAST((first_doc * 10) // n_docs AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS new_tokens
    FROM first_seen, bounds
    GROUP BY (first_doc * 10) // n_docs
)
SELECT decile, new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM per_decile ORDER BY decile
""",
)
def q232_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law audit): per corpus decile
    (by doc_id position), how many token types appear for the FIRST
    time, and the cumulative vocabulary — sublinear growth is the
    healthy-corpus signature; a late-decile spike means a new source or
    language slipped in (the ingest-drift view of q193's per-doc
    novelty). First-occurrence = MIN(doc_id) per token; all arithmetic
    is integer (decile via integer floor-division).

    Scale: one word-count-shaped shuffle to per-token minima
    (vocabulary-sized, the same relation q204's index builds), then a
    10-row window."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    first_seen = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    bounds = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    per_decile = (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.floor((F.col("first_doc") * 10) / F.col("n_docs"))
            .cast("int")
            .alias("decile")
        )
        .agg(F.count("*").alias("new_tokens"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_decile.select(
        "decile",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("bigint").alias("cum_vocab"),
    ).orderBy("decile")
