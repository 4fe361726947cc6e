"""Training-data pipeline operators, round 2: rule-based quality filtering,
two-stage ANN retrieval, label centroids, and sketch-based decontamination.

These extend the LLM-data surface (dedup/similarity/text/contamination
families) with the remaining ops a production corpus pipeline runs between
"raw crawl" and "tokenizer input":

- **q117 Gopher-style rule filter** — the published heuristic-rule family
  (word-count bounds, mean-word-length bounds, max-repetition ratio,
  stop-word presence) as boolean columns plus a final keep decision, so
  downstream stages can both filter and audit *why* documents dropped.
- **q120 multi-probe LSH rerank** — stage 1 generates candidates from
  Hamming-≤1 bucket probes (9 probes over 8 hyperplane bits), stage 2
  reranks candidates by exact cosine, and the output carries
  recall-vs-brute-force hits so retrieval quality is measured, not
  assumed.
- **q121 per-label centroids** — embedding mean per (label, dimension)
  over *integer-quantized* components: floor(v·1e6) sums are exact in any
  accumulation order, so a 1000-executor sum equals the oracle's serial
  sum bit-for-bit (the float-sum-order trap in functions/numeric.py,
  solved with integers instead of decimals).
- **q122 Bloom-filter decontamination** — q97's benchmark n-gram overlap
  re-expressed as a 3-hash Bloom membership test. At 100 TB the exact
  gram join shuffles the corpus grams; the Bloom variant broadcasts a
  fixed 3·4096-entry bit set and the corpus side stays map-only until the
  per-doc count. Output includes the exact-match count per doc so the
  false-positive overhead is visible in the result itself.

Reference parity note: the reference (AmazonKinesisApplicationSample*.java)
has no analytics surface — these operators come from the SURVEY §2 mandate
to cover what a large-scale training-data pipeline needs.

Scale notes (100 TB): q117 is map-side except one (doc_id, token) shuffle
for the repetition rule; q120 broadcasts the query-side probes and
equi-joins on bucket; q121 shuffles (label, dim) partial sums (map-side
combine makes this |labels|·dim rows per task); q122 broadcasts the Bloom
bit set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.hashing import md5_long, md5_long_sql
from kinesis_sample_spark.functions.shingles import shingle_array
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.queries.contamination import _BENCH_SOURCE, _NGRAM, _SQL_GRAMS
from kinesis_sample_spark.queries.similarity import (
    N_PLANES,
    N_QUERIES,
    TOP_K,
    _PLANES,
    _sql_bucket,
)
from kinesis_sample_spark.functions.vectors import cosine, plane_lit, sql_cosine, dot

# ---------------------------------------------------------------------------
# q117 — Gopher-style rule-based quality filter.
# ---------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "data", "value")
_WC_LO, _WC_HI = 20, 80        # word-count bounds (fixture range 10..99)
_MWL_LO, _MWL_HI = 4.0, 5.0    # mean-word-length bounds (fixture 3.7..5.3)
_REP_MAX = 0.12                # max single-token frequency share
_STOP_MIN = 2                  # distinct stop-words required

_SQL_STOP_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "q117_gopher_quality_rules",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars_t,
         len(list_distinct(list_filter(string_split(text, ' '),
                                       t -> t IN ({_SQL_STOP_LIST})))) AS n_stop_types
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
rep AS (
  SELECT doc_id, max(c) AS max_tok_freq
  FROM (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
  GROUP BY doc_id
)
SELECT m.doc_id, n_words, n_stop_types, max_tok_freq,
       (n_chars_t - n_words + 1) / n_words AS mean_wlen,
       CAST(n_words BETWEEN {_WC_LO} AND {_WC_HI} AS INT) AS r_wordcount,
       CAST((n_chars_t - n_words + 1) / n_words BETWEEN {_MWL_LO} AND {_MWL_HI} AS INT)
         AS r_meanlen,
       CAST(max_tok_freq / n_words <= {_REP_MAX} AS INT) AS r_repetition,
       CAST(n_stop_types >= {_STOP_MIN} AS INT) AS r_stopwords,
       CAST(n_words BETWEEN {_WC_LO} AND {_WC_HI}
            AND (n_chars_t - n_words + 1) / n_words BETWEEN {_MWL_LO} AND {_MWL_HI}
            AND max_tok_freq / n_words <= {_REP_MAX}
            AND n_stop_types >= {_STOP_MIN} AS INT) AS keep
FROM m JOIN rep ON m.doc_id = rep.doc_id
ORDER BY m.doc_id
""",
)
def q117_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filter (Rae et al. 2021 §A1.1 heuristics,
    thresholds adapted to the fixture distributions): each rule is an
    audit column, ``keep`` is their conjunction. The only shuffle is the
    (doc_id, token) aggregation for the repetition rule — two-level
    groupBy with map-side partial counts; everything else is per-row
    array expressions. Ratios compare via one int/int division, identical
    in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = docs.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.length("text").alias("n_chars_t"),
        F.size(F.array_distinct(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))).alias(
            "n_stop_types"
        ),
    )
    rep = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok_freq"))
    )
    mean_wlen = (F.col("n_chars_t") - F.col("n_words") + F.lit(1)) / F.col("n_words")
    r_wc = F.col("n_words").between(_WC_LO, _WC_HI)
    r_ml = mean_wlen.between(_MWL_LO, _MWL_HI)
    r_rep = (F.col("max_tok_freq") / F.col("n_words")) <= _REP_MAX
    r_stop = F.col("n_stop_types") >= _STOP_MIN
    return (
        m.join(rep, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_stop_types",
            "max_tok_freq",
            mean_wlen.alias("mean_wlen"),
            r_wc.cast("int").alias("r_wordcount"),
            r_ml.cast("int").alias("r_meanlen"),
            r_rep.cast("int").alias("r_repetition"),
            r_stop.cast("int").alias("r_stopwords"),
            (r_wc & r_ml & r_rep & r_stop).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q120 — multi-probe LSH candidate generation + exact rerank + recall audit.
# ---------------------------------------------------------------------------
_PROBE_MASKS = [0] + [1 << j for j in range(N_PLANES)]  # Hamming ≤ 1
_SQL_MASKS = ", ".join(str(m) for m in _PROBE_MASKS)
_SQL_COS_QC = sql_cosine("q.embedding", "c.embedding")


@query(
    "q120_multiprobe_rerank",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM embeddings
),
q AS (SELECT * FROM b WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding,
         xor(q.bucket, m.mask) AS probe_bucket
  FROM q, (SELECT unnest([{_SQL_MASKS}]) AS mask) m
),
cand AS (
  SELECT DISTINCT probes.query_id, c.vec_id AS neighbor_id,
         probes.embedding AS q_embedding, c.embedding AS c_embedding
  FROM probes JOIN b c ON c.bucket = probes.probe_bucket
                       AND c.vec_id <> probes.query_id
),
ann AS (
  SELECT query_id, neighbor_id, rnk FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY {sql_cosine('q_embedding', 'c_embedding')} DESC, neighbor_id
           ) AS rnk
    FROM cand) t
  WHERE rnk <= {TOP_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQL_COS_QC} DESC, c.vec_id
           ) AS rnk
    FROM q JOIN b c ON c.vec_id <> q.vec_id) t
  WHERE rnk <= {TOP_K}
)
SELECT a.query_id,
       count(*) AS n_ann,
       count(e.neighbor_id) AS recall_hits
FROM ann a LEFT JOIN exact e
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY a.query_id ORDER BY a.query_id
""",
)
def q120_multiprobe_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: multi-probe LSH (probe every bucket within
    Hamming distance 1 of the query's 8-bit hyperplane signature — 9
    probes) generates candidates via an equi-join on bucket id, then an
    exact cosine rerank keeps top-k. The result row carries
    ``recall_hits`` = overlap with the brute-force top-k, so the
    quality/cost trade of the probe radius is measured in-band. Scale:
    candidates come from 9 bucket lookups per query instead of a corpus
    scan; the brute-force leg here is the audit, not the serving path —
    drop it in production and recall becomes a sampled offline job."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = F.lit(0).cast("bigint")
    for j in range(N_PLANES):
        bucket = bucket + F.when(
            dot(F.col("embedding"), plane_lit(_PLANES[j])) > 0.0, 1 << j
        ).otherwise(0)
    b = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("q_bucket"),
    )
    masks = F.array(*[F.lit(m) for m in _PROBE_MASKS])
    probes = q.select(
        "query_id",
        "q_embedding",
        F.explode(masks).alias("mask"),
        F.col("q_bucket"),
    ).select(
        "query_id",
        "q_embedding",
        F.expr("q_bucket ^ mask").alias("probe_bucket"),
    )
    cand = (
        F.broadcast(probes)
        .join(
            b,
            (F.col("bucket") == F.col("probe_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "q_embedding", "embedding")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(
        cosine(F.col("q_embedding"), F.col("embedding")).desc(), F.col("neighbor_id")
    )
    ann = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    exact_scored = (
        F.broadcast(q.select("query_id", "q_embedding"))
        .join(b, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_embedding"), F.col("embedding")).alias("cos_sim"),
        )
    )
    we = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    exact = (
        exact_scored.withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("neighbor_id").alias("e_neighbor_id"))
    )
    return (
        ann.join(
            exact,
            (ann.query_id == exact.query_id)
            & (ann.neighbor_id == exact.e_neighbor_id),
            "left",
        )
        .groupBy(ann.query_id)
        .agg(
            F.count(F.lit(1)).alias("n_ann"),
            F.count("e_neighbor_id").alias("recall_hits"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q121 — per-label centroids over integer-quantized components.
# ---------------------------------------------------------------------------
_QUANT = 1_000_000


@query(
    "q121_label_centroids",
    oracle=f"""
SELECT label, i AS pos, count(*) AS n_vecs,
       CAST(sum(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_QUANT}) AS BIGINT)) AS BIGINT)
         AS sum_q,
       sum(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_QUANT}) AS BIGINT)) / count(*)
         AS mean_q
FROM embeddings, range(1, 65) t(i)
GROUP BY label, i ORDER BY label, i
""",
)
def q121_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class centroids per (label, dimension). Components are quantized
    to integers (floor(v·1e6): float→double is exact, one double multiply
    and a floor are deterministic) so the cross-row SUM is exact integer
    arithmetic — associative, hence identical on 32 threads, 1000
    executors, or DuckDB's serial scan. The float-sum-order trap of
    functions/numeric.py solved with integers instead of decimals; the
    mean is one bigint/bigint division at the end. Shuffle volume:
    |labels|·dim partial-aggregate rows per task, nothing else."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "e")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("e").cast("double") * _QUANT).cast("bigint").alias("q"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("q").alias("sum_q"))
        .select(
            "label",
            "pos",
            "n_vecs",
            "sum_q",
            (F.col("sum_q") / F.col("n_vecs")).alias("mean_q"),
        )
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# q122 — Bloom-filter benchmark decontamination (sketch-broadcast variant).
# ---------------------------------------------------------------------------
_BLOOM_BITS = 65536  # ~1.2k bench grams × 3 seeds → ~5% load → FP ≈ 1.4e-4/gram
_BLOOM_K = 3
_SQL_SEEDS = ", ".join(str(s) for s in range(_BLOOM_K))
_SQL_SEEDED = md5_long_sql("CAST(s AS VARCHAR) || ':' || gram")


@query(
    "q122_bloom_decontamination",
    oracle=f"""
WITH g AS (
  SELECT doc_id, source, {_SQL_GRAMS} AS grams
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
),
bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = '{_BENCH_SOURCE}'
),
bits AS (
  SELECT DISTINCT s, {_SQL_SEEDED} % {_BLOOM_BITS} AS pos
  FROM bench, (SELECT unnest([{_SQL_SEEDS}]) AS s) seeds
),
corpus AS (
  SELECT DISTINCT doc_id, unnest(grams) AS gram FROM g WHERE source <> '{_BENCH_SOURCE}'
),
probes AS (
  SELECT doc_id, gram, s, {_SQL_SEEDED} % {_BLOOM_BITS} AS pos
  FROM corpus, (SELECT unnest([{_SQL_SEEDS}]) AS s) seeds
),
bloom_hits AS (
  SELECT doc_id, gram
  FROM probes JOIN bits USING (s, pos)
  GROUP BY doc_id, gram HAVING count(*) = {_BLOOM_K}
),
exact_hits AS (
  SELECT c.doc_id, c.gram FROM corpus c JOIN bench b ON c.gram = b.gram
)
SELECT bh.doc_id,
       count(*) AS n_bloom_grams,
       count(e.gram) AS n_exact_grams
FROM bloom_hits bh LEFT JOIN exact_hits e
  ON e.doc_id = bh.doc_id AND e.gram = bh.gram
GROUP BY bh.doc_id ORDER BY bh.doc_id
""",
)
def q122_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q97's n-gram decontamination as a Bloom-filter membership test:
    the benchmark gram set becomes a {_BLOOM_K}-hash bit set of
    {_BLOOM_BITS} positions (distinct (seed, pos) pairs — ≤ 12288 rows —
    broadcast), and a corpus gram is flagged when all {_BLOOM_K} of its
    probe bits are set. False positives are a property of the sketch, not
    a bug: both engines compute the identical deterministic bit set, and
    the output's exact-match count (a second, exact join, kept here as
    the audit) shows the FP overhead per document. At 100 TB, serve the
    Bloom path only: the corpus side never shuffles grams — explode,
    probe the broadcast bit set, count per doc."""
    docs = load_table(spark, sf_dir, "documents")
    grams = shingle_array(F.split("text", " "), _NGRAM)
    bench = (
        docs.filter(F.col("source") == _BENCH_SOURCE)
        .select(F.explode(grams).alias("gram"))
        .distinct()
    )
    seeds = F.array(*[F.lit(s) for s in range(_BLOOM_K)])
    seeded = md5_long(
        F.concat(F.col("s").cast("string"), F.lit(":"), F.col("gram"))
    )
    bits = (
        bench.select(F.explode(seeds).alias("s"), "gram")
        .select("s", (seeded % _BLOOM_BITS).alias("pos"))
        .distinct()
    )
    corpus = docs.filter(F.col("source") != _BENCH_SOURCE).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    probes = corpus.select(
        "doc_id", "gram", F.explode(seeds).alias("s")
    ).select("doc_id", "gram", "s", (seeded % _BLOOM_BITS).alias("pos"))
    bloom_hits = (
        probes.join(F.broadcast(bits), ["s", "pos"])
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .filter(F.col("k_hits") == _BLOOM_K)
        .select("doc_id", "gram")
    )
    # Optimization r16 (guide §2.3/§7.2): a Bloom filter has NO false
    # negatives, so every exact match is already a bloom hit — the exact
    # audit only needs to re-test the (small) bloom-hit rows against the
    # broadcast bench gram set, not re-explode and re-join the whole
    # corpus a second time (the r5 shape's second corpus scan + wide
    # join; (doc_id, gram) is unique on both sides there, so the left
    # join below marks exactly the same rows).
    e_bench = F.broadcast(bench.select(F.col("gram").alias("e_gram")))
    return (
        bloom_hits.join(e_bench, bloom_hits.gram == F.col("e_gram"), "left")
        .groupBy(bloom_hits.doc_id)
        .agg(
            F.count(F.lit(1)).alias("n_bloom_grams"),
            F.count("e_gram").alias("n_exact_grams"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q196 — z-order (Morton curve) layout audit.
# ---------------------------------------------------------------------------
_Z_BITS = 8  # 8+8-bit interleave -> 16-bit z-value, 16 audit buckets


def _z_terms_sql(x: str, y: str) -> str:
    return " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )


@query(
    "q196_zorder_layout_audit",
    oracle=f"""
WITH keyed AS (
    SELECT l_partkey, l_suppkey,
           l_partkey % 256 AS x, l_suppkey % 256 AS y
    FROM lineitem
),
z AS (
    SELECT l_partkey, l_suppkey, ({_z_terms_sql('x', 'y')}) AS zval FROM keyed
)
SELECT CAST(zval >> 12 AS INTEGER) AS z_bucket,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       MIN(zval) AS z_min, MAX(zval) AS z_max
FROM z GROUP BY z_bucket ORDER BY z_bucket
""",
)
def q196_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit — the layout primitive behind
    multi-dimensional data skipping (Delta/Iceberg OPTIMIZE ZORDER BY):
    interleave the low 8 bits of two join keys into a 16-bit z-value,
    split the curve into 16 equal ranges, and report per-range row and
    per-dimension key cardinalities. Files written in z-bucket order
    would carry tight min/max on BOTH keys (the distinct counts per
    bucket are the audit: low = skippable), versus one clustered and one
    unclustered dimension under a single-column sort. Pure integer
    bit-arithmetic, identical on both engines.

    Scale: a map-side projection + one 16-group aggregation; as a write
    path the same z expression feeds repartitionByRange(zval) so each
    output file covers a contiguous Morton range — the audit and the
    layout share the expression."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).cast("long")
    y = (F.col("l_suppkey") % 256).cast("long")
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return (
        li.select("l_partkey", "l_suppkey", z.alias("zval"))
        .groupBy(F.shiftright(F.col("zval"), 12).cast("int").alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


# ---------------------------------------------------------------------------
# q225 — per-column profiling audit (the ingest data-profile pass).
# ---------------------------------------------------------------------------
@query(
    "q225_column_profile",
    oracle="""
WITH vals AS (
    SELECT col_name, v FROM (
        SELECT 'o_orderkey' AS col_name,
               CAST(CAST(o_orderkey AS DECIMAL(18,0)) AS VARCHAR) AS v FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(CAST(o_custkey AS DECIMAL(18,0)) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus FROM orders
    ) u
)
SELECT col_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       MIN(v) AS min_str,
       MAX(v) AS max_str
FROM vals GROUP BY col_name ORDER BY col_name
""",
)
def q225_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profiling audit over ``orders`` — the data-profile pass
    an ingest pipeline runs on every new drop (row count, null count,
    distinct cardinality, lexicographic min/max) — via a stack/unpivot to
    (column, value-string) rows. Numerics render through DECIMAL casts
    and timestamps through a pinned format string, so both engines
    produce byte-identical value strings (raw double->string rendering
    differs between Java and DuckDB and is never used).

    Scale: the unpivot multiplies rows by the profiled column count but
    stays map-side; one shuffle to a 6-group aggregate. At true scale
    profile per partition and merge (all five stats are mergeable)."""
    orders = load_table(spark, sf_dir, "orders")
    pairs = [
        ("o_orderkey", F.col("o_orderkey").cast("decimal(18,0)").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("decimal(18,0)").cast("string")),
        ("o_totalprice", F.col("o_totalprice").cast("decimal(12,2)").cast("string")),
        ("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")),
        ("o_orderpriority", F.col("o_orderpriority")),
        ("o_orderstatus", F.col("o_orderstatus")),
    ]
    stack = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("col_name"), expr.alias("v"))
                for name, expr in pairs
            ]
        )
    )
    vals = orders.select(stack.alias("s")).select("s.col_name", "s.v")
    return (
        vals.groupBy("col_name")
        .agg(
            F.count("*").alias("n"),
            (F.count("*") - F.count("v")).alias("n_null"),
            F.countDistinct("v").alias("n_distinct"),
            F.min("v").alias("min_str"),
            F.max("v").alias("max_str"),
        )
        .orderBy("col_name")
    )
