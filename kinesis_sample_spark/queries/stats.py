"""Deterministic statistics + sequence operators.

The reference has no analytics surface at all (SURVEY.md §2 Table B —
aggregations/windows "absent"; the closest thing to a statistic is the
batch-size log at AmazonKinesisApplicationSampleRecordProcessor.java:167),
so everything here is north-star engine capability, expressed with Spark
built-ins only and hash-checked against the DuckDB oracle.

Determinism notes (see functions/numeric.py): float SUMs are order-
dependent, so every second-order moment is accumulated as an exact
DECIMAL and only then cast to double; all derived formulas (slope, r²,
idf, shares) are pure per-row double arithmetic with identical expression
shape on both engines, which IEEE-754 makes bit-reproducible. sqrt is
correctly rounded and safe; ln/exp are deliberately avoided (1-ulp libm
vs JVM drift) — the TF-IDF query uses the rational idf surrogate
(N - df + 0.5)/(df + 0.5), monotone in the classic BM25 idf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import dec, sql_dec, sql_double
from kinesis_sample_spark.queries import query

# ---------------------------------------------------------------------------
# q99 — closed-form OLS regression per group (exact-decimal moments).
# ---------------------------------------------------------------------------
# The five moments are exact decimals (associative — any partition order on
# a 1000-executor cluster gives the same value); the fit itself is a fixed
# double-expression tree evaluated identically on both engines. This is the
# scalable pattern for regression at 100 TB: one partial+final aggregate,
# O(groups) rows out, no iterative solver.

_ND = "CAST(n AS DOUBLE)"
_SLOPE = f"(({_ND} * sxy - sx * sy) / ({_ND} * sxx - sx * sx))"
_INTERCEPT = f"((sy - slope * sx) / {_ND})"
_R2 = (
    f"((({_ND} * sxy - sx * sy) * ({_ND} * sxy - sx * sy)) / "
    f"((({_ND} * sxx - sx * sx)) * (({_ND} * syy - sy * sy))))"
)


@query(
    "q99_ols_regression",
    oracle=f"""
WITH agg AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_double("SUM(" + sql_dec("l_quantity") + ")")} AS sx,
           {sql_double("SUM(" + sql_dec("l_extendedprice") + ")")} AS sy,
           {sql_double("SUM(" + sql_dec("l_quantity") + " * " + sql_dec("l_quantity") + ")")} AS sxx,
           {sql_double("SUM(" + sql_dec("l_quantity") + " * " + sql_dec("l_extendedprice") + ")")} AS sxy,
           {sql_double("SUM(" + sql_dec("l_extendedprice") + " * " + sql_dec("l_extendedprice") + ")")} AS syy
    FROM lineitem
    GROUP BY l_returnflag
), fit AS (
    SELECT *, {_SLOPE} AS slope FROM agg
)
SELECT l_returnflag, n, slope,
       {_INTERCEPT} AS intercept,
       {_R2} AS r2
FROM fit
ORDER BY l_returnflag
""",
)
def q99_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear fit extendedprice ~ quantity per returnflag: sufficient
    statistics (n, Σx, Σy, Σxx, Σxy, Σyy) as exact decimal partial+final
    aggregates, then slope/intercept/r² in closed form. No relational
    operator in the reference computes anything — this is Table B
    "Aggregations" capability taken to its statistical endpoint."""
    li = load_table(spark, sf_dir, "lineitem")
    qd, pd_ = dec("l_quantity"), dec("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
    )
    fit = agg.withColumn("slope", F.expr(_SLOPE))
    return (
        fit.select(
            "l_returnflag",
            "n",
            "slope",
            F.expr(_INTERCEPT).alias("intercept"),
            F.expr(_R2).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q100 — LOCF (last observation carried forward) via IGNORE NULLS window.
# ---------------------------------------------------------------------------
@query(
    "q100_locf_fill",
    oracle="""
WITH base AS (
    SELECT event_id, user_id, ts,
           CASE WHEN event_type <> 'error' THEN value END AS observed
    FROM events
)
SELECT event_id, user_id, observed,
       LAST_VALUE(observed IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled
FROM base
ORDER BY event_id
""",
)
def q100_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair for sensor-style streams: treat `error` events as missing
    readings and carry the last good value forward per user (IGNORE NULLS
    running window). Complements q55's densification — this fills holes in
    place, q55 manufactures missing rows. Values pass through untouched
    (no float arithmetic), so parity is exact. Scale: one hash partition
    by user_id, sorted within — the same shape as any sessionized scan."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("observed"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        base.select(
            "event_id",
            "user_id",
            "observed",
            F.last("observed", ignorenulls=True).over(w).alias("filled"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q101 — bigram heavy hitters (top-k n-grams with global share).
# ---------------------------------------------------------------------------
@query(
    "q101_bigram_heavy_hitters",
    oracle="""
WITH docs AS (SELECT string_split(text, ' ') AS t FROM documents),
bigrams AS (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
    FROM docs
),
counts AS (SELECT bigram, COUNT(*) AS cnt FROM bigrams GROUP BY bigram),
total AS (SELECT SUM(cnt) AS total_bigrams FROM counts)
SELECT bigram, cnt, cnt / CAST(total_bigrams AS DOUBLE) AS share
FROM counts CROSS JOIN total
ORDER BY cnt DESC, bigram
LIMIT 100
""",
)
def q101_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram heavy hitters — the frequency table behind
    boilerplate detection and n-gram LM pruning. Adjacent-token pairs via
    zip_with over two shifted slices (1-based element order matches the
    oracle's list indexing), word-count shuffle, then TakeOrdered top-100
    with a total-order tie-break (count desc, bigram) so the selected SET
    is deterministic. Scale: explode + one agg; the top-k is a
    per-partition heap merge on the driver, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = (
        docs.select(F.split("text", " ").alias("t"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                    " slice(t, 2, greatest(size(t) - 1, 0)),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("bigram")
        )
    )
    counts = bigrams.groupBy("bigram").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total_bigrams"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "cnt",
            (F.col("cnt") / F.col("total_bigrams").cast("double")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q102 — equi-width histogram + cumulative distribution.
# ---------------------------------------------------------------------------
@query(
    "q102_price_histogram",
    oracle=f"""
WITH b AS (
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           {sql_double("SUM(" + sql_dec("o_totalprice") + ")")} AS bucket_sum,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
)
SELECT bucket, cnt, bucket_sum, lo, hi,
       CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum_cnt,
       CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT)
           / CAST(SUM(cnt) OVER () AS DOUBLE) AS cume_share
FROM b
ORDER BY bucket
""",
)
def q102_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value (50k buckets) with per-bucket
    exact-decimal sums and a running cumulative-distribution share — the
    fixed-bucket complement to q155's rank-based distribution and q48's
    exact percentiles. The window runs over the *aggregated* buckets
    (O(buckets) rows), so the single-partition running sum is free even
    when the input is 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        F.floor(F.col("o_totalprice") / F.lit(50000.0)).alias("bucket")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(dec("o_totalprice")).cast("double").alias("bucket_sum"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    w_run = W.orderBy("bucket").rangeBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    return (
        b.select(
            "bucket",
            "cnt",
            "bucket_sum",
            "lo",
            "hi",
            F.sum("cnt").over(w_run).alias("cum_cnt"),
            (
                F.sum("cnt").over(w_run)
                / F.sum("cnt").over(w_all).cast("double")
            ).alias("cume_share"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q103 — TF-IDF top-k document ranking per term (rational idf).
# ---------------------------------------------------------------------------
_IDF_SCORE = (
    "CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5))"
)


@query(
    "q103_tfidf_topk",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df, {_IDF_SCORE} AS score
    FROM tf JOIN df USING (token) CROSS JOIN n
    WHERE df >= 2
)
SELECT doc_id, token, tf, df, score, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY token ORDER BY score DESC, doc_id) AS rn
      FROM scored) t
WHERE rn <= 3
ORDER BY token, rn
""",
)
def q103_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term top-3 documents by TF-IDF — retrieval-style ranking built
    from q64's vocabulary statistics. idf uses the BM25 rational surrogate
    (N - df + 0.5)/(df + 0.5): same ranking as the log form, but pure
    rational double arithmetic, so the oracle hash is exact (ln would
    drift 1 ulp between libm and the JVM). Scale: two word-count
    aggregates, a token-keyed shuffle join, a broadcast scalar, and a
    per-token window — every stage partitions by token."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # persisted: both the df aggregate and the scoring join consume tf —
    # without it the explode+agg subtree runs twice (materialized term
    # stats table on a real corpus, same pattern as q31's signatures).
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).persist()
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .where(F.col("df") >= 2)
        .withColumn("score", F.expr(_IDF_SCORE))
    )
    w = W.partitionBy("token").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "score", "rn")
        .orderBy("token", "rn")
    )


# ---------------------------------------------------------------------------
# q104 — rolling z-score anomaly detection (exact-decimal window moments).
# ---------------------------------------------------------------------------
# The trailing window excludes the current row (score vs *history*); both
# moments are exact decimals inside the frame, so any frame evaluation
# strategy (Spark's streaming buffer, DuckDB's segment tree) yields the
# same sums — float window sums would diverge between the two engines'
# accumulation orders.

_MEAN = "(s1 / CAST(n AS DOUBLE))"
_VAR = (
    "(GREATEST((s2 - (s1 * s1) / CAST(n AS DOUBLE))"
    " / (CAST(n AS DOUBLE) - 1.0), 0.0))"
)
_Z = (
    f"(CASE WHEN n >= 5 AND SQRT({_VAR}) > 0.0"
    f" THEN (value - {_MEAN}) / SQRT({_VAR}) END)"
)


@query(
    "q104_rolling_zscore",
    oracle=f"""
WITH windowed AS (
    SELECT event_id, user_id, value,
           COUNT(value) OVER w AS n,
           {sql_double("SUM(CAST(value AS DECIMAL(12,4))) OVER w")} AS s1,
           {sql_double("SUM(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4))) OVER w")} AS s2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)
), scored AS (
    SELECT event_id, user_id, value, n, {_MEAN} AS hist_mean, {_Z} AS zscore
    FROM windowed
)
SELECT event_id, user_id, value, n, hist_mean, zscore,
       (ABS(zscore) > 2.0) AS is_anomaly
FROM scored
ORDER BY event_id
""",
)
def q104_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection in batch: each event scored
    against the trailing 19-event history of its user (mean/std from
    exact-decimal window sums, Bessel-corrected, z = (x-μ)/σ, flag at
    |z| > 2; null until 5 observations or under zero variance). Scale:
    one hash partition by user_id and an O(1)-state sliding frame — the
    same operator runs incrementally under applyInPandasWithState in the
    streaming layer."""
    ev = load_table(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(12,4)")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, -1)
    )
    windowed = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count("value").over(w).alias("n"),
        F.sum(vd).over(w).cast("double").alias("s1"),
        F.sum(vd * vd).over(w).cast("double").alias("s2"),
    )
    scored = windowed.select(
        "event_id",
        "user_id",
        "value",
        "n",
        F.expr(_MEAN).alias("hist_mean"),
        F.expr(_Z).alias("zscore"),
    )
    return scored.select(
        "*", (F.abs(F.col("zscore")) > 2.0).alias("is_anomaly")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q105 — pairwise source-vocabulary Jaccard overlap.
# ---------------------------------------------------------------------------
@query(
    "q105_source_vocab_overlap",
    oracle="""
WITH vocab AS (
    SELECT DISTINCT source, token
    FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
),
sizes AS (SELECT source, COUNT(*) AS vocab_size FROM vocab GROUP BY source),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
    FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_common, size_a, size_b,
       n_common / CAST(size_a + size_b - n_common AS DOUBLE) AS jaccard
FROM (
    SELECT src_a, src_b, n_common,
           sa.vocab_size AS size_a, sb.vocab_size AS size_b
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
) t
ORDER BY src_a, src_b
""",
)
def q105_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition analytics: Jaccard similarity between every pair
    of sources' vocabularies — the set-level cousin of the document-level
    near-dup family (q31-q36), used to spot mirrored/derivative sources
    before sampling. Shape: explode → distinct (token,source) → token-keyed
    self-join restricted to ordered pairs → count; per-source sizes
    broadcast back onto the 190-row pair table. The token join fans out at
    most |sources| per token, so it scales linearly in vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: three consumers (sizes + both self-join sides) reuse the
    # exploded distinct vocab instead of re-scanning documents — on a real
    # corpus this is a materialized vocabulary table (same pattern as
    # q31's signature relation).
    vocab = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
        .persist()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("vocab_size"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sized = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("vocab_size", "size_a")),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("vocab_size", "size_b")),
            "src_b",
        )
    )
    return sized.select(
        "src_a",
        "src_b",
        "n_common",
        "size_a",
        "size_b",
        (
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    ).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# q108 — partition fingerprints (order-insensitive table checksums).
# ---------------------------------------------------------------------------
@query(
    "q108_partition_fingerprints",
    oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       COUNT(*) AS n_rows,
       bit_xor(('0x' || substring(md5(concat_ws('|',
           CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
           o_orderstatus, o_orderpriority)), 1, 15))::BIGINT) AS fingerprint
FROM orders
GROUP BY 1
ORDER BY month
""",
)
def q108_partition_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy checksums: one order-insensitive fingerprint per month
    partition — XOR of portable md5-derived row hashes (functions/
    hashing.py), so two replicas of a 100 TB table can be compared
    partition-by-partition with one scan each and O(partitions) exchanged
    bytes, and any row-level divergence pins the month to re-sync. XOR is
    commutative/associative ⇒ the checksum is identical under any
    partitioning or row order. Hash inputs are restricted to integer and
    string columns: their VARCHAR renderings are engine-identical, while
    float/timestamp formatting is not (documented trap)."""
    from kinesis_sample_spark.functions.hashing import md5_long

    orders = load_table(spark, sf_dir, "orders")
    rowhash = md5_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
    )
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor(rowhash).alias("fingerprint"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q128 — winsorized (percentile-clipped) robust statistics.
# ---------------------------------------------------------------------------
@query(
    "q128_winsorized_stats",
    oracle=f"""
WITH pct AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
),
c AS (
  SELECT e.event_type,
         LEAST(GREATEST(e.value, p.p05), p.p95) AS clipped,
         CASE WHEN e.value < p.p05 OR e.value > p.p95 THEN 1 ELSE 0 END AS ic,
         p.p05, p.p95
  FROM events e JOIN pct p USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(ic) AS BIGINT) AS n_clipped,
       {sql_double("SUM(CAST(clipped AS DECIMAL(18,6)))")} AS winsor_sum,
       max(p05) AS p05,
       max(p95) AS p95
FROM c
GROUP BY event_type
ORDER BY event_type
""",
)
def q128_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clip each group's values to its own [p05, p95]
    before aggregating — is the standard robust-stats step before feature
    normalization (a handful of outliers otherwise dominate a mean).
    Spark ``percentile`` and DuckDB ``quantile_cont`` interpolate
    identically (bit-exact, proven by q48), so the clip bounds match; the
    clipped sum goes through the exact-decimal path (functions/numeric)
    so accumulation order can't fork the hash.

    Scale: percentiles per group are one exact-percentile aggregation
    (Spark sorts within groups); the 5-row bounds table broadcasts back
    into a map-side clip; the final aggregation is partial+final. For
    quantiles over billions of rows per group, swap percentile for
    approx_percentile and gate with error-bound booleans like q61."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    c = ev.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("clipped"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")))
        .cast("int")
        .alias("ic"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("ic").alias("n_clipped"),
            F.sum(dec("clipped", "decimal(18,6)")).cast("double").alias("winsor_sum"),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q132 — count-min sketch vs exact heavy hitters.
# ---------------------------------------------------------------------------
_CMS_DEPTH = 3
_CMS_WIDTH = 2048
_CMS_TOP = 20


def _cms_oracle() -> str:
    from kinesis_sample_spark.functions.hashing import seeded_md5_long_sql

    rows = "\n".join(
        f"c{j} AS (SELECT {seeded_md5_long_sql('tok', j)} % {_CMS_WIDTH} AS b, "
        f"CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),"
        for j in range(_CMS_DEPTH)
    )
    joins = "\n".join(
        f"JOIN c{j} ON c{j}.b = {seeded_md5_long_sql('t.tok', j)} % {_CMS_WIDTH}"
        for j in range(_CMS_DEPTH)
    )
    least = "LEAST(" + ", ".join(f"c{j}.c" for j in range(_CMS_DEPTH)) + ")"
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
{rows}
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
  FROM toks GROUP BY tok
  ORDER BY exact_n DESC, tok LIMIT {_CMS_TOP}
)
SELECT t.tok, t.exact_n, {least} AS cms_n, {least} - t.exact_n AS overcount
FROM top t
{joins}
ORDER BY exact_n DESC, tok
"""


@query("q132_countmin_heavy_hitters", oracle=_cms_oracle())
def q132_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with the engine-portable md5 hash family: because
    every cell is an integer count under deterministic hashes, the whole
    *approximate* structure is hash-gated — the oracle rebuilds the
    identical 3×2048 sketch serially and LEAST-reads it. Output: the
    exact top-20 tokens with their CMS estimate and the overcount
    (CMS ≥ exact by construction; the visible overcount IS the
    collision-error audit).

    Scale: the sketch build is groupBy over (row, bucket) — map-side
    combine caps every task's output at depth·width = 6144 rows no
    matter the corpus size, and the finished sketch (≤6144 rows)
    broadcasts back to score any candidate set. This is the structure
    that answers "how often does ANY token occur" in one broadcast
    lookup, where the exact per-token table would be vocabulary-sized."""
    from kinesis_sample_spark.functions.hashing import seeded_md5_long

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(_CMS_TOP)
    )
    out = exact
    ests = []
    for j in range(_CMS_DEPTH):
        cms_j = (
            toks.select((seeded_md5_long(F.col("tok"), j) % _CMS_WIDTH).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias(f"c{j}"))
        )
        out = out.withColumn(f"b{j}", seeded_md5_long(F.col("tok"), j) % _CMS_WIDTH).join(
            F.broadcast(cms_j), F.col(f"b{j}") == F.col("b"), "inner"
        ).drop("b", f"b{j}")
        ests.append(F.col(f"c{j}"))
    return (
        out.select(
            "tok",
            "exact_n",
            F.least(*ests).alias("cms_n"),
            (F.least(*ests) - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "tok")
    )


# ---------------------------------------------------------------------------
# q145 — pairwise covariance moments over the fact table (one pass).
# ---------------------------------------------------------------------------
#: (column, cents-quantizer) pairs: each measure is lifted to an exact
#: integer (×100 through DECIMAL(12,2), see functions/numeric.py) so the
#: moment sums are order-independent integers, not doubles.
_COV_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _int_cents(col: str) -> str:
    return f"CAST(CAST({col} AS DECIMAL(12,2)) * 100 AS BIGINT)"


@query(
    "q145_covariance_moments",
    oracle=(
        "WITH q AS (SELECT "
        + ", ".join(f"{_int_cents(c)} AS i{k}" for k, c in enumerate(_COV_COLS))
        + " FROM lineitem), m AS (SELECT count(*) AS n, "
        + ", ".join(f"sum(i{k}) AS s{k}" for k in range(len(_COV_COLS)))
        + ", "
        + ", ".join(
            f"sum(CAST(i{a} AS HUGEINT) * i{b}) AS s{a}_{b}"
            for a in range(len(_COV_COLS))
            for b in range(a, len(_COV_COLS))
        )
        + " FROM q) SELECT x_col, y_col, n, sum_x, sum_y, sum_xy, "
        "(sum_xy - sum_x * sum_y / n) / n AS cov_cents FROM ("
        + " UNION ALL ".join(
            # sql_double (VARCHAR round-trip): the product sums cross the
            # int64 boundary around sf0.1, where DuckDB's direct
            # HUGEINT→DOUBLE cast double-rounds and drifts 1 ulp from
            # Spark's correctly-rounded DECIMAL(38,0)→DOUBLE (found by
            # the round-6 sf0.1 parity sweep; sf0.01 sums still fit int64)
            f"SELECT '{_COV_COLS[a]}' AS x_col, '{_COV_COLS[b]}' AS y_col, "
            f"CAST(n AS DOUBLE) AS n, {sql_double(f's{a}')} AS sum_x, "
            f"{sql_double(f's{b}')} AS sum_y, {sql_double(f's{a}_{b}')} AS sum_xy "
            "FROM m"
            for a in range(len(_COV_COLS))
            for b in range(a, len(_COV_COLS))
        )
        + ") ORDER BY x_col, y_col"
    ),
)
def q145_covariance_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance matrix (10 unordered pairs over 4 measures)
    from ONE aggregation pass: quantize each measure to exact integer
    cents, accumulate count + 4 linear + 10 product moments as a single
    map-side-combined Aggregate, then unpivot the 1-row result into
    matrix rows driver-side-free (the unpivot runs over a 1-row
    relation). Integer moment sums are associative, so a 1000-executor
    sum equals the oracle's serial sum exactly; the covariance itself is
    then derived in double from identical integers — bit-equal on both
    engines. Product sums exceed int64 at scale, so they accumulate in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB).

    This is the moment-sketch pattern: the full covariance matrix of a
    100 TB table costs one scan and a constant-size (15-cell) state, the
    same shape q99's OLS regression uses for its normal equations."""
    k = len(_COV_COLS)
    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.expr(_int_cents(c)).alias(f"i{i}") for i, c in enumerate(_COV_COLS)]
    )
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(f"i{a}").alias(f"s{a}") for a in range(k)]
    aggs += [
        F.sum(F.expr(f"CAST(i{a} AS DECIMAL(38,0)) * i{b}")).alias(f"s{a}_{b}")
        for a in range(k)
        for b in range(a, k)
    ]
    m = li.agg(*aggs)
    stack_parts = ", ".join(
        f"'{_COV_COLS[a]}', '{_COV_COLS[b]}', CAST(n AS DOUBLE), "
        f"CAST(s{a} AS DOUBLE), CAST(s{b} AS DOUBLE), CAST(s{a}_{b} AS DOUBLE)"
        for a in range(k)
        for b in range(a, k)
    )
    n_pairs = k * (k + 1) // 2
    return (
        m.select(
            F.expr(
                f"stack({n_pairs}, {stack_parts}) AS (x_col, y_col, n, sum_x, sum_y, sum_xy)"
            )
        )
        .withColumn("cov_cents", F.expr("(sum_xy - sum_x * sum_y / n) / n"))
        .orderBy("x_col", "y_col")
    )


# ---------------------------------------------------------------------------
# q212 — mergeable-histogram percentile bridge (estimate vs exact audit).
# ---------------------------------------------------------------------------
_BRIDGE_BINS = 20


def _sql_bridge_branch(p: float) -> str:
    """One UNION branch of the oracle: the histogram-interpolated
    percentile estimate at fraction ``p`` plus the exact percentile.
    ``p`` is CAST to DOUBLE — a bare 0.9 literal parses as DECIMAL in
    DuckDB and p*n would run in decimal arithmetic, 1 ulp off Spark's
    double path (caught by the sf0.01 parity gauntlet)."""
    pd = f"CAST({p} AS DOUBLE)"
    exact = f"CASE WHEN {p} = 0.5 THEN p50x ELSE p90x END"
    est = f"CASE WHEN w = 0 THEN mn ELSE mn + w * (bin + ({pd} * n - (cum - cnt)) / cnt) END"
    return f"""
SELECT l_returnflag, {pd} AS p,
       {est} AS est,
       {exact} AS exact,
       abs({est} - {exact}) AS abs_err
FROM cum WHERE cum >= {pd} * n AND cum - cnt < {pd} * n"""


@query(
    "q212_percentile_bridge",
    oracle=f"""
WITH stats AS (
    SELECT l_returnflag, MIN(l_extendedprice) AS mn,
           (MAX(l_extendedprice) - MIN(l_extendedprice)) / {_BRIDGE_BINS}.0 AS w,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(l_extendedprice, 0.5) AS p50x,
           quantile_cont(l_extendedprice, 0.9) AS p90x
    FROM lineitem GROUP BY l_returnflag
),
binned AS (
    SELECT l.l_returnflag,
           CAST(CASE WHEN w = 0 THEN 0
                     ELSE LEAST(FLOOR((l_extendedprice - mn) / w), {_BRIDGE_BINS - 1})
                END AS INTEGER) AS bin
    FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
),
hist AS (
    SELECT l_returnflag, bin, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM binned GROUP BY l_returnflag, bin
),
cum AS (
    SELECT h.l_returnflag, bin, cnt, mn, w, n, p50x, p90x,
           SUM(cnt) OVER (PARTITION BY h.l_returnflag ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM hist h JOIN stats s ON h.l_returnflag = s.l_returnflag
)
SELECT * FROM ({_sql_bridge_branch(0.5)}
UNION ALL {_sql_bridge_branch(0.9)}) u
ORDER BY l_returnflag, p
""",
)
def q212_percentile_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile *bridge*: a fixed-width 20-bin histogram is the
    mergeable sketch a 1000-executor job actually ships (per-partition
    histograms combine by adding counts — unlike exact percentile state,
    which is all values), and linear interpolation inside the target bin
    recovers the percentile estimate. q159 gates the sketch itself
    (global, 128 bins); what THIS query adds is the calibration audit —
    the estimate AND the exact percentile side by side with the absolute
    error, per group at a deliberately coarse 20 bins, so the error
    column is non-trivial and tells you whether the bin budget is enough
    before you swap the exact operator out at scale.

    Determinism: bin width/index, interpolation, and the exact
    percentile (one linear-interpolation rule in both engines) are all
    fixed-order IEEE ops over identical doubles; counts are exact
    integers.

    Scale: two scans of the fact (min/max pass, then binning pass), one
    tiny per-(flag, bin) aggregate; the window and interpolation run on
    the bounded bin domain. The exact-percentile column is the audit
    reference — drop it at true scale and only the sketch remains."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("mn"),
        (
            (F.max("l_extendedprice") - F.min("l_extendedprice"))
            / F.lit(float(_BRIDGE_BINS))
        ).alias("w"),
        F.count("*").alias("n"),
        F.expr("percentile(l_extendedprice, 0.5D)").alias("p50x"),
        F.expr("percentile(l_extendedprice, 0.9D)").alias("p90x"),
    )
    binned = li.join(F.broadcast(stats), "l_returnflag").select(
        "l_returnflag",
        # w = 0 guard (constant-price group: max = min): everything lands in
        # bin 0 instead of dividing by a zero width (NaN/Inf bins). The
        # oracle carries the identical CASE.
        F.when(F.col("w") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / F.col("w")),
                F.lit(_BRIDGE_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("l_returnflag", "bin").agg(F.count("*").alias("cnt"))
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.join(F.broadcast(stats), "l_returnflag").select(
        "l_returnflag", "bin", "cnt", "mn", "w", "n", "p50x", "p90x",
        F.sum("cnt").over(wcum).alias("cum"),
    )

    def branch(p: float, exact_col: str) -> DataFrame:
        target = F.lit(p) * F.col("n")
        # w = 0 ⇒ the group is a single point mass: the estimate IS mn
        # (interpolating inside a zero-width bin is 0/0). Mirrored in the
        # oracle's CASE so both engines emit mn exactly.
        est = F.when(F.col("w") == 0, F.col("mn")).otherwise(
            F.col("mn")
            + F.col("w")
            * (F.col("bin") + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt"))
        )
        return cum.filter(
            (F.col("cum") >= target) & (F.col("cum") - F.col("cnt") < target)
        ).select(
            "l_returnflag",
            F.lit(p).alias("p"),
            est.alias("est"),
            F.col(exact_col).alias("exact"),
            F.abs(est - F.col(exact_col)).alias("abs_err"),
        )

    return (
        branch(0.5, "p50x")
        .unionByName(branch(0.9, "p90x"))
        .orderBy("l_returnflag", "p")
    )


# ---------------------------------------------------------------------------
# q213 — Gini concentration coefficient per market segment.
# ---------------------------------------------------------------------------
@query(
    "q213_gini_concentration",
    oracle=f"""
WITH rev AS (
    SELECT c_mktsegment, o_custkey,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment, o_custkey
),
ranked AS (
    SELECT c_mktsegment, rev,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY rev, o_custkey) AS i
    FROM rev
),
agg AS (
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(i * rev) AS s1,
           SUM(rev) AS s0
    FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
       {sql_double('2 * s1 - (n + 1) * s0')} / {sql_double('n * s0')} AS gini
FROM agg ORDER BY c_mktsegment
""",
)
def q213_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    inequality scalar a data-mixing pipeline tracks per source (q191's
    decile table gives the Lorenz curve; this is its single-number
    summary). Rank formula G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x))
    with x ascending: every sum is exact decimal arithmetic (rank *
    DECIMAL revenue), tie-order-invariant because tied x contribute
    x * sum(consecutive ranks) regardless of which tied row gets which
    rank; the one division happens once, on VARCHAR-path doubles.

    Scale: per-customer revenue co-shuffles orders on custkey once; the
    rank window partitions by segment (bounded cardinality, heavy
    partitions — at extreme SF swap row_number for a two-pass
    range-partitioned rank); the final aggregate is 5 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    ranked = rev.select(
        "c_mktsegment",
        "rev",
        F.row_number()
        .over(W.partitionBy("c_mktsegment").orderBy("rev", "o_custkey"))
        .alias("i"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("i") * F.col("rev")).alias("s1"),
        F.sum("rev").alias("s0"),
    )
    num = (F.lit(2) * F.col("s1") - (F.col("n") + F.lit(1)) * F.col("s0")).cast(
        "double"
    )
    den = (F.col("n") * F.col("s0")).cast("double")
    return agg.select(
        "c_mktsegment", "n", (num / den).alias("gini")
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q214 — Herfindahl–Hirschman supplier concentration per nation.
# ---------------------------------------------------------------------------
@query(
    "q214_hhi_concentration",
    oracle=f"""
WITH rev AS (
    SELECT s_nationkey, l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS rev
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_nationkey, l_suppkey
),
agg AS (
    SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           SUM(CAST(rev AS DECIMAL(19,2)) * rev) AS ssq, SUM(rev) AS total
    FROM rev GROUP BY s_nationkey
)
SELECT n_name, n_suppliers,
       {sql_double('ssq')} / ({sql_double('total')} * {sql_double('total')}) AS hhi
FROM agg JOIN nation ON n_nationkey = s_nationkey
ORDER BY n_name
""",
)
def q214_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue per nation: the
    market-concentration scalar, computed shift-free as sum(rev^2) /
    total^2 instead of summing squared *shares* — squared DECIMAL
    revenues sum exactly in any order, whereas per-supplier share
    division would inject order-dependent float error into the sum. The
    two divisions-by-double happen once, after both sums are exact.

    Scale: per-supplier revenue co-shuffles the fact once on l_suppkey
    (the supplier dim broadcasts); the per-nation aggregate is bounded
    by nation cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(dec("l_extendedprice")).cast("decimal(18,2)").alias("rev"))
    )
    agg = rev.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("rev") * F.col("rev")).alias("ssq"),
        F.sum("rev").alias("total"),
    )
    total_d = F.col("total").cast("double")
    return (
        agg.join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "n_name",
            "n_suppliers",
            (F.col("ssq").cast("double") / (total_d * total_d)).alias("hhi"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q215 — Benford first-digit audit of order totals.
# ---------------------------------------------------------------------------
_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}  # round(log10(1 + 1/d), 6), precomputed so no cross-engine log10


def _sql_benford_case() -> str:
    whens = " ".join(
        f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
    )
    return f"CASE digit {whens} END"


@query(
    "q215_benford_audit",
    oracle=f"""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1)
                AS INTEGER) AS digit
    FROM orders
),
counts AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM d)
SELECT digit, n,
       CAST(n AS DOUBLE) / total AS share,
       {_sql_benford_case()} AS expected_share,
       abs(CAST(n AS DOUBLE) / total - {_sql_benford_case()}) AS abs_dev
FROM counts, tot
ORDER BY digit
""",
)
def q215_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice — the fraud /
    synthetic-data screen: observed first-significant-digit shares vs
    the Benford expectation log10(1 + 1/d). The digit comes from the
    DECIMAL(12,2) VARCHAR rendering (both engines print decimals in
    plain positional form — no scientific notation, no float-to-string
    divergence), and the expected shares are Python-precomputed literals
    injected into BOTH dialects, so no cross-engine log evaluation
    exists at all. Shares are single divisions of exact counts.

    Scale: map-side digit extraction, a 9-row aggregate, and one
    broadcast scalar total — embarrassingly parallel."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.substring(dec("o_totalprice").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = d.agg(F.count("*").alias("total"))
    expected = F.lit(None).cast("double")
    for dig, p in _BENFORD.items():
        expected = F.when(F.col("digit") == dig, F.lit(p)).otherwise(expected)
    share = F.col("n").cast("double") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            share.alias("share"),
            expected.alias("expected_share"),
            F.abs(share - expected).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q216 — CUSUM change-point detection over daily revenue.
# ---------------------------------------------------------------------------
@query(
    "q216_cusum_changepoint",
    oracle="""
WITH daily AS (
    SELECT o_orderpriority, o_orderdate AS day,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders GROUP BY o_orderpriority, o_orderdate
),
cu AS (
    SELECT o_orderpriority, day,
           CAST(CAST(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             - CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY day) AS DOUBLE)
               * CAST(CAST(SUM(rev) OVER (PARTITION BY o_orderpriority) AS VARCHAR) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY o_orderpriority)
             AS cusum,
           CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n_days
    FROM daily
)
SELECT o_orderpriority, day AS changepoint_day, cusum, n_days
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY abs(cusum) DESC, day) AS rk
    FROM cu
) t WHERE rk = 1
ORDER BY o_orderpriority
""",
)
def q216_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per order priority: the day where the
    cumulative deviation of daily revenue from its flat-mean expectation
    peaks — the classic level-shift detector, complementing a KS
    distribution drift with a *location in time*. cusum_k = prefix_k -
    k * total / n, where prefix and total are exact decimal window sums
    (order-independent) and only the final three ops (multiply, divide,
    subtract) run in fixed-order double arithmetic.

    Scale: one shuffle on the (priority, day) aggregate, then windows
    over the bounded per-priority day domain; the argmax is a rank-1
    filter, never a collect."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.col("o_orderdate").alias("day")
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    wp = W.partitionBy("o_orderpriority")
    word = wp.orderBy("day")
    prefix = (
        F.sum("rev")
        .over(word.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
    )
    k = F.row_number().over(word).cast("double")
    total = F.sum("rev").over(wp).cast("double")
    n = F.count("*").over(wp)
    cu = daily.select(
        "o_orderpriority",
        "day",
        (prefix - k * total / n).alias("cusum"),
        n.cast("bigint").alias("n_days"),
    )
    ranked = cu.withColumn(
        "rk",
        F.row_number().over(wp.orderBy(F.abs(F.col("cusum")).desc(), "day")),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("day").alias("changepoint_day"),
            "cusum",
            "n_days",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q217 — median-of-means robust mean estimator.
# ---------------------------------------------------------------------------
_MOM_BUCKETS = 32


@query(
    "q217_median_of_means",
    oracle=f"""
WITH b AS (
    SELECT doc_id % {_MOM_BUCKETS} AS bucket,
           SUM(n_chars) / COUNT(*) AS bucket_mean
    FROM documents GROUP BY doc_id % {_MOM_BUCKETS}
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           quantile_cont(bucket_mean, 0.5) AS mom_mean
    FROM b
),
plain AS (
    SELECT SUM(n_chars) / COUNT(*) AS plain_mean,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
)
SELECT n_buckets, mom_mean, plain_mean, n_docs,
       abs(mom_mean - plain_mean) AS abs_gap
FROM mom, plain
""",
)
def q217_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means over document lengths: split the corpus into 32
    deterministic buckets (doc_id mod), take each bucket's mean, then
    the median of the bucket means — the heavy-tail-robust mean
    estimator whose two-level shape is *exactly* how a 1000-executor
    job wants to compute it (per-bucket partial means combine; only 32
    scalars meet the median). Bucket means are exact integer sums over
    counts (single divisions); the median interpolates two identical
    doubles (one linear-interpolation rule in both engines).

    Scale: one partial-aggregate shuffle to 32 groups, then a 32-row
    percentile — constant final state regardless of SF."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.groupBy((F.col("doc_id") % _MOM_BUCKETS).alias("bucket")).agg(
        (F.sum("n_chars") / F.count("*")).alias("bucket_mean")
    )
    mom = b.agg(
        F.count("*").alias("n_buckets"),
        F.expr("percentile(bucket_mean, 0.5D)").alias("mom_mean"),
    )
    plain = docs.agg(
        (F.sum("n_chars") / F.count("*")).alias("plain_mean"),
        F.count("*").alias("n_docs"),
    )
    return mom.crossJoin(F.broadcast(plain)).select(
        "n_buckets",
        "mom_mean",
        "plain_mean",
        "n_docs",
        F.abs(F.col("mom_mean") - F.col("plain_mean")).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# q221 — exact weighted median per group.
# ---------------------------------------------------------------------------
@query(
    "q221_weighted_median",
    oracle="""
WITH w AS (
    SELECT l_returnflag, l_extendedprice AS price,
           CAST(l_quantity AS BIGINT) AS wt
    FROM lineitem
),
cum AS (
    SELECT l_returnflag, price, wt,
           SUM(wt) OVER (PARTITION BY l_returnflag
                         ORDER BY price, wt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS total_wt
    FROM w
)
SELECT l_returnflag,
       MIN(price) AS weighted_median,
       CAST(MIN(total_wt) AS BIGINT) AS total_weight
FROM cum WHERE 2 * cw >= total_wt
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q221_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag: the smallest
    price whose cumulative weight reaches half the group's total — what
    a revenue-weighted "typical unit price" actually is (the unweighted
    median over-counts small orders). Weights are integer quantities, so
    the cumulative window, the doubled comparison (2*cw >= total, no
    division) and the MIN-pick are all exact integer arithmetic; the
    price passes through untouched.

    Scale: one shuffle on the group key feeds both windows (same
    partitioning); the post-filter MIN is the per-group reduction. At
    extreme per-group cardinality swap the full sort for a two-pass
    histogram bracket (q212's bridge) — the operator contract stays."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    wp = W.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "price",
        F.sum("wt")
        .over(wp.orderBy("price", "wt").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cw"),
        F.sum("wt").over(wp).alias("total_wt"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cw") >= F.col("total_wt"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.min("total_wt").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q222 — chi-square independence audit (event type x day-of-week).
# ---------------------------------------------------------------------------
@query(
    "q222_chi_square_independence",
    oracle=f"""
WITH cell AS (
    SELECT event_type,
           datediff('day', DATE '1970-01-01', ts) % 7 AS dow_idx,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY event_type, datediff('day', DATE '1970-01-01', ts) % 7
),
margins AS (
    SELECT c.event_type, c.dow_idx, c.o,
           SUM(o) OVER (PARTITION BY event_type) AS row_total,
           SUM(o) OVER (PARTITION BY dow_idx) AS col_total,
           SUM(o) OVER () AS n
    FROM cell c
),
terms AS (
    SELECT event_type, dow_idx,
           CAST(round(
               (o - CAST(row_total AS DOUBLE) * col_total / n)
             * (o - CAST(row_total AS DOUBLE) * col_total / n)
             / (CAST(row_total AS DOUBLE) * col_total / n), 6)
            AS DECIMAL(18,6)) AS term
    FROM margins
)
SELECT {sql_double('SUM(term)')} AS chi2,
       CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow_idx) - 1) AS BIGINT)
         AS dof,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n
FROM terms
""",
)
def q222_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence audit between event type and
    day-of-week — the contingency drift check (a seasonality-dependent
    event mix fails it; complements a 1-D KS with a 2-D categorical
    test). Day index = days-since-epoch mod 7 (identical integer on both
    engines; avoids the engines' different dayofweek() origins). Each
    cell's (o-e)^2/e runs in fixed-order double arithmetic and is
    quantized round(.,6) -> DECIMAL before the sum, so the statistic is
    order-independent (the q188/q194 rule, applied to a non-ln
    transcendental-free term for the same reason: the SUM must commute).

    Scale: one shuffle to the (type, dow) cells — bounded domain (35
    cells) — then window margins over that tiny relation; the events
    fact is touched once, map-side."""
    ev = load_table(spark, sf_dir, "events")
    dow = (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) % 7)
    cell = ev.groupBy(F.col("event_type"), dow.alias("dow_idx")).agg(
        F.count("*").alias("o")
    )
    margins = cell.select(
        "event_type",
        "dow_idx",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("row_total"),
        F.sum("o").over(W.partitionBy("dow_idx")).alias("col_total"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    e = F.col("row_total").cast("double") * F.col("col_total") / F.col("n")
    terms = margins.select(
        "event_type",
        "dow_idx",
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 6)
        .cast("decimal(18,6)")
        .alias("term"),
    )
    n_total = ev.agg(F.count("*").alias("n"))
    return (
        terms.agg(
            F.sum("term").cast("double").alias("chi2"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("dow_idx") - 1)
            )
            .cast("bigint")
            .alias("dof"),
        )
        .crossJoin(F.broadcast(n_total))
    )


# ---------------------------------------------------------------------------
# q227 — Pareto coverage: customers needed to reach 80% of revenue.
# ---------------------------------------------------------------------------
@query(
    "q227_pareto_coverage",
    oracle=f"""
WITH rev AS (
    SELECT c_mktsegment, o_custkey,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment, o_custkey
),
ranked AS (
    SELECT c_mktsegment, rev,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY rev DESC, o_custkey) AS k,
           SUM(rev) OVER (PARTITION BY c_mktsegment
                          ORDER BY rev DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(rev) OVER (PARTITION BY c_mktsegment) AS total,
           COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
    FROM rev
)
SELECT c_mktsegment,
       CAST(MIN(n) AS BIGINT) AS n_customers,
       CAST(MIN(k) AS BIGINT) AS k_for_80pct,
       CAST(MIN(k) AS DOUBLE) / MIN(n) AS top_share
FROM ranked
WHERE 5 * cum >= 4 * total
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q227_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) coverage audit per market segment: the smallest
    number of top customers whose cumulative revenue reaches 80% of the
    segment's total — the single number behind "how concentrated is this
    book of business" (q191 gives the decile curve, q213 the Gini; this
    is the actionable cut point). The 80% threshold is the integer
    cross-multiply 5*cum >= 4*total over exact decimal sums — no float
    enters the filter; the final share is one division of exact counts.

    Scale: same shape as q213 — one custkey co-shuffle, segment-bounded
    rank windows, 5-row output."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    wp = W.partitionBy("c_mktsegment")
    word = wp.orderBy(F.col("rev").desc(), "o_custkey")
    ranked = rev.select(
        "c_mktsegment",
        F.row_number().over(word).alias("k"),
        F.sum("rev")
        .over(word.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.sum("rev").over(wp).alias("total"),
        F.count("*").over(wp).alias("n"),
    )
    return (
        ranked.filter(F.lit(5) * F.col("cum") >= F.lit(4) * F.col("total"))
        .groupBy("c_mktsegment")
        .agg(
            F.min("n").cast("bigint").alias("n_customers"),
            F.min("k").cast("bigint").alias("k_for_80pct"),
            (F.min("k").cast("double") / F.min("n")).alias("top_share"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q240 — year-over-year priority-mix shift (categorical drift in time).
# ---------------------------------------------------------------------------
@query(
    "q240_mix_shift",
    oracle=f"""
WITH grid AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY year(o_orderdate), o_orderpriority
),
shares AS (
    SELECT y, o_orderpriority, n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY y) AS share
    FROM grid
),
valid AS (
    SELECT a.y FROM (SELECT DISTINCT y FROM grid) a
    JOIN (SELECT DISTINCT y FROM grid) b ON b.y = a.y - 1
),
paired AS (
    SELECT COALESCE(c.y, p.y + 1) AS y,
           CAST(round(abs(COALESCE(c.share, 0) - COALESCE(p.share, 0)), 6)
                AS DECIMAL(18,6)) AS d,
           COALESCE(c.n, 0) AS n
    FROM shares c FULL OUTER JOIN shares p
      ON c.o_orderpriority = p.o_orderpriority AND c.y = p.y + 1
)
SELECT y AS year,
       {sql_double('SUM(d)')} AS l1_mix_shift,
       CAST(SUM(n) AS BIGINT) AS n_orders
FROM paired JOIN valid USING (y)
GROUP BY y ORDER BY y
""",
)
def q240_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year categorical mix shift: the L1 (total-variation x2)
    distance between consecutive years' order-priority share vectors —
    the composition-drift monitor that complements a two-sample KS
    (numeric, two fixed samples) and q222 (categorical chi-square, static) with a
    *time series* of drift. Shares are single divisions of exact counts;
    each |delta| is quantized round(.,6) -> DECIMAL so the per-year sum
    is order-independent (the q222 rule).

    Category churn is handled, not silently dropped: consecutive years'
    share vectors are FULL-OUTER-joined on priority with
    ``COALESCE(share, 0)``, so a priority present in only one of the two
    years contributes its full share to the distance (the earlier
    lag-based form skipped such categories and undercounted drift — and
    worse, ``lag`` over the priority partition reaches back to the last
    year *where that priority appeared*, not y-1). Year y enters the
    series only when y-1 has data at all (the ``valid`` set).

    Scale: one shuffle to the bounded (year x priority) grid; the share
    window, the consecutive-year self-join, and the final sum all run on
    dozens of rows."""
    orders = load_table(spark, sf_dir, "orders")
    grid = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("y"), "o_orderpriority"
    ).agg(F.count("*").alias("n"))
    shares = grid.select(
        "y",
        "o_orderpriority",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(W.partitionBy("y"))).alias(
            "share"
        ),
    )
    years = grid.select("y").distinct()
    valid = years.alias("a").join(
        years.alias("b"), F.col("b.y") == F.col("a.y") - 1
    ).select(F.col("a.y").alias("y"))
    cur = shares.select(
        F.col("y"), F.col("o_orderpriority"), F.col("share").alias("cs"), F.col("n")
    )
    prev = shares.select(
        (F.col("y") + 1).alias("y"),
        F.col("o_orderpriority"),
        F.col("share").alias("ps"),
    )
    paired = cur.join(prev, ["y", "o_orderpriority"], "full_outer").select(
        "y",
        F.round(
            F.abs(F.coalesce("cs", F.lit(0.0)) - F.coalesce("ps", F.lit(0.0))), 6
        )
        .cast("decimal(18,6)")
        .alias("d"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    return (
        paired.join(F.broadcast(valid), "y")
        .groupBy(F.col("y").alias("year"))
        .agg(
            F.sum("d").cast("double").alias("l1_mix_shift"),
            F.sum("n").cast("bigint").alias("n_orders"),
        )
        .orderBy("year")
    )
