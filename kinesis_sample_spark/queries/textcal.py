"""Text-corpus calibration and structure — round-12 additions.

Audits OVER the dedup/similarity machinery rather than more of it: the
existing families find candidates (q31 minhash, q32 simhash, q36
embeddings) — these queries measure how well the cheap structures track
ground truth, plus corpus-shape statistics (Zipf slope, burstiness,
cross-doc shingle duplication) and a prefix/LCP near-dup family that
blocks on shared prefixes instead of shingle hashes.

- q245: prefix-blocked LCP near-dup pairs (the suffix-array-free,
  shuffle-friendly form of prefix dedup)
- q248: Zipf rank-frequency slope (log-log OLS over the top ranks)
- q249: MinHash estimator calibration (estimated vs exact jaccard)
- q257: cosine-similarity distribution over deterministic strided pairs
- q259: candidate-set agreement between LSH bands and prefix blocks
- q263: term burstiness (variance-to-mean of per-doc counts)
- q264: cross-document shingle duplication rate per source
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.functions.shingles import shingle_array
from kinesis_sample_spark.functions.vectors import cosine, sql_cosine
from kinesis_sample_spark.operators.incremental import N_HASHES
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.queries.dedup import (
    _SQL_CAND_BODY_TEMPLATE,
    _SQL_SHL,
    _signatures,
    _verified_candidate_pairs,
)

# ---------------------------------------------------------------------------
# q245 — prefix-blocked LCP near-dup pairs.
# ---------------------------------------------------------------------------
_LCP_BLOCK = 12  # block key: first 12 chars (implies LCP >= 12 in-block)
_LCP_CAP = 64  # max docs per prefix block (window cap, q198-style)
_LCP_PROBES = (256, 128, 64, 32, 16)


def _sql_lcp_bucket(a: str, b: str) -> str:
    cases = " ".join(
        f"WHEN substring({a}, 1, {p}) = substring({b}, 1, {p}) THEN {p}"
        for p in _LCP_PROBES
    )
    return f"(CASE {cases} ELSE {_LCP_BLOCK} END)"


@query(
    "q245_prefix_lcp_neardup",
    oracle=f"""
WITH blocked AS (
    SELECT doc_id, text, substring(text, 1, {_LCP_BLOCK}) AS blk
    FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY substring(text, 1, {_LCP_BLOCK})
                                  ORDER BY doc_id) AS rn
        FROM documents
    ) t WHERE rn <= {_LCP_CAP}
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_sql_lcp_bucket('a.text', 'b.text')} AS lcp_bucket
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
),
docs AS (
    SELECT DISTINCT lcp_bucket, d FROM (
        SELECT lcp_bucket, doc_a AS d FROM pairs
        UNION ALL
        SELECT lcp_bucket, doc_b FROM pairs
    ) u
)
SELECT p.lcp_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs, d.n_docs
FROM pairs p
JOIN (SELECT lcp_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM docs GROUP BY lcp_bucket) d
  ON d.lcp_bucket = p.lcp_bucket
GROUP BY p.lcp_bucket, d.n_docs
ORDER BY p.lcp_bucket
""",
)
def q245_prefix_lcp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix/LCP near-dup detection without a suffix array: block on
    the first 12 characters (so every in-block pair shares an LCP of at
    least 12), then classify each pair's longest common prefix by a
    doubling probe (substring equality at 16/32/64/128/256) — the
    shuffle-friendly rendition of what an LCP array gives a single
    machine. Blocks are capped at 64 docs by a window count riding
    the blocking shuffle (a boilerplate prefix shared by a million docs
    must not go quadratic — same bound as q198's MAX_BASKET).

    Output: pair and distinct-doc counts per LCP bucket — the dedup
    planner's histogram for choosing a prefix-truncation threshold.

    Scale: one shuffle on the prefix key; pairing is quadratic only
    inside capped blocks; the probes are fixed-length substring
    comparisons (no per-char loop)."""
    docs = load_table(spark, sf_dir, "documents")
    blk = F.substring("text", 1, _LCP_BLOCK)
    blocked = (
        docs.select("doc_id", "text", blk.alias("blk"))
        .withColumn("rn", F.row_number().over(W.partitionBy("blk").orderBy("doc_id")))
        .filter(F.col("rn") <= _LCP_CAP)
        .drop("rn")
    )
    a = blocked.select(
        F.col("blk"), F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    b = blocked.select(
        F.col("blk"), F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    # build the WHEN chain smallest-probe-first: each new when() wraps the
    # previous chain, so the OUTERMOST (last-added, largest) probe is
    # checked first — mirroring the SQL CASE's largest-first order.
    bucket = F.lit(_LCP_BLOCK)
    for p in _LCP_PROBES[::-1]:
        bucket = F.when(
            F.substring("ta", 1, p) == F.substring("tb", 1, p), F.lit(p)
        ).otherwise(bucket)
    pairs = (
        a.join(b, (a.blk == b.blk) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", bucket.alias("lcp_bucket"))
    )
    docs_per = (
        pairs.select("lcp_bucket", F.col("doc_a").alias("d"))
        .unionByName(pairs.select("lcp_bucket", F.col("doc_b").alias("d")))
        .distinct()
        .groupBy("lcp_bucket")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        pairs.groupBy("lcp_bucket")
        .agg(F.count("*").alias("n_pairs"))
        .join(docs_per, "lcp_bucket")
        .select("lcp_bucket", "n_pairs", "n_docs")
        .orderBy("lcp_bucket")
    )


# ---------------------------------------------------------------------------
# q248 — Zipf rank-frequency slope.
# ---------------------------------------------------------------------------
_ZIPF_RANKS = 1000


@query(
    "q248_zipf_slope",
    oracle=f"""
WITH tf AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
    GROUP BY tok
),
ranked AS (
    SELECT CAST(round(log10(ROW_NUMBER() OVER (ORDER BY freq DESC, tok)), 6)
                AS DECIMAL(18,6)) AS lr,
           CAST(round(log10(freq), 6) AS DECIMAL(18,6)) AS lf
    FROM tf
    QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, tok) <= {_ZIPF_RANKS}
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(lr AS DECIMAL(19,6))) AS sx, SUM(CAST(lf AS DECIMAL(19,6))) AS sy,
           SUM(CAST(lr AS DECIMAL(19,6)) * lf) AS sxy,
           SUM(CAST(lr AS DECIMAL(19,6)) * lr) AS sxx
    FROM ranked
)
SELECT n AS n_ranks,
       {sql_double(
           "CAST(round("
           "(CAST(n AS DOUBLE) * {sxy} - {sx} * {sy})"
           " / (CAST(n AS DOUBLE) * {sxx} - {sx} * {sx})"
           ", 6) AS DECIMAL(18,6))".format(
               sxy=sql_double("sxy"), sx=sql_double("sx"),
               sy=sql_double("sy"), sxx=sql_double("sxx"),
           )
       )} AS zipf_slope
FROM s
""",
)
def q248_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope: OLS fit of log10(frequency) against log10(rank)
    over the top 1000 token ranks — natural text sits near -1; the
    fixture's synthetic sampler sits wherever it sits, and the drift of
    this slope across corpus versions is the generation-shift alarm.
    Complements q232 (Heaps: vocabulary growth) and q194 (entropy) with
    the rank-frequency exponent.

    Both logs are quantized round(.,6) -> DECIMAL (the ln/log10 rule:
    libm differences die in the quantization) and the OLS moments are
    exact decimal sums (one factor widened to 19 digits for DuckDB's
    int128 multiply path); the slope is one identical double
    expression, quantized.

    Scale: token counting is the only fact-sized stage (one shuffle on
    the token); the regression runs on 1000 rows."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    wr = W.orderBy(F.col("freq").desc(), "tok")
    ranked = (
        tf.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _ZIPF_RANKS)
        .select(
            F.round(F.log10("rank"), 6).cast("decimal(19,6)").alias("lr"),
            F.round(F.log10("freq"), 6).cast("decimal(18,6)").alias("lf"),
        )
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("lr").alias("sx"),
        F.sum("lf").alias("sy"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
        F.sum(F.col("lr") * F.col("lr")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).cast("decimal(18,6)").cast("double").alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# q249 — MinHash estimator calibration.
# ---------------------------------------------------------------------------
_SQL_EQ_TERMS = " + ".join(
    f"(CASE WHEN a.m{s} = b.m{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES)
)


@query(
    "q249_minhash_calibration",
    oracle=f"""
WITH {_SQL_CAND_BODY_TEMPLATE},
eq AS (
    SELECT c.doc_a, c.doc_b, CAST({_SQL_EQ_TERMS} AS INTEGER) AS est8
    FROM cand c
    JOIN mh a ON a.doc_id = c.doc_a
    JOIN mh b ON b.doc_id = c.doc_b
),
scored AS (
    SELECT e.est8,
           CAST(round(COALESCE(i.n_inter, 0)
                      / (na.n + nb.n - COALESCE(i.n_inter, 0)), 6)
                AS DECIMAL(18,6)) AS jac,
           CAST(round(abs(CAST(e.est8 AS DOUBLE) / {N_HASHES}
                          - COALESCE(i.n_inter, 0)
                            / (na.n + nb.n - COALESCE(i.n_inter, 0))), 6)
                AS DECIMAL(18,6)) AS err
    FROM eq e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes na ON na.doc_id = e.doc_a
    JOIN sizes nb ON nb.doc_id = e.doc_b
)
SELECT est8, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_double('SUM(jac)')} / COUNT(*) AS avg_jaccard,
       {sql_double('SUM(err)')} / COUNT(*) AS avg_abs_err
FROM scored GROUP BY est8 ORDER BY est8
""",
)
def q249_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: over the LSH candidate pairs, the
    estimated jaccard (matching signature fraction, k/{h} — exact
    dyadic) against the TRUE shingle-set jaccard, grouped by estimate
    level. The table that tells you whether {h} hashes are enough
    before you trust q31's threshold at 100 TB — the dedup analogue of
    q212's sketch-calibration audit. Candidates with zero verified
    intersection stay (jaccard 0), unlike q31 which thresholds them
    away.

    Per-pair jaccard and error are quantized round(.,6) -> DECIMAL so
    the bucket averages are exact sums over single divisions.

    Scale: rides q31's signature pipeline (banded candidates only —
    never all pairs); the calibration aggregate is {h}+1 rows."""
    # one persisted signature relation feeds the candidates, their
    # verification and the signature equality counts
    sig = _signatures(spark, sf_dir)
    pairs = _verified_candidate_pairs(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{s}").alias(f"a{s}") for s in range(N_HASHES)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{s}").alias(f"b{s}") for s in range(N_HASHES)]
    )
    est8 = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(N_HASHES)
    ).cast("int")
    jac_raw = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            est8.alias("est8"),
            F.round(jac_raw, 6).cast("decimal(18,6)").alias("jac"),
            F.round(
                F.abs(est8.cast("double") / N_HASHES - jac_raw),
                6,
            )
            .cast("decimal(18,6)")
            .alias("err"),
        )
    )
    return (
        scored.groupBy("est8")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.sum("jac").cast("double") / F.count("*")).alias("avg_jaccard"),
            (F.sum("err").cast("double") / F.count("*")).alias("avg_abs_err"),
        )
        .orderBy("est8")
    )


# ---------------------------------------------------------------------------
# q257 — cosine distribution over deterministic strided pairs.
# ---------------------------------------------------------------------------
_COS_STRIDES = (1, 101)
_COS_BINS = 20


def _sql_cos_branch(stride: int) -> str:
    cos = sql_cosine("a.embedding", "b.embedding")
    return f"""
SELECT {stride} AS stride,
       CAST(LEAST(FLOOR(({cos} + 1) * 10), {_COS_BINS - 1}) AS INTEGER) AS bin,
       CAST(round({cos}, 6) AS DECIMAL(18,6)) AS cq
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + {stride}"""


@query(
    "q257_cosine_pair_distribution",
    oracle=f"""
WITH scored AS ({_sql_cos_branch(_COS_STRIDES[0])}
UNION ALL {_sql_cos_branch(_COS_STRIDES[1])})
SELECT stride, bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_double('SUM(cq)')} / COUNT(*) AS avg_cos
FROM scored GROUP BY stride, bin ORDER BY stride, bin
""",
)
def q257_cosine_pair_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background cosine-similarity distribution of the embedding space,
    sampled by deterministic id strides (+1 and +101): the histogram
    that locates q34/q36's decision thresholds relative to the random-
    pair baseline (a near-dup threshold below the background mode is
    noise, not signal). Strided-id pairing is the deterministic stand-in
    for random sampling — exactly reproducible in both engines and at
    every scale, no RNG.

    Cosines use the engine's exact fold (functions/vectors, bit-equal
    to DuckDB's list_dot_product, proven by q34); bin edges are floor
    arithmetic on identical doubles; per-pair cosines are quantized
    before the bucket average.

    Scale: each stride is a key-shifted equi-join (no similarity
    search); output is bounded by strides x bins."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"))
    outs = []
    for stride in _COS_STRIDES:
        j = a.join(b, F.col("idb") == F.col("ida") + stride)
        cos = cosine(F.col("ea"), F.col("eb"))
        outs.append(
            j.select(
                F.lit(stride).alias("stride"),
                F.least(F.floor((cos + 1) * 10), F.lit(_COS_BINS - 1))
                .cast("int")
                .alias("bin"),
                F.round(cos, 6).cast("decimal(18,6)").alias("cq"),
            )
        )
    scored = outs[0]
    for o in outs[1:]:
        scored = scored.unionByName(o)
    return (
        scored.groupBy("stride", "bin")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.sum("cq").cast("double") / F.count("*")).alias("avg_cos"),
        )
        .orderBy("stride", "bin")
    )


# ---------------------------------------------------------------------------
# q259 — candidate-set agreement: LSH bands vs prefix blocks.
# ---------------------------------------------------------------------------
@query(
    "q259_dedup_agreement",
    oracle=f"""
WITH {_SQL_CAND_BODY_TEMPLATE},
pblocked AS (
    -- same _LCP_CAP window cap as q245: an uncapped shared-boilerplate
    -- prefix block would make this side quadratic at scale
    SELECT doc_id, substring(text, 1, {_LCP_BLOCK}) AS blk
    FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY substring(text, 1, {_LCP_BLOCK})
                                  ORDER BY doc_id) AS rn
        FROM documents
    ) t WHERE rn <= {_LCP_CAP}
),
prefix_pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pblocked a JOIN pblocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
),
u AS (
    SELECT COALESCE(c.doc_a, p.doc_a) AS doc_a,
           CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh,
           CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_prefix
    FROM cand c FULL OUTER JOIN prefix_pairs p
      ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
)
SELECT CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
       CAST(SUM(in_prefix) AS BIGINT) AS n_prefix,
       CAST(SUM(in_lsh * in_prefix) AS BIGINT) AS n_both,
       CAST(SUM(in_lsh * (1 - in_prefix)) AS BIGINT) AS n_lsh_only,
       CAST(SUM((1 - in_lsh) * in_prefix) AS BIGINT) AS n_prefix_only
FROM u
""",
)
def q259_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-set agreement matrix between two independent blocking
    structures: MinHash LSH bands (content-wide similarity) vs shared
    12-char prefixes (q245's blocking). The divergence columns are the
    actionable ones — prefix-only pairs are template boilerplate LSH
    dilutes away; LSH-only pairs are rewordings no prefix can catch.
    Running both and diffing is the standard recall audit when no
    labeled duplicates exist.

    Pure set algebra on exact pair keys: FULL OUTER join + indicator
    sums, no floats anywhere.

    Scale: both candidate generators are equi-join blocked (bands,
    prefix key) AND bounded — the prefix side carries q245's _LCP_CAP
    window cap, so a boilerplate prefix shared by a million docs stays
    quadratic only inside the 64-doc cap; the diff joins on the pair
    key. (Cap added round 13; no block exceeds it at sf<=0.1, so tested
    outputs are unchanged.)"""
    pairs = _verified_candidate_pairs(_signatures(spark, sf_dir)).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    # Same _LCP_CAP window cap as q245 (rides the blocking shuffle): an
    # uncapped boilerplate-prefix block would go quadratic at scale.
    blk = (
        docs.select("doc_id", F.substring("text", 1, _LCP_BLOCK).alias("blk"))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("blk").orderBy("doc_id"))
        )
        .filter(F.col("rn") <= _LCP_CAP)
        .drop("rn")
    )
    pa = blk.select(F.col("doc_id").alias("doc_a"), "blk")
    pb = blk.select(F.col("doc_id").alias("doc_b"), F.col("blk").alias("blkb"))
    prefix_pairs = pa.join(
        pb, (F.col("blk") == F.col("blkb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")
    lsh = pairs.withColumn("in_lsh", F.lit(1))
    pre = prefix_pairs.withColumn("in_prefix", F.lit(1))
    u = lsh.join(pre, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_lsh", F.lit(0)).alias("in_lsh"),
        F.coalesce("in_prefix", F.lit(0)).alias("in_prefix"),
    )
    return u.agg(
        F.sum("in_lsh").alias("n_lsh"),
        F.sum("in_prefix").alias("n_prefix"),
        F.sum(F.col("in_lsh") * F.col("in_prefix")).alias("n_both"),
        F.sum(F.col("in_lsh") * (1 - F.col("in_prefix"))).alias("n_lsh_only"),
        F.sum((1 - F.col("in_lsh")) * F.col("in_prefix")).alias("n_prefix_only"),
    )


# ---------------------------------------------------------------------------
# q263 — term burstiness (variance-to-mean ratio of per-doc counts).
# ---------------------------------------------------------------------------
_BURST_MIN_DF = 5
_BURST_TOP = 50


@query(
    "q263_term_burstiness",
    oracle=f"""
WITH tc AS (
    SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents) t
    GROUP BY tok, doc_id
),
s AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(c * c) AS BIGINT) AS scc
    FROM tc GROUP BY tok
)
SELECT tok, df, n AS n_total,
       {sql_double(
           "CAST(round("
           "((CAST(df AS DOUBLE) * CAST(scc AS DOUBLE)"
           "  - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
           " / (CAST(df AS DOUBLE) * CAST(df - 1 AS DOUBLE)))"
           " / (CAST(n AS DOUBLE) / df)"
           ", 6) AS DECIMAL(18,6))"
       )} AS vmr
FROM s WHERE df >= {_BURST_MIN_DF}
QUALIFY ROW_NUMBER() OVER (ORDER BY df DESC, tok) <= {_BURST_TOP}
ORDER BY df DESC, tok
""",
)
def q263_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness: variance-to-mean ratio (VMR) of per-document
    counts over the documents containing each term, for the top 50
    terms by document frequency. VMR ~ 1 is Poisson scatter (function
    words); VMR >> 1 is burst behavior (topical words clumping in few
    docs) — the content-word detector that raw frequency (q149) and
    entropy (q194) both miss.

    df, total and sum-of-squares are exact BIGINTs; VMR is one
    identical double expression quantized round(.,6). Sample variance
    needs df >= 2; the df >= 5 filter guarantees it.

    Scale: the (term, doc) aggregate is the only corpus-sized shuffle;
    the moment rollup and top-50 window run on the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    s = tc.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    dfd = F.col("df").cast("double")
    nd = F.col("n").cast("double")
    sccd = F.col("scc").cast("double")
    var = (dfd * sccd - nd * nd) / (dfd * (F.col("df") - 1).cast("double"))
    vmr = var / (nd / F.col("df"))
    wtop = W.orderBy(F.col("df").desc(), "tok")
    return (
        s.filter(F.col("df") >= _BURST_MIN_DF)
        .select(
            "tok",
            "df",
            F.col("n").alias("n_total"),
            F.round(vmr, 6).cast("decimal(18,6)").cast("double").alias("vmr"),
        )
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _BURST_TOP)
        .drop("rn")
        .orderBy(F.col("df").desc(), "tok")
    )


# ---------------------------------------------------------------------------
# q264 — cross-document shingle duplication rate per source.
# ---------------------------------------------------------------------------
@query(
    "q264_shingle_duplication_rate",
    oracle=f"""
WITH sh AS (
    SELECT DISTINCT doc_id, source, unnest({_SQL_SHL}) AS s
    FROM documents WHERE len(string_split(text, ' ')) >= 3
),
df AS (
    SELECT s, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS sdf FROM sh GROUP BY s
)
SELECT sh.source,
       CAST(COUNT(DISTINCT sh.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_shingle_slots,
       CAST(SUM(CASE WHEN df.sdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicated,
       SUM(CASE WHEN df.sdf > 1 THEN 1 ELSE 0 END) / COUNT(*) AS dup_rate
FROM sh JOIN df ON df.s = sh.s
GROUP BY sh.source ORDER BY sh.source
""",
)
def q264_shingle_duplication_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document shingle duplication per source: the fraction of a
    source's distinct (doc, 3-shingle) slots whose shingle also appears
    in some OTHER document — sub-document boilerplate pressure that
    doc-level dedup rates (q138) cannot see and that decides whether a
    source needs passage-level dedup before training. Uses the exact
    shingle relation q31's signatures approximate.

    Pure integer counting; dup_rate is one division of exact counts.

    Scale: distinct (doc, shingle) and the shingle document-frequency
    both ride one shingle-keyed shuffle; the per-source rollup is
    bounded by source count."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = (
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(shingle_array(F.split("text", " "))).alias("s"),
        )
        .distinct()
    )
    dfreq = sh.groupBy("s").agg(F.countDistinct("doc_id").alias("sdf"))
    j = sh.join(dfreq, "s")
    dup = F.sum(F.when(F.col("sdf") > 1, 1).otherwise(0))
    return (
        j.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_shingle_slots"),
            dup.alias("n_duplicated"),
            (dup / F.count("*")).alias("dup_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q323 — Heaps'-law vocabulary-growth fit (round 14).
# ---------------------------------------------------------------------------
_HEAPS_KS = tuple(range(3, 13))  # checkpoint ranks 2^3 .. 2^12 (<= n_docs)


def _heaps_oracle() -> str:
    from kinesis_sample_spark.functions.hashing import md5_long_sql

    h = md5_long_sql("'heaps:' || CAST(doc_id AS VARCHAR)")
    ks = ", ".join(f"({k})" for k in _HEAPS_KS)
    q6 = "CAST(round({x}, 6) AS DECIMAL(18,6))"
    d6 = "CAST(CAST(CAST(round({x}, 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)"
    return f"""
WITH ranked AS MATERIALIZED (
    SELECT doc_id, string_split(text, ' ') AS t,
           ROW_NUMBER() OVER (ORDER BY {h}, doc_id) AS rk
    FROM documents
),
doclen AS (SELECT rk, CAST(len(t) - 2 AS BIGINT) AS ntg FROM ranked),
grams AS MATERIALIZED (
    SELECT gram, CAST(MIN(rk) AS BIGINT) AS first_rk
    FROM (
        SELECT rk, unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
               AS gram
        FROM ranked
    ) g
    GROUP BY gram
),
cps AS (
    SELECT k, CAST(power(2, k) AS BIGINT) AS r
    FROM (VALUES {ks}) AS t(k)
    WHERE CAST(power(2, k) AS BIGINT) <= (SELECT MAX(rk) FROM ranked)
),
pts AS MATERIALIZED (
    SELECT c.k, c.r,
           (SELECT CAST(SUM(ntg) AS BIGINT) FROM doclen WHERE rk <= c.r)
             AS corpus_tokens,
           (SELECT COUNT(*) FROM grams WHERE first_rk <= c.r) AS vocab
    FROM cps c
),
lp AS (
    SELECT k, r, corpus_tokens, vocab,
           {q6.format(x='ln(CAST(corpus_tokens AS DOUBLE))')} AS x,
           {q6.format(x='ln(CAST(vocab AS DOUBLE))')} AS y
    FROM pts
),
ols AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
           CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * y) AS VARCHAR) AS DOUBLE)
             AS sxy,
           CAST(CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS VARCHAR) AS DOUBLE)
             AS sxx
    FROM lp
)
SELECT lp.k, lp.r AS r_docs, lp.corpus_tokens, CAST(lp.vocab AS BIGINT) AS vocab,
       {d6.format(x='(o.m * o.sxy - o.sx * o.sy) / (o.m * o.sxx - o.sx * o.sx)')}
         AS heaps_beta,
       {d6.format(
           x='(o.sy - (o.m * o.sxy - o.sx * o.sy)'
             ' / (o.m * o.sxx - o.sx * o.sx) * o.sx) / o.m')}
         AS ln_k0
FROM lp, ols o
ORDER BY lp.k
"""


@query("q323_heaps_vocabulary_growth", oracle=_heaps_oracle())
def q323_heaps_vocabulary_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: how the corpus's TRIGRAM vocabulary grows with
    corpus size, V(T) ~ K * T^beta, measured at doubling document
    checkpoints (ranks 2^3..2^12 in a deterministic md5 document order)
    and fitted log-log by OLS. The dedup/quality shelf treats the
    corpus as fixed; this is the GROWTH calibration — sublinear beta is
    what says "new documents still bring new phrases" vs "the crawl has
    saturated", the quantity an acquisition pipeline actually watches.
    (q248 fits Zipf — frequency vs rank at fixed size; Heaps is its
    growth-curve dual. Unigrams saturate this fixture's 31-word
    vocabulary instantly, so the unit is the trigram — same unit as
    q193's novelty.)

    Determinism: document order is md5-ranked (layout-free); vocabulary
    growth is first-occurrence-rank ≤ checkpoint — MIN(rank) per gram,
    an exact integer — and corpus size is an exact token-count prefix
    sum. The ln terms are quantized round(.,6)->DECIMAL per the house
    recipe (Java log vs libm diverge 1 ulp); OLS moments are exact
    decimal sums of the quantized terms, widened DECIMAL(19,6) before
    multiplying; beta/intercept are identical double expressions.

    Scale: first-occurrence is a gram-keyed partial MIN aggregate (the
    same shuffle q193's df count rides); checkpoint evaluation is a
    conditional aggregate of the gram table against a <=10-row
    broadcast checkpoint list — no per-prefix rescan, no running
    distinct-state. 10x the corpus adds one checkpoint row."""
    from kinesis_sample_spark.functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.orderBy(
            md5_long(F.concat(F.lit("heaps:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    ranked = docs.select(
        "doc_id", F.split("text", " ").alias("t"), rk.alias("rk")
    )
    doclen = ranked.select(
        "rk", (F.size("t") - 2).cast("bigint").alias("ntg")
    )
    grams = (
        ranked.select("rk", F.explode(shingle_array(F.col("t"), 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.min("rk").cast("bigint").alias("first_rk"))
    )
    n_docs = ranked.groupBy().agg(F.max("rk").alias("mx"))
    cps = (
        spark.createDataFrame([(k, 2**k) for k in _HEAPS_KS], ["k", "r"])
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("r") <= F.col("mx"))
        .select("k", "r")
    )
    toks = (
        doclen.crossJoin(F.broadcast(cps))
        .groupBy("k", "r")
        .agg(F.sum(F.when(F.col("rk") <= F.col("r"), F.col("ntg"))).alias("corpus_tokens"))
    )
    voc = (
        grams.crossJoin(F.broadcast(cps))
        .groupBy("k", "r")
        .agg(
            F.sum(
                F.when(F.col("first_rk") <= F.col("r"), 1).otherwise(0)
            ).cast("bigint").alias("vocab")
        )
    )
    q6d = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    lp = toks.join(voc, ["k", "r"]).select(
        "k",
        "r",
        "corpus_tokens",
        "vocab",
        q6d(F.log(F.col("corpus_tokens").cast("double"))).alias("x"),
        q6d(F.log(F.col("vocab").cast("double"))).alias("y"),
    )
    ols = lp.groupBy().agg(
        F.count("*").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,6)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,6)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
    )
    beta = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    q6 = lambda c: F.round(c, 6).cast("decimal(18,6)").cast("double")  # noqa: E731
    return (
        lp.crossJoin(F.broadcast(ols))
        .select(
            "k",
            F.col("r").alias("r_docs"),
            "corpus_tokens",
            "vocab",
            q6(beta).alias("heaps_beta"),
            q6((F.col("sy") - beta * F.col("sx")) / F.col("m")).alias("ln_k0"),
        )
        .orderBy("k")
    )
