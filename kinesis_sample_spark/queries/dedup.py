"""Deduplication operators over ``documents`` — north-star LLM-pipeline
surface (BASELINE.json; SURVEY.md §2 Table B "LLM-pipeline extensions").

Four dedup families, all engine-portable (oracle-exact via the md5-derived
hash family in functions.hashing):

- exact (normalized-hash groupBy)
- MinHash + LSH banding (shingle → signature → band-bucket join → exact
  jaccard on candidates only)
- SimHash (bitwise majority over token hashes, hamming-band blocking)
- character-n-gram jaccard with length/lang blocking

The MinHash-LSH scheme (signatures, bands, candidate self-join, exact
verification) is ``operators/incremental.py``'s; the queries here choose
the sets, the blocks and the thresholds, and their oracles spell the
scheme out in SQL.

Scale design: signatures are computed with *array higher-order functions*
(``transform``/``array_min``) — per-row, JVM-side, no explode, no shuffle.
Only candidate verification explodes shingles, and only for the tiny
LSH-bucketed candidate set. At 100 TB the candidate join is the one shuffle
and it is keyed on band values whose cardinality grows with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.hashing import md5_long, md5_long_sql, seeded_md5_long_sql
from kinesis_sample_spark.functions.shingles import shingle_array
from kinesis_sample_spark.operators.incremental import (
    N_HASHES,
    lsh_candidates,
    minhash_columns,
    verified_pairs,
)
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.scratch import scratch_dir


def _docs_with_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + word-3-shingle array (docs shorter than 3 tokens are
    droppable by definition of the shingle — none exist in the fixtures).

    Repartitioned first: the fixture is a single parquet file (one input
    split), and the shingling/hashing below is the CPU-heavy part — on a
    real corpus the many input files provide this parallelism for free."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return docs.filter(F.size(F.split("text", " ")) >= 3).withColumn(
        "shl", shingle_array(F.split("text", " "))
    )


_SQL_SHL = (
    "list_transform(range(1, len(string_split(text, ' ')) - 1),"
    " i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]"
    " || ' ' || string_split(text, ' ')[i+2])"
)


# ---------------------------------------------------------------------------
# q30 — exact dedup on normalized text.
# ---------------------------------------------------------------------------
_NORM_SQL = md5_long_sql(r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))")


@query(
    "q30_exact_dedup",
    oracle=f"""
WITH norm AS (
    SELECT doc_id, {_NORM_SQL} AS h
    FROM documents
)
SELECT h AS text_hash, MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
FROM norm GROUP BY h ORDER BY survivor_id
""",
)
def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash-groupBy on normalized text; survivor = min doc_id
    (deterministic, unlike dropDuplicates). Scale: one shuffle on a 60-bit
    hash — uniformly distributed, no skew; text itself never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        docs.select("doc_id", md5_long(norm).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_dups"))
        .orderBy("survivor_id")
    )


# ---------------------------------------------------------------------------
# q31 — MinHash + LSH near-dup pairs.
# ---------------------------------------------------------------------------
def _sql_minhash_cols() -> str:
    return ",\n        ".join(
        f"list_min(list_transform(shl, x -> {seeded_md5_long_sql('x', s)})) AS m{s}"
        for s in range(N_HASHES)
    )


#: the candidate-verification pipeline (through verified intersection
#: counts) as a WITH-clause body — shared by q31/q69 (jaccard) and
#: q249/q259 (textcal.py), which apply different final filters.
_SQL_CAND_BODY_TEMPLATE = f"""docs3 AS (
    SELECT doc_id, {_SQL_SHL} AS shl
    FROM documents WHERE len(string_split(text, ' ')) >= 3
),
mh AS (
    SELECT doc_id, {_sql_minhash_cols()}
    FROM docs3
),
bands AS (
    SELECT doc_id, 0 AS band_idx,
           CAST(m0 AS VARCHAR)||'_'||m1||'_'||m2||'_'||m3 AS band_val FROM mh
    UNION ALL
    SELECT doc_id, 1, CAST(m4 AS VARCHAR)||'_'||m5||'_'||m6||'_'||m7 FROM mh
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS sh FROM docs3),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
    GROUP BY 1, 2
)"""

#: the jaccard-thresholded pairs, as used by q31 and q69.
_SQL_PAIRS_BODY_TEMPLATE = f"""{_SQL_CAND_BODY_TEMPLATE},
pairs AS (
    SELECT i.doc_a, i.doc_b, i.n_inter, na.n AS n_a, nb.n AS n_b,
           i.n_inter / (na.n + nb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= 0.8
)"""


@query(
    "q31_minhash_lsh",
    oracle=f"""
WITH {_SQL_PAIRS_BODY_TEMPLATE}
SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard
FROM pairs
ORDER BY doc_a, doc_b
""",
)
def q31_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures per row via array higher-order functions (no
    explode/shuffle), LSH band-bucket self-join for candidates, exact
    jaccard verification on candidates only. The fixtures contain ~25
    planted near-dup pairs at jaccard ≈ 0.98; threshold 0.8 keeps them and
    rejects the word-soup background."""
    pairs = _verified_candidate_pairs(_signatures(spark, sf_dir))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


def banded_block_candidates(g: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) of a relation with a
    ``grams`` array column whose (lang, len_bucket) block AND one 2-of-8
    minhash band both collide — the blocking that de-quadratics the
    char-gram (q33) and edit-distance (q56) dedup families: the block
    self-join becomes an equi-join on hash buckets whose occupancy shrinks
    as the corpus grows, instead of all-pairs within the block."""
    sig = g.select("doc_id", "lang", "len_bucket", *minhash_columns("grams"))
    return lsh_candidates(sig, ("lang", "len_bucket"), band_size=2)


def sql_gram_bands(n_hashes: int = 8, band_size: int = 2) -> str:
    """Oracle-side mirror of :func:`banded_block_candidates`: CTE bodies
    ``gmh``/``gbands`` over an existing CTE ``g(doc_id, lang, len_bucket,
    grams)``."""
    n_bands = n_hashes // band_size
    mh_cols = ",\n        ".join(
        f"list_min(list_transform(grams, x -> {seeded_md5_long_sql('x', s)})) AS m{s}"
        for s in range(n_hashes)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, lang, len_bucket, {idx} AS band_idx, {val} AS band_val FROM gmh".format(
            idx=b,
            val="||'_'||".join(
                f"CAST(m{b * band_size + i} AS VARCHAR)" for i in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""gmh AS (
    SELECT doc_id, lang, len_bucket, {mh_cols}
    FROM g
),
gbands AS (
    {band_selects}
),
gcand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM gbands a JOIN gbands b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)"""


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature relation, persisted: (doc_id, distinct shingle set
    ``shs``, m0..m7) of every document of 3+ tokens. Banding, both
    candidate sides and q249's estimator all reuse it instead of
    re-running tokenize→shingle→hash — on a real corpus this is the
    "materialize the signature table" step of the pipeline."""
    return (
        _docs_with_shingles(spark, sf_dir)
        .select("doc_id", F.array_distinct("shl").alias("shs"), *minhash_columns("shl"))
        .persist()
    )


def _verified_candidate_pairs(sig: DataFrame) -> DataFrame:
    """LSH candidate pairs of the ``_signatures`` relation ``sig``, with
    verified shingle-set intersection counts (doc_a, doc_b, n_inter, n_a,
    n_b) — unfiltered, so different similarity measures (jaccard q31,
    signature calibration q249, candidate agreement q259, cluster census
    q288) share one pipeline."""
    return verified_pairs(lsh_candidates(sig), sig, sig, "shs")


# ---------------------------------------------------------------------------
# q32 — SimHash: 60-bit signature + hamming near-pairs via 15-bit-band blocking.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # md5_long is a 60-bit hash — use its full width
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15 → 32 768 bucket values


def _spark_simhash_bits(tok_col: str = "tok"):
    h = md5_long(F.col(tok_col))
    bits = []
    for j in range(SIMHASH_BITS):
        bit = F.shiftright(h, j).bitwiseAND(F.lit(1))
        bits.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{j}"))
    return bits


def _sql_simhash_sum_cols() -> str:
    h = md5_long_sql("tok")
    return ",\n        ".join(
        f"SUM(CASE WHEN (({h} >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )


_SQL_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)


@query(
    "q32_simhash_pairs",
    oracle=f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
sums AS (
    SELECT doc_id, {_sql_simhash_sum_cols()}
    FROM toks GROUP BY doc_id
),
sig AS (SELECT doc_id, {_SQL_SIMHASH_ASSEMBLE} AS simhash FROM sums),
bands AS (
    SELECT doc_id, simhash, b.band_idx,
           (simhash >> ({SIMHASH_BAND_BITS} * b.band_idx)) & {(1 << SIMHASH_BAND_BITS) - 1} AS band_val
    FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a, b.doc_id AS doc_b, b.simhash AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 6
ORDER BY doc_a, doc_b
""",
)
def q32_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted 60-bit SimHash over distinct tokens; candidates must share
    one of four 15-bit bands, then exact hamming ≤ 6 filter.

    Bucket-cardinality math (why 15-bit bands, not 8): each band bucket
    join is quadratic *within a bucket*. With b-bit bands a corpus of n
    docs puts ~n/2^b docs in a bucket, so candidate pairs per band are
    ~n²/2^(b+1). At b=8 (256 buckets) a 10^9-doc corpus would produce
    ~2·10^15 pairs per band — a scale-killer; at b=15 (32 768 buckets)
    the same corpus yields ~1.5·10^13, a 128× reduction, and bucket
    occupancy keeps shrinking as signatures spread over real text (the
    uniform-occupancy estimate is the worst case). Recall: pigeonhole
    guarantees a clean band only for hamming ≤ 3 (4 bands); pairs at
    hamming 4–6 are found iff their bit errors cluster into ≤ 3 bands —
    the oracle computes the identical banding, so the gate checks the
    exact same semantics."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    sums = toks.groupBy("doc_id").agg(*_spark_simhash_bits())
    assemble = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("bigint"), j)).otherwise(
            F.lit(0).cast("bigint")
        )
        assemble = term if assemble is None else assemble + term
    # persisted: the band self-join would otherwise recompute the whole
    # token-explode + 60-bit-sum pipeline for each side.
    sig = sums.select("doc_id", assemble.alias("simhash")).persist()
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)])).alias("band_idx"),
    ).withColumn(
        "band_val",
        F.expr(
            f"shiftright(simhash, band_idx * {SIMHASH_BAND_BITS})"
            f" & {(1 << SIMHASH_BAND_BITS) - 1}"
        ),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q33 — character-4-gram jaccard, blocked by (lang, len-bucket) × minhash band.
# ---------------------------------------------------------------------------
@query(
    "q33_chargram_jaccard",
    oracle=f"""
WITH g AS (
    SELECT doc_id, lang, n_chars // 64 AS len_bucket,
           list_distinct(list_transform(range(1, length(text) - 2),
                                        i -> substring(text, i, 4))) AS grams
    FROM documents
),
{sql_gram_bands()},
pairs AS (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(ga.grams, gb.grams)) AS n_inter,
           len(ga.grams) AS n_a, len(gb.grams) AS n_b
    FROM gcand c
    JOIN g ga ON ga.doc_id = c.doc_a
    JOIN g gb ON gb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       n_inter / (n_a + n_b - n_inter) AS jaccard
FROM pairs
WHERE n_inter / (n_a + n_b - n_inter) >= 0.85
ORDER BY doc_a, doc_b
""",
)
def q33_chargram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-shingle jaccard — catches near-dups that word shingles
    miss (e.g. punctuation/whitespace edits). Candidates must share a
    (lang, len-bucket) block AND a 2-of-8 minhash band over the gram set
    (banded_block_candidates), so the candidate join is an equi-join on
    hash buckets rather than all-pairs within the block — an (en,
    popular-length) block with m docs generates ~m²/2 pairs under plain
    blocking but only Σ_buckets (occupancy choose 2) ≈ m²·j-collision-rate
    under banding (collision rate = 1-(1-j²)^4 ≈ 1% for unrelated word-soup
    docs, ≈ 1 for the planted j≈0.98 pairs). Verification stays per-pair
    via JVM-side array_intersect, no gram explosion."""
    # repartition first (same rationale as _docs_with_shingles/q56): the
    # fixture is a single parquet file = one input split, and the 8-seed
    # md5 minhash over ~180 grams/doc is the CPU-heavy stage — without
    # this it all runs on one core (measured 14.6 s vs ~1 s for the
    # candidate stage at sf0.1); a real corpus's many files provide the
    # parallelism for free
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    g = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        F.array_distinct(
            F.expr("transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))")
        ).alias("grams"),
    ).persist()
    pairs = verified_pairs(banded_block_candidates(g), g, g, "grams")
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    # persist the (tiny) verified pair set before the global sort: the
    # range-partitioner's sampling pass otherwise re-executes the whole
    # minhash-banding + intersect pipeline a second time
    return (
        pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.85)
        .persist()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q69 — near-dup clusters: pairs → connected components → survivors.
# ---------------------------------------------------------------------------
@query(
    "q69_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS_BODY_TEMPLATE},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id,
       LEAST(a, MIN(b)) AS component,
       (LEAST(a, MIN(b)) = a) AS is_survivor
FROM reach
GROUP BY a
ORDER BY component, doc_id
""",
)
def q69_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that finishes MinHash dedup: candidate pairs become
    duplicate *clusters* via connected components (operators.components:
    min-label propagation, one join+agg per round), survivor = min doc_id
    per component. The oracle computes the same components by transitive
    closure (recursive CTE) — fine for the oracle's small graph, while the
    engine path scales to corpus-size graphs."""
    from kinesis_sample_spark.operators.components import connected_components

    pairs = q31_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b")
    return (
        cc.select(
            F.col("node").alias("doc_id"),
            "component",
            (F.col("component") == F.col("node")).alias("is_survivor"),
        )
        .orderBy("component", "doc_id")
    )


# ---------------------------------------------------------------------------
# q127 — canonical-document selection: clusters → keep-best policy.
# ---------------------------------------------------------------------------
@query(
    "q127_canonical_selection",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS_BODY_TEMPLATE},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
ranked AS (
    SELECT c.component, c.doc_id, d.n_chars,
           row_number() OVER (
               PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id
           ) AS rn
    FROM comp c JOIN documents d USING (doc_id)
)
SELECT component,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM ranked
GROUP BY component
ORDER BY component
""",
)
def q127_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The policy step after q69's clustering: near-dup dedup doesn't
    just *find* clusters, it must pick which member survives. The common
    production policy is keep-the-longest (longest member usually has the
    least truncation/boilerplate damage), tiebroken by doc_id for
    determinism. One row per cluster: the canonical doc, member count and
    total chars — the "what did dedup delete" audit a release needs.

    Scale: reuses q31's verified pairs + connected components (see q69);
    the selection itself is a row_number window partitioned by component —
    cluster-sized partitions (tiny), not corpus-sized."""
    from pyspark.sql import Window as W

    from kinesis_sample_spark.operators.components import connected_components

    pairs = q31_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = cc.select(F.col("node").alias("doc_id"), "component").join(docs, "doc_id")
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
            F.count("*").alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# q138 — dedup audit: near-duplication rate per source.
# ---------------------------------------------------------------------------
@query(
    "q138_dedup_rate_per_source",
    oracle=f"""
WITH {_SQL_PAIRS_BODY_TEMPLATE},
dup_docs AS (
    SELECT doc_a AS doc_id FROM pairs
    UNION
    SELECT doc_b FROM pairs
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(dd.doc_id) AS BIGINT) AS n_in_dup_pairs,
       CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS dup_chars
FROM documents d
LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
""",
)
def q138_dedup_rate_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dedup report a corpus release publishes: how many
    of each source's documents sit in a verified near-dup pair, and how
    many chars that duplication represents. A source with an outlier
    dup-rate is either a mirror of another source (see q130) or a
    boilerplate farm — both change its sampling weight. Reuses
    q31's verified pairs; the per-source rollup is a left join against
    the (tiny) distinct dup-doc set, broadcast by Catalyst."""
    pairs = q31_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    j = docs.join(F.broadcast(dup_docs), "doc_id", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("is_dup").alias("n_in_dup_pairs"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("n_chars")).otherwise(F.lit(0))
            ).alias("dup_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q140 — the materialized workspace pipeline, driver-gated end-to-end.
# ---------------------------------------------------------------------------
@query(
    "q140_workspace_manifest",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS_BODY_TEMPLATE},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
ranked AS (
    SELECT c.doc_id,
           row_number() OVER (
               PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id
           ) AS rn
    FROM comp c JOIN documents d USING (doc_id)
),
dropped AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
FROM documents d
LEFT JOIN dropped x ON x.doc_id = d.doc_id
WHERE x.doc_id IS NULL
GROUP BY d.source
ORDER BY d.source
""",
)
def q140_workspace_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-job pipeline under the gate: run operators/workspace.py's
    prepare_corpus (pairs → components → canonical → kept, each stage
    materialized to parquet and read back) in a fresh workspace and
    return the release manifest. The oracle recomputes the whole chain
    serially — so the materialization seams (write → _SUCCESS → re-read)
    are value-checked, not just the in-memory logic."""

    from kinesis_sample_spark.operators.workspace import prepare_corpus

    ws = scratch_dir(prefix="kss_ws_")
    stages = prepare_corpus(spark, sf_dir, ws)
    return stages["manifest"].orderBy("source")


# ---------------------------------------------------------------------------
# q152 — prefix-filtered exact similarity join (PPJoin-style).
# ---------------------------------------------------------------------------
# Jaccard threshold t = 3/5, kept as a ratio so every filter is integer
# arithmetic: prefix length = sz - ceil(t·sz) + 1 with ceil(3·sz/5) =
# (3·sz + 4) div 5, and the verify is n_inter·5 ≥ 3·(n_a + n_b − n_inter).
_PP_NUM, _PP_DEN = 3, 5


@query(
    "q152_prefix_filter_simjoin",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, lang, unnest(toks) AS tk FROM d
),
df AS (
  SELECT tk, count(*) AS df FROM tok GROUP BY tk
),
ranked AS (
  SELECT t.doc_id, t.lang, t.tk,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.tk) AS r,
         count(*) OVER (PARTITION BY t.doc_id) AS sz
  FROM tok t JOIN df ON df.tk = t.tk
),
prefix AS (
  SELECT doc_id, lang, tk FROM ranked
  WHERE r <= sz - (({_PP_NUM} * sz + {_PP_DEN - 1}) // {_PP_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.tk = b.tk AND a.lang = b.lang AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(da.toks, db.toks)) AS n_inter,
         len(da.toks) AS n_a, len(db.toks) AS n_b
  FROM cand c
  JOIN d da ON da.doc_id = c.doc_a
  JOIN d db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_a, n_b, n_inter,
       CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
FROM pairs
WHERE n_inter * {_PP_DEN} >= {_PP_NUM} * (n_a + n_b - n_inter)
ORDER BY doc_a, doc_b
""",
)
def q152_prefix_filter_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set similarity join via prefix filtering (PPJoin,
    Xiao et al. WWW'08) — the *deterministic* complement to the MinHash
    families: no probabilistic recall loss, yet never all-pairs. Tokens
    in each document are ordered rarest-first (global df asc, token asc
    tie-break); two sets with Jaccard ≥ t must share at least one token
    in their first (sz − ⌈t·sz⌉ + 1) tokens, so the candidate join is an
    equi-join on *prefix* tokens only — and prefix tokens are by
    construction the rare ones, which caps per-token fan-out (the hot
    stop-word never appears in a prefix). All thresholds are integer
    ratios (t = 3/5): ceil via (3·sz+4) div 5, verify via cross-multiply
    — no float enters any filter, so both engines cut identically.

    Scale shape: token explode → (token) df count (word-count shuffle) →
    per-doc rank window (doc-keyed, bounded by doc length) → prefix
    self-equi-join with PPJoin's position filter inside the join
    condition (integer ubound on the achievable intersection, subsumes
    the length filter; lossless, see inline proof) → array_intersect
    verify on the surviving candidate pairs (JVM-side). At 100 TB the
    df relation is vocabulary-sized and the candidate count is sum over
    prefix tokens of (occupancy choose 2) — governed by rare-token
    occupancy, not corpus size squared — with the position filter
    discarding size-incompatible and late-prefix collisions before the
    distinct."""
    # repartition first (same rationale as q33/q56): the fixture is one
    # parquet file = one input split, so the tokenize + array_distinct
    # that feeds everything below would otherwise build — and cache —
    # on a single core/partition
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = docs.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("toks")
    ).persist()
    # sz comes free from the array — one window (rank) instead of two
    tok = d.select(
        "doc_id", "lang", F.size("toks").alias("sz"), F.explode("toks").alias("tk")
    )
    df_rel = tok.groupBy("tk").agg(F.count("*").alias("df"))
    w_rank = W.partitionBy("doc_id").orderBy("df", "tk")
    ranked = tok.join(df_rel, "tk").withColumn("r", F.row_number().over(w_rank))
    # persist: the self-join consumes this relation TWICE and the final
    # orderBy's range-partitioning sample pass re-executes its input
    # once more — un-persisted, the explode→df-join→rank-window subtree
    # ran ~4x (65 s at sf0.1; 5 s persisted). The relation is prefix
    # tokens only (~40% of the token explode), MEMORY_AND_DISK so a
    # 100 TB corpus spills instead of OOMing — and at that scale the
    # terminal global sort would be dropped anyway (results land
    # partitioned; the sort exists for the deterministic-output
    # convention the oracle compare uses).
    prefix = (
        ranked.filter(
            F.col("r")
            <= F.col("sz")
            - F.expr(f"({_PP_NUM} * sz + {_PP_DEN - 1}) div {_PP_DEN}")
            + 1
        )
        .select("doc_id", "lang", "tk", "r", "sz")
        .persist()
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        "tk",
        F.col("r").alias("r_a"),
        F.col("sz").alias("sz_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        "tk",
        F.col("r").alias("r_b"),
        F.col("sz").alias("sz_b"),
    )
    # PPJoin position filter (lossless, so the oracle stays untouched):
    # for a shared token at 1-based ranks (r_a, r_b) the intersection is
    # bounded by min(r_a-1, r_b-1) common tokens before it, the token
    # itself, and min(sz_a-r_a, sz_b-r_b) after — i.e. ubound =
    # min(r_a, r_b) + min(sz_a-r_a, sz_b-r_b). J ≥ 3/5 needs
    # 8·n_inter ≥ 3·(sz_a+sz_b) (the verify's cross-multiply), so any
    # occurrence with 8·ubound < 3·(sz_a+sz_b) cannot belong to a
    # qualifying pair; a true pair passes at EVERY shared occurrence
    # (ubound ≥ actual n_inter), so no candidate is lost. The r=1 case
    # degenerates to the classic length filter 5·min(sz) ≥ 3·max(sz),
    # which this subsumes. Cuts the verify-stage fan-out without
    # touching recall — the dominant cost at scale is array_intersect
    # over candidates, and this prunes candidates with integer
    # arithmetic inside the join.
    ubound = F.least(F.col("r_a"), F.col("r_b")) + F.least(
        F.col("sz_a") - F.col("r_a"), F.col("sz_b") - F.col("r_b")
    )
    cand = (
        a.join(b, on="tk")
        .filter(
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (
                ubound * (_PP_NUM + _PP_DEN)
                >= _PP_NUM * (F.col("sz_a") + F.col("sz_b"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = d.select("doc_id", "toks")
    pairs = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size("ta").alias("n_a"),
            F.size("tb").alias("n_b"),
            F.size(F.array_intersect("ta", "tb")).alias("n_inter"),
        )
    )
    out = (
        pairs.filter(
            F.col("n_inter") * _PP_DEN
            >= _PP_NUM * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        # persist the VERIFIED pairs before the terminal sort: orderBy's
        # range-partitioner sample pass otherwise re-executes the whole
        # candidate-verify subtree (the array_intersect over millions of
        # candidate pairs — the query's dominant, allocation-heavy stage;
        # it ran twice per terminal action, measured ~2× wall at sf0.1 in
        # the round-15 q152 re-timing, SCALING.md). The persisted relation
        # is the 6-small-column RESULT, far smaller than its inputs;
        # MEMORY_AND_DISK so a huge corpus spills instead of OOMing. At
        # 100 TB the sort is dropped anyway (deterministic-output test
        # convention), and this persist goes with it.
        .persist()
    )
    return out.orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q182 — incremental ingest dedup against a persisted signature store.
# ---------------------------------------------------------------------------
@query(
    "q182_incremental_store_dedup",
    oracle=f"""
WITH d3 AS (
    SELECT doc_id, {_SQL_SHL} AS shl FROM documents
),
mh AS (
    SELECT doc_id, {_sql_minhash_cols()}
    FROM d3
),
bands AS (
    SELECT doc_id, 0 AS band_idx,
           CAST(m0 AS VARCHAR)||'_'||m1||'_'||m2||'_'||m3 AS band_val FROM mh
    UNION ALL
    SELECT doc_id, 1, CAST(m4 AS VARCHAR)||'_'||m5||'_'||m6||'_'||m7 FROM mh
),
cand AS (
    SELECT DISTINCT b.doc_id, s.doc_id AS dup_of
    FROM bands b JOIN bands s
      ON b.band_idx = s.band_idx AND b.band_val = s.band_val
    WHERE b.doc_id % 2 = 1 AND s.doc_id % 2 = 0
),
sh AS (SELECT DISTINCT doc_id, unnest(shl) AS g FROM d3),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
jac AS (
    SELECT c.doc_id, c.dup_of, i.n_inter,
           i.n_inter / (na.n + nb.n - i.n_inter) AS jaccard
    FROM cand c
    JOIN (
        SELECT c2.doc_id, c2.dup_of, COUNT(*) AS n_inter
        FROM cand c2
        JOIN sh sa ON sa.doc_id = c2.doc_id
        JOIN sh sb ON sb.doc_id = c2.dup_of AND sa.g = sb.g
        GROUP BY 1, 2
    ) i ON i.doc_id = c.doc_id AND i.dup_of = c.dup_of
    JOIN sizes na ON na.doc_id = c.doc_id
    JOIN sizes nb ON nb.doc_id = c.dup_of
    WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= 0.8
),
best AS (
    SELECT doc_id, dup_of, jaccard,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY jaccard DESC, dup_of) AS rn
    FROM jac
)
SELECT o.doc_id,
       b.dup_of IS NOT NULL AS is_dup,
       b.dup_of,
       round(b.jaccard, 6) AS jac_r,
       TRUE AS replay_dup
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) o
LEFT JOIN (SELECT doc_id, dup_of, jaccard FROM best WHERE rn = 1) b
       ON b.doc_id = o.doc_id
ORDER BY o.doc_id
""",
)
def q182_incremental_store_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/incremental.py under the driver gate (previously
    unit-tested only): even doc_ids seed the persisted signature store,
    odd ids arrive as the ingest batch and are LSH-banded against the
    STORE (never against each other — O(batch), not O(corpus²)), with
    exact-jaccard verification and best-match selection. The same batch
    is then REPLAYED: because accepted signatures were appended, every
    batch doc must now be flagged duplicate (`replay_dup`) — at-least-once
    redelivery is idempotent, the property the reference's checkpointing
    exists to approximate (Proc:117-148). The oracle recomputes
    signatures, store-side banding, verification, and best-match
    tie-breaks in SQL; the replay law is pinned TRUE."""

    from kinesis_sample_spark.operators.incremental import (
        dedup_batch_against_store,
        init_signature_store,
    )

    # repartition first (q33/q56/q152 pattern): the fixture is one parquet
    # file = one input split, and the shingle + 8x-md5 minhash work both
    # the store init and each batch run would otherwise execute on a
    # single core (profiled: init_signature_store alone was 5.6 s at
    # sf0.1 in 1 task)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    store_path = scratch_dir(prefix="kss_sigstore_") + "/store"
    init_signature_store(docs.filter(F.col("doc_id") % 2 == 0), store_path)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    dups, _accepted = dedup_batch_against_store(spark, batch, store_path)
    replay_dups, _ = dedup_batch_against_store(
        spark, batch, store_path, append_accepted=False
    )
    out = (
        batch.select("doc_id")
        .join(
            dups.select("doc_id", "dup_of", F.round("jaccard", 6).alias("jac_r")),
            "doc_id",
            "left",
        )
        .join(
            replay_dups.select("doc_id", F.lit(True).alias("replay_dup")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            "jac_r",
            F.coalesce("replay_dup", F.lit(False)).alias("replay_dup"),
        )
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# q210 — priority-source canonical selection over boilerplate-prefix groups.
# ---------------------------------------------------------------------------
@query(
    "q210_priority_canonical",
    oracle="""
WITH g AS (
    SELECT doc_id, source, n_chars,
           md5(array_to_string(list_slice(string_split(text, ' '), 1, 3), ' '))
             AS prefix_hash,
           CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 WHEN 'src2' THEN 2
                ELSE 9 END AS priority
    FROM documents
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY prefix_hash
                              ORDER BY priority, n_chars DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY prefix_hash) AS n_members
    FROM g
)
SELECT prefix_hash, doc_id AS canonical_doc_id, source AS canonical_source,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1 AND n_members >= 2
ORDER BY canonical_doc_id
""",
)
def q210_priority_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-source canonical dedup: documents sharing a boilerplate
    prefix (first 3 tokens — the header-template grouping a crawler
    corpus needs) elect ONE survivor by source trust tier (curated
    src0 > src1 > src2 > everything else), tiebroken by length then
    doc_id. Complements q127 (cluster-based keep-longest): here the
    policy is *provenance-first*, the common choice when a curated dump
    and a crawl overlap — never keep the crawl copy of a curated doc.

    Scale: one shuffle on the prefix hash serves both the row_number and
    the group-size window (same partitioning); singleton groups are
    dropped after the window, so output is bounded by the duplicate
    population, and no text column survives past the hash projection."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3))
    priority = (
        F.when(F.col("source") == "src0", 0)
        .when(F.col("source") == "src1", 1)
        .when(F.col("source") == "src2", 2)
        .otherwise(9)
    )
    g = docs.select(
        "doc_id", "source", "n_chars",
        F.md5(prefix).alias("prefix_hash"),
        priority.alias("priority"),
    )
    wp = W.partitionBy("prefix_hash")
    ranked = g.select(
        "*",
        F.row_number()
        .over(wp.orderBy("priority", F.col("n_chars").desc(), "doc_id"))
        .alias("rn"),
        F.count("*").over(wp).alias("n_members"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "prefix_hash",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("source").alias("canonical_source"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
        .orderBy("canonical_doc_id")
    )
