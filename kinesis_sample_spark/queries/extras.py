"""Remaining surface fill-ins: set-op ALL variants, array functions,
extended string functions, and Levenshtein edit-distance near-dup (a
fifth dedup family — catches transposition/typo-level edits that
shingle-set methods under-weight).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.queries.dedup import sql_gram_bands


# ---------------------------------------------------------------------------
# q57 — bag-semantics set ops (UNION/INTERSECT/EXCEPT ALL).
# ---------------------------------------------------------------------------
@query(
    "q57_set_ops_all",
    oracle="""
WITH building AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     bigbal   AS (SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)
SELECT 'union_all' AS op, COUNT(*) AS n FROM (SELECT * FROM building UNION ALL SELECT * FROM bigbal) u
UNION ALL
SELECT 'intersect_all', COUNT(*) FROM (SELECT * FROM building INTERSECT ALL SELECT * FROM bigbal) i
UNION ALL
SELECT 'except_all', COUNT(*) FROM (SELECT * FROM building EXCEPT ALL SELECT * FROM bigbal) e
ORDER BY op
""",
)
def q57_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset semantics: duplicates carry multiplicity through the ops
    (nationkey is deliberately non-unique here, unlike q09's keys)."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    bigbal = cust.filter(F.col("c_acctbal") > 5000).select("c_nationkey")

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        count_of(building.unionAll(bigbal), "union_all")
        .unionByName(count_of(building.intersectAll(bigbal), "intersect_all"))
        .unionByName(count_of(building.exceptAll(bigbal), "except_all"))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# q58 — array-function surface over token arrays.
# ---------------------------------------------------------------------------
@query(
    "q58_array_ops",
    oracle="""
WITH t AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           list_distinct(string_split(a.text, ' ')) AS ta,
           list_distinct(string_split(b.text, ' ')) AS tb,
           string_split(a.text, ' ')[1] AS raw_first_a
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id < 50
)
SELECT doc_a, doc_b,
       coalesce(array_to_string(list_sort(list_intersect(ta, tb)), ' '), '') AS common,
       len(list_intersect(ta, tb)) AS n_common,
       len(list_distinct(list_concat(ta, tb))) AS n_union,
       coalesce(array_to_string(list_sort(list_filter(ta, x -> NOT list_contains(tb, x))),
                                ' '), '')
         AS only_a,
       raw_first_a AS first_tok_a,
       len(ta) AS n_ta
FROM t ORDER BY doc_a
""",
)
def q58_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_intersect/union/except/contains/element_at — result arrays
    are sorted on both sides because Spark and DuckDB produce set results
    in different internal orders (the *set* is the semantic), then joined
    to strings: the driver's pandas canonicalizer cannot sort/hash ndarray
    cells, so collection results ship as deterministic scalars."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("doc_a"),
        F.array_distinct(F.split("text", " ")).alias("ta"),
        # first token comes from the RAW split: DuckDB's list_distinct
        # reorders elements, so element [1] of the distinct arrays differs
        # between engines while the raw arrays agree
        F.element_at(F.split("text", " "), 1).alias("raw_first_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.array_distinct(F.split("text", " ")).alias("tb")
    )
    t = a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
    return (
        t.select(
            "doc_a",
            "doc_b",
            F.array_join(F.array_sort(F.array_intersect("ta", "tb")), " ").alias("common"),
            F.size(F.array_intersect("ta", "tb")).alias("n_common"),
            F.size(F.array_distinct(F.concat("ta", "tb"))).alias("n_union"),
            F.array_join(F.array_sort(F.array_except("ta", "tb")), " ").alias("only_a"),
            F.col("raw_first_a").alias("first_tok_a"),
            F.size("ta").alias("n_ta"),
        )
        .orderBy("doc_a")
    )


# ---------------------------------------------------------------------------
# q59 — extended string functions.
# ---------------------------------------------------------------------------
@query(
    "q59_string_extras",
    oracle="""
SELECT doc_id,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id,
       reverse(source) AS rev_source,
       translate(lang, 'aeiou', 'AEIOU') AS lang_caps_vowels,
       replace(source, 'src', 'source-') AS src_long,
       strpos(text, 'dup') AS dup_pos,
       left(text, 10) AS head10,
       right(text, 5) AS tail5,
       repeat(lang, 2) AS lang2
FROM documents
ORDER BY doc_id
""",
)
def q59_string_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pad/reverse/translate/replace/locate/left/right/repeat — all
    codegen'd JVM expressions with byte-identical semantics in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
            F.reverse("source").alias("rev_source"),
            F.translate("lang", "aeiou", "AEIOU").alias("lang_caps_vowels"),
            F.replace(F.col("source"), F.lit("src"), F.lit("source-")).alias("src_long"),
            F.locate("dup", F.col("text")).alias("dup_pos"),
            F.substring("text", 1, 10).alias("head10"),
            F.substring(F.col("text"), F.length("text") - 4, 5).alias("tail5"),
            F.repeat("lang", 2).alias("lang2"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q56 — Levenshtein edit-distance near-dup (5th dedup family).
# ---------------------------------------------------------------------------
@query(
    "q56_edit_distance_neardup",
    oracle=f"""
WITH g AS (
    SELECT doc_id, lang, n_chars // 16 AS len_bucket,
           list_distinct(list_transform(range(1, length(text) - 2),
                                        i -> substring(text, i, 4))) AS grams
    FROM documents
),
{sql_gram_bands()},
pairs AS (
    SELECT c.doc_a, c.doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           length(da.text) AS len_a, length(db.text) AS len_b
    FROM gcand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, edit_dist,
       1.0 - edit_dist / GREATEST(len_a, len_b) AS similarity
FROM pairs
WHERE 1.0 - edit_dist / GREATEST(len_a, len_b) >= 0.6
ORDER BY doc_a, doc_b
""",
)
def q56_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup. levenshtein is O(len²) per pair, so the
    candidate generation IS the operator at scale: pairs must share a
    (lang, 16-char-len-bucket) block AND a 2-of-8 minhash band over their
    char-4-gram sets (dedup.banded_block_candidates) — the block self-join
    is an equi-join on hash buckets, not all-pairs within the block, so an
    (en, popular-length) block of m docs costs ~m²·band-collision-rate
    (≈ 1% for unrelated docs) instead of m²/2 levenshtein evaluations.
    Catches character-level edits that set-based methods dilute; the
    gram-band prefilter keeps edit-similar docs because a small edit
    perturbs few 4-grams (the planted near-dups sit at gram-jaccard ≈
    0.9+, band-collision ≈ 1)."""
    from kinesis_sample_spark.queries.dedup import banded_block_candidates

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    g = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 16).cast("bigint").alias("len_bucket"),
        F.array_distinct(
            F.expr("transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))")
        ).alias("grams"),
    )
    texts = docs.select("doc_id", "text")
    pairs = (
        banded_block_candidates(g)
        .join(texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")), "doc_a")
        .join(texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").alias("edit_dist"),
            F.length("text_a").alias("len_a"),
            F.length("text_b").alias("len_b"),
        )
    )
    sim = F.lit(1.0) - F.col("edit_dist") / F.greatest("len_a", "len_b")
    # persist the (tiny) verified pair set before the global sort: the
    # range-partitioner's sampling pass otherwise re-runs the banding +
    # levenshtein pipeline a second time
    return (
        pairs.select("doc_a", "doc_b", "edit_dist", sim.alias("similarity"))
        .filter(F.col("similarity") >= 0.6)
        .persist()
        .orderBy("doc_a", "doc_b")
    )
