"""Unit tests for custom operators and expression helpers."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kinesis_sample_spark.functions.hashing import seeded_md5_long
from kinesis_sample_spark.functions.shingles import shingle_array
from kinesis_sample_spark.operators.asof import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "l1"), (1, _ts("2024-01-01T12:00:00"), "l2"),
         (2, _ts("2024-01-01T09:00:00"), "l3")],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30:00"), "r1"), (1, _ts("2024-01-01T10:00:00"), "r2"),
         (1, _ts("2024-01-01T11:00:00"), "r3"), (2, _ts("2024-01-01T09:30:00"), "r4")],
        ["k", "ts", "rv"],
    )
    out = {
        (r["k"], r["lv"]): r["r_rv"]
        for r in asof_join(left, right, on="k").collect()
    }
    # inclusive: left@10:00 matches right@10:00 (not 09:30)
    assert out[(1, "l1")] == "r2"
    assert out[(1, "l2")] == "r3"
    assert out[(2, "l3")] is None  # right@09:30 is after left@09:00


def test_asof_join_exclusive(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T10:00:00"), "l1")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00:00"), "r1"), (1, _ts("2024-01-01T10:00:00"), "r2")],
        ["k", "ts", "rv"],
    )
    row = asof_join(left, right, on="k", inclusive=False).collect()[0]
    assert row["r_rv"] == "r1"  # strict <: the equal-ts right row is excluded


def test_asof_join_right_tie_determinism(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T10:00:00"), "l1")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00:00"), 5, "a"), (1, _ts("2024-01-01T09:00:00"), 9, "b")],
        ["k", "ts", "seq", "rv"],
    )
    row = asof_join(left, right, on="k").collect()[0]
    assert row["r_seq"] == 9  # max payload struct wins ties deterministically


def test_shingle_array_matches_naive(spark):
    df = spark.createDataFrame([("a b c d e",), ("x y",), ("p q r",)], ["text"])
    out = df.select(
        shingle_array(F.split("text", " ")).alias("fast"),
        F.expr(
            "CASE WHEN size(split(text,' ')) >= 3 THEN "
            "transform(sequence(1, size(split(text,' '))-2),"
            " i -> concat_ws(' ', slice(split(text,' '), i, 3))) "
            "ELSE array() END"
        ).alias("naive"),
    ).collect()
    for r in out:
        assert r["fast"] == r["naive"]


def test_seeded_hashes_differ_by_seed(spark):
    """Regression for the 2-arg-lambda bug: different seeds must yield
    different hash functions."""
    df = spark.createDataFrame([("token",)], ["t"])
    row = df.select(
        *[seeded_md5_long(F.col("t"), s).alias(f"h{s}") for s in range(4)]
    ).collect()[0]
    assert len({row[f"h{s}"] for s in range(4)}) == 4


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-transparent: identical rows to the plain
    equi-join, for both inner and left, including unmatched left rows."""
    from kinesis_sample_spark.operators.skew import salted_join

    left = spark.range(0, 500).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("lv")
    )  # key 0/1/2 each ~167 rows (0 is "hot" stand-in)
    right = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c"), (9, "z")], ["k", "rv"]
    )
    for how in ("inner", "left"):
        plain = left.join(right, "k", how)
        salted = salted_join(left, right, "k", how=how, salt_buckets=8)
        assert salted.exceptAll(plain).count() == 0, how
        assert plain.exceptAll(salted).count() == 0, how


def test_salted_join_rejects_unsupported_how(spark):
    from kinesis_sample_spark.operators.skew import salted_join
    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(spark.range(1), spark.range(1), "id", how="full_outer")


def test_approx_sketches_within_tolerance(spark):
    """q61's sketches have no oracle by design; pin their error bounds
    against the exact counterparts instead (HLL++ default rsd = 5%)."""
    from kinesis_sample_spark.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
        F.percentile("l_extendedprice", 0.5).alias("p50_exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.10
    assert abs(row.p50_approx - row.p50_exact) / row.p50_exact < 0.02


def test_contract_works_on_bare_session(spark):
    """The driver hands queries ITS session, not ours — load_table must
    self-heal missing confs (nanos-timestamp read, UTC, AQE). Simulated by
    clearing the critical conf and reloading events."""
    from kinesis_sample_spark.catalog import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load_table(spark, "/root/testdata/sf0.001", "events")
        assert df.count() == 1000
        assert dict(df.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_banded_dedup_recall_matches_all_pairs(spark):
    """The minhash-band blocking added to q33/q56 (and q32's 15-bit bands)
    is a candidate *prefilter* — it must not lose the planted near-dup
    pairs the all-pairs-in-block semantics find at sf0.01. Counts are
    pinned against the static fixture (verified against a DuckDB all-pairs
    run: q33=5, q56=4, q31=25 planted pairs)."""
    from kinesis_sample_spark.queries import load_registry

    reg = load_registry()
    sf = "/root/testdata/sf0.01"
    assert reg["q31_minhash_lsh"].fn(spark, sf).count() == 25
    assert reg["q33_chargram_jaccard"].fn(spark, sf).count() == 5
    assert reg["q56_edit_distance_neardup"].fn(spark, sf).count() == 4
    assert reg["q32_simhash_pairs"].fn(spark, sf).count() > 0


def test_countmin_never_underestimates(spark):
    """CMS invariant: min-over-rows of bucket counts >= true count for
    every token (collisions only ever add). Checked on the fixture corpus
    for the full vocabulary, not just the top-k the query outputs."""
    from kinesis_sample_spark.functions.hashing import seeded_md5_long
    from kinesis_sample_spark.queries.stats import _CMS_DEPTH, _CMS_WIDTH

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    out = exact
    ests = []
    for j in range(_CMS_DEPTH):
        cms_j = (
            toks.select((seeded_md5_long(F.col("tok"), j) % _CMS_WIDTH).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias(f"c{j}"))
        )
        out = (
            out.withColumn(f"b{j}", seeded_md5_long(F.col("tok"), j) % _CMS_WIDTH)
            .join(F.broadcast(cms_j), F.col(f"b{j}") == F.col("b"))
            .drop("b", f"b{j}")
        )
        ests.append(F.col(f"c{j}"))
    viol = out.filter(F.least(*ests) < F.col("exact_n")).count()
    assert viol == 0


def test_observe_metrics_match_aggregate(spark):
    """df.observe() piggybacks metrics on a real action — the in-band
    observability hook (A17's batch analogue; streaming reads it from the
    query's progress through streaming/observe.py). The observed sum/count
    must equal the same aggregate computed as a query."""
    from pyspark.sql import Observation

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    obs = Observation("ev")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s"))
    observed.write.mode("overwrite").format("noop").save()
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")).collect()[0]
    assert obs.get["n"] == row["n"] and obs.get["s"] == row["s"]
