"""Adversarial checks for the round-9 operators: the clever formulations
(prefix-min skyline, distinct-value-CDF KS, Morton interleave) verified
against brute-force definitions on randomized small inputs — the same
guard style as test_operators.py's banded-dedup-vs-all-pairs check.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _skyline_spark(spark, rows):
    """The q192 formulation on arbitrary (key, size, price) rows."""
    part = spark.createDataFrame(rows, "p_partkey long, p_size int, p_retailprice double")
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("best_at_size"))
    wlarger = W.orderBy(F.desc("p_size")).rangeBetween(W.unboundedPreceding, -1)
    frontier = per_size.select(
        "p_size",
        "best_at_size",
        F.min("best_at_size").over(wlarger).alias("best_larger"),
    )
    out = (
        part.join(F.broadcast(frontier), "p_size")
        .where(
            (F.col("p_retailprice") <= F.col("best_at_size"))
            & (
                F.col("best_larger").isNull()
                | (F.col("p_retailprice") < F.col("best_larger"))
            )
        )
        .select("p_partkey")
    )
    return sorted(r.p_partkey for r in out.collect())


def test_skyline_prefix_min_equals_brute_force_dominance(spark):
    """q192's sort+prefix-min must equal the quadratic NOT EXISTS
    definition with textbook dominance (q dominates p iff q is >= on
    both dimensions and strictly better on at least one) — including
    duplicate sizes, duplicate prices (identical points survive
    together), and single-size corners. This caught the first-draft
    operator accepting parts tied with a strictly-larger part's price
    and parts undercut within their own size."""
    rng = random.Random(9)
    for trial in range(5):
        n = rng.choice([1, 3, 40, 120])
        rows = [
            (i, rng.randint(1, 8), float(rng.randint(1, 30)))
            for i in range(n)
        ]
        brute = sorted(
            k
            for k, s, p in rows
            if not any(
                s2 >= s and p2 <= p and (s2 > s or p2 < p)
                for _, s2, p2 in rows
            )
        )
        assert _skyline_spark(spark, rows) == brute, f"trial {trial}: {rows}"


def test_ks_distinct_value_cdf_equals_brute_force(spark):
    """The two-sample KS distinct-value pre-agg + cumulative window must equal the
    textbook sup-norm over the pooled sample, including heavy ties."""
    rng = random.Random(17)
    for trial in range(4):
        a = [float(rng.randint(0, 9)) for _ in range(rng.randint(5, 60))]
        b = [float(rng.randint(3, 12)) for _ in range(rng.randint(5, 60))]
        pooled = sorted(set(a) | set(b))
        brute = max(
            abs(
                sum(v <= t for v in a) / len(a)
                - sum(v <= t for v in b) / len(b)
            )
            for t in pooled
        )
        rows = [(v, "a") for v in a] + [(v, "b") for v in b]
        df = spark.createDataFrame(rows, "value double, g string")
        pts = df.groupBy("value").agg(
            F.sum((F.col("g") == "a").cast("bigint")).alias("ca"),
            F.sum((F.col("g") == "b").cast("bigint")).alias("cb"),
        )
        wc = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
        d = (
            pts.select(
                F.sum("ca").over(wc).alias("ca"), F.sum("cb").over(wc).alias("cb")
            )
            .agg(
                F.max(
                    F.abs(F.col("ca") / len(a) - F.col("cb") / len(b))
                ).alias("d")
            )
            .collect()[0]
            .d
        )
        assert math.isclose(d, brute, rel_tol=0, abs_tol=1e-12), f"trial {trial}"


def test_zorder_interleave_bijective_and_monotone_blocks(spark):
    """The q196 Morton expression must be a bijection on [0,256)² (no
    two key pairs share a z-value) and each z-bucket (z >> 12) must
    decode back to a 64x64 aligned tile — the property that makes
    per-bucket min/max file stats tight on BOTH dimensions."""
    from kinesis_sample_spark.queries.pipeline_ops import _Z_BITS

    def z_py(x, y):
        z = 0
        for i in range(_Z_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    seen = {}
    rng = random.Random(3)
    pts = [(rng.randrange(256), rng.randrange(256)) for _ in range(4000)]
    for x, y in pts:
        z = z_py(x, y)
        assert seen.setdefault(z, (x, y)) == (x, y)
        # top 4 z-bits interleave the top 2 bits of each coordinate:
        # reconstructing the 64x64 tile from the bucket must recover
        # exactly (x >> 6, y >> 6)
        bucket = z >> 12
        bx = sum(((bucket >> (2 * i)) & 1) << i for i in range(2))
        by = sum(((bucket >> (2 * i + 1)) & 1) << i for i in range(2))
        assert x >> 6 == bx and y >> 6 == by


def test_prefix_filter_simjoin_is_lossless_vs_all_pairs(spark):
    """q152's PPJoin prefix+position filters claim LOSSLESSNESS, and its
    DuckDB oracle replicates the same construction — so a bound bug
    would make both engines agree on the same missing pairs (the q192
    failure mode). Third implementation: Python all-pairs Jaccard over
    the full sf0.001 fixture (same-lang blocking, t = 3/5, distinct
    tokens) must produce exactly the pair set the pipeline emits."""
    import duckdb

    from kinesis_sample_spark.queries import load_registry

    reg = load_registry()
    got = {
        (r.doc_a, r.doc_b)
        for r in reg["q152_prefix_filter_simjoin"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    rows = duckdb.sql(
        "SELECT doc_id, lang, text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    docs = [(doc_id, lang, set(text.split(" "))) for doc_id, lang, text in rows]
    docs.sort()
    want = set()
    for i, (ida, la, ta) in enumerate(docs):
        for idb, lb, tb in docs[i + 1 :]:
            if la != lb:
                continue
            inter = len(ta & tb)
            union = len(ta) + len(tb) - inter
            if inter * 5 >= 3 * union:
                want.add((ida, idb))
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )
