"""Mergeable histogram quantile sketch over lineitem prices.

The scale story for quantiles at 100 TB is a *mergeable sketch*: each task
summarizes its partition into O(bins) counters, the counters merge
associatively (map-side partial aggregation — Catalyst's partial/final
hash aggregate IS the merge), and quantiles interpolate from the merged
histogram. Spark's built-in ``approx_percentile`` (already gated by q48)
hides the sketch; this operator exposes one whose every intermediate is
ENGINE-EXACT — integer bin counts plus deterministic double interpolation
— so the whole partial→merge→finalize pipeline sits under the value-hash
gate rather than behind an error bound.

Fixed-width histograms trade adaptivity for exact mergeability (KLL/TDigest
trade the opposite way); two passes (exact min/max, then binning) buy a
deterministic bin function at any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.queries import query

_BINS = 128
_PS = (0.25, 0.5, 0.9, 0.99)


@query(
    "q159_histogram_quantiles",
    oracle=f"""
WITH mm AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
         count(*) AS n,
         (max(l_extendedprice) - min(l_extendedprice)) / {_BINS} AS width
  FROM lineitem
),
binned AS (
  SELECT least({_BINS - 1},
               CAST(FLOOR((l_extendedprice - mm.mn) / mm.width) AS BIGINT)) AS bin,
         count(*) AS cnt
  FROM lineitem, mm GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cnt AS cum_before
  FROM binned
),
ps AS (SELECT CAST(unnest([{", ".join(str(p) for p in _PS)}]) AS DOUBLE) AS p),
tgt AS (
  SELECT ps.p, CAST(CEIL(ps.p * mm.n) AS BIGINT) AS rank_target FROM ps, mm
),
hit AS (
  SELECT t.p, t.rank_target, min(c.bin) AS bin_idx
  FROM tgt t JOIN cum c
    ON CAST(c.cum_before + c.cnt AS BIGINT) >= t.rank_target
  GROUP BY t.p, t.rank_target
)
SELECT h.p, h.rank_target, h.bin_idx,
       round(mm.mn + mm.width *
             (h.bin_idx + (h.rank_target - c.cum_before) * 1.0 / c.cnt), 6)
         AS approx_q
FROM hit h
JOIN cum c ON c.bin = h.bin_idx, mm
ORDER BY h.p
""",
)
def q159_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass histogram quantiles: (1) exact min/max/count (one tiny
    scalar aggregate, broadcast back); (2) integer bin counts — the
    mergeable sketch, built by partial+final hash aggregation so every
    executor contributes O(bins) rows to the shuffle regardless of data
    size; (3) driver-free finalize: cumulative counts over the ≤128-row
    histogram relation and linear interpolation inside the hit bin. Every
    count is an exact integer and the interpolation arithmetic is a fixed
    expression over identical doubles, so the sketch is bit-reproducible
    on 32 threads, 1000 executors, or DuckDB's serial scan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    mm = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count("*").alias("n"),
        ((F.max("l_extendedprice") - F.min("l_extendedprice")) / _BINS).alias(
            "width"
        ),
    )
    binned = (
        li.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.lit(_BINS - 1),
                F.floor((F.col("l_extendedprice") - F.col("mn")) / F.col("width")),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = binned.withColumn("cum_before", F.sum("cnt").over(w) - F.col("cnt"))
    ps = spark.createDataFrame([(p,) for p in _PS], "p double")
    tgt = ps.crossJoin(F.broadcast(mm)).select(
        "p", F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("rank_target")
    )
    hit = (
        tgt.join(
            cum, (F.col("cum_before") + F.col("cnt")).cast("bigint") >= F.col("rank_target")
        )
        .groupBy("p", "rank_target")
        .agg(F.min("bin").alias("bin_idx"))
    )
    return (
        hit.join(cum, F.col("bin") == F.col("bin_idx"))
        .crossJoin(F.broadcast(mm))
        .select(
            "p",
            "rank_target",
            "bin_idx",
            F.round(
                F.col("mn")
                + F.col("width")
                * (
                    F.col("bin_idx")
                    + (F.col("rank_target") - F.col("cum_before")) * 1.0 / F.col("cnt")
                ),
                6,
            ).alias("approx_q"),
        )
        .orderBy("p")
    )


# ---------------------------------------------------------------------------
# q177 — HLL sketch build / merge / estimate (DataSketches surface).
# ---------------------------------------------------------------------------
@query(
    "q177_hll_sketch_merge",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS merged8_within_5pct,
       TRUE AS merged3_within_5pct,
       TRUE AS direct_within_5pct,
       TRUE AS merge_paths_agree_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q177_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch laws of the DataSketches HLL surface
    (hll_sketch_agg / hll_union_agg / hll_sketch_estimate), gated as
    error-bound booleans — the guarantees the sketch actually makes:

    - bounded error on EVERY merge path: the direct sketch, an 8-way
      bucketed union, and a 3-way bucketed union must each estimate
      within 5% of the exact distinct count (lgConfigK=12 default ⇒
      ~1.6% rse; 5% ≈ 3σ), and the two union paths must agree with each
      other to the same tolerance — the property that makes
      pre-aggregated sketch columns in a 100 TB rollup table sound.

    Estimate EQUALITY across paths is deliberately not gated: it is not
    a law. Spark's sketch aggregate merges per-partition partial
    sketches through the HLL_4/HLL_8 gadget, whose dense-mode estimate
    depends on the merge structure — at sf0.1 the same 1500-distinct id
    set yields 1480-1500 depending on which rows shared a partition
    (sparse mode masked this at sf0.01, where insertion is exact; found
    by the round-6 sf0.1 parity sweep). Hashing an estimate, or an
    equality between two estimates, would make the result depend on
    file layout and shuffle partitioning. The bounds hold at ~3 sigma
    regardless of layout.

    The oracle computes the exact side and pins the four law-booleans
    to TRUE — same pattern as q61's error-bound gate: the approximation
    itself is checked, not reproduced. Shape: aggregation passes that
    shuffle only sketch bytes (fixed KB per group), never rows."""
    from kinesis_sample_spark.catalog import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(
        """
WITH per_b8 AS (
  SELECT event_type, user_id % 8 AS b, hll_sketch_agg(user_id) AS sk
  FROM events GROUP BY 1, 2
),
per_b3 AS (
  SELECT event_type, user_id % 3 AS b, hll_sketch_agg(user_id) AS sk
  FROM events GROUP BY 1, 2
),
m8 AS (
  SELECT event_type, hll_sketch_estimate(hll_union_agg(sk)) AS est8
  FROM per_b8 GROUP BY 1
),
m3 AS (
  SELECT event_type, hll_sketch_estimate(hll_union_agg(sk)) AS est3
  FROM per_b3 GROUP BY 1
),
direct AS (
  SELECT event_type, hll_sketch_estimate(hll_sketch_agg(user_id)) AS est_direct,
         count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT d.event_type, d.n_exact,
       abs(m8.est8 - d.n_exact) <= 0.05 * d.n_exact AS merged8_within_5pct,
       abs(m3.est3 - d.n_exact) <= 0.05 * d.n_exact AS merged3_within_5pct,
       abs(d.est_direct - d.n_exact) <= 0.05 * d.n_exact AS direct_within_5pct,
       abs(m8.est8 - m3.est3) <= 0.05 * d.n_exact AS merge_paths_agree_5pct
FROM direct d JOIN m8 USING (event_type) JOIN m3 USING (event_type)
ORDER BY d.event_type
"""
    )


# ---------------------------------------------------------------------------
# q183 — bitmap-aggregate exact distinct counting.
# ---------------------------------------------------------------------------
@query(
    "q183_bitmap_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_distinct_bitmap,
       count(DISTINCT user_id) AS n_exact
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q183_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct counting via Spark's bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_count): ids bucket into fixed-width bitmaps, per-bucket bitmaps
    OR-merge associatively, and the summed popcount is EXACT — the
    pre-aggregable distinct-count structure warehouses materialize in
    rollup tables where approx sketches (q177) aren't acceptable and
    COUNT(DISTINCT) can't pre-aggregate. The oracle's exact distinct must
    equal the bitmap path bit-for-bit, emitted twice so the hash compares
    the two columns independently. Shuffle volume: one bitmap (≤4KB) per
    (group, bucket), never the id stream."""
    from kinesis_sample_spark.catalog import register_views

    register_views(spark, sf_dir, "events")
    return spark.sql(
        """
WITH per_bucket AS (
  SELECT event_type, bitmap_bucket_number(user_id) AS bucket,
         bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
  FROM events GROUP BY 1, 2
),
via_bitmap AS (
  SELECT event_type, CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_distinct_bitmap
  FROM per_bucket GROUP BY 1
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT b.event_type, b.n_distinct_bitmap, e.n_exact
FROM via_bitmap b JOIN exact e USING (event_type)
ORDER BY b.event_type
"""
    )


# ---------------------------------------------------------------------------
# Round-14 family B — sketch-merge ALGEBRA under adversarial layouts.
# q177/q244 prove merge laws on natural layouts; these four prove the
# layout-independence that makes pre-aggregated sketch columns sound in
# a 100 TB rollup: a re-partitioned, skewed, or re-ordered build must
# yield the same merged structure.
# ---------------------------------------------------------------------------

_CMS14_DEPTH = 3
_CMS14_WIDTH = 1024
_CMS14_TOP = 10


@query(
    "q294_hll_merge_invariance",
    oracle="""
SELECT l_returnflag AS flag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
       TRUE AS layouts_agree_2pct,
       TRUE AS union_within_5pct
FROM lineitem
GROUP BY 1
ORDER BY 1
""",
)
def q294_hll_merge_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL merge near-invariance under adversarial layouts: three
    partitionings of the same lineitem scan (natural orderkey ranges, a
    90 %-skewed salt, reversed ranges) are sketched per (flag, group)
    and unioned per flag; the three estimates must sit within a 2 % band
    of each other (``layouts_agree_2pct``) and the natural path within
    5 % of exact (``union_within_5pct``, the q177 bound).

    Why a band and not equality: the union REGISTERS are an exact
    layout-independent max, but the ESTIMATE is not a pure function of
    the registers — a union that absorbed a single sketch keeps that
    sketch's HIP accumulator, while multi-sketch unions fall back to the
    composite estimator, so layouts whose groups collapse differently
    read the same registers through different estimators (measured at
    sf0.001: spreads up to 0.9 % of exact; r6 found the same effect
    dense-mode at sf0.1 for q177). Gating equality would hash-gate an
    implementation accident; the 2 % band gates the actual guarantee a
    100 TB rollup relies on — re-layout the build, the answer stays put.
    The booleans (not the raw estimates) cross the hash gate, so
    within-band merge-order jitter is invisible to the driver.

    Scale: each layout is one map-side-combined aggregation shuffling
    fixed-KB sketch bytes per (flag, group); groups per layout are
    bounded by the salt/range arithmetic, not by rows."""
    from kinesis_sample_spark.catalog import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
WITH nat AS (
  SELECT l_returnflag, l_orderkey DIV 1024 AS pid,
         hll_sketch_agg(l_orderkey) AS sk
  FROM lineitem GROUP BY 1, 2
),
skew AS (
  SELECT l_returnflag,
         CASE WHEN l_orderkey % 10 < 9 THEN 0
              ELSE 1 + (l_orderkey % 7) END AS pid,
         hll_sketch_agg(l_orderkey) AS sk
  FROM lineitem GROUP BY 1, 2
),
rev AS (
  SELECT l_returnflag, -(l_orderkey DIV 4096) AS pid,
         hll_sketch_agg(l_orderkey) AS sk
  FROM lineitem GROUP BY 1, 2
),
en AS (SELECT l_returnflag, hll_sketch_estimate(hll_union_agg(sk)) AS e
       FROM nat GROUP BY 1),
es AS (SELECT l_returnflag, hll_sketch_estimate(hll_union_agg(sk)) AS e
       FROM skew GROUP BY 1),
er AS (SELECT l_returnflag, hll_sketch_estimate(hll_union_agg(sk)) AS e
       FROM rev GROUP BY 1),
ex AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact
       FROM lineitem GROUP BY 1)
SELECT ex.l_returnflag AS flag, ex.n_exact,
       greatest(en.e, es.e, er.e) - least(en.e, es.e, er.e)
         <= 0.02 * ex.n_exact AS layouts_agree_2pct,
       abs(en.e - ex.n_exact) <= 0.05 * ex.n_exact AS union_within_5pct
FROM ex JOIN en USING (l_returnflag) JOIN es USING (l_returnflag)
        JOIN er USING (l_returnflag)
ORDER BY flag
"""
    )


def _cms14_oracle() -> str:
    from kinesis_sample_spark.functions.hashing import seeded_md5_long_sql

    cells = "\n".join(
        f"c{j} AS (SELECT {seeded_md5_long_sql('item', j)} % {_CMS14_WIDTH} AS b, "
        f"CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1),"
        for j in range(_CMS14_DEPTH)
    )
    joins = "\n".join(
        f"JOIN c{j} ON c{j}.b = {seeded_md5_long_sql('t.item', j)} % {_CMS14_WIDTH}"
        for j in range(_CMS14_DEPTH)
    )
    least = "LEAST(" + ", ".join(f"c{j}.c" for j in range(_CMS14_DEPTH)) + ")"
    return f"""
WITH items AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS item FROM lineitem
),
{cells}
top AS (
  SELECT item, CAST(count(*) AS BIGINT) AS exact_n
  FROM items GROUP BY item
  ORDER BY exact_n DESC, item LIMIT {_CMS14_TOP}
)
SELECT t.item, t.exact_n, {least} AS cms_n, {least} - t.exact_n AS overcount,
       TRUE AS merged_equals_global, TRUE AS overcount_nonneg
FROM top t
{joins}
ORDER BY exact_n DESC, item
"""


@query("q295_countmin_merge_skew", oracle=_cms14_oracle())
def q295_countmin_merge_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min merge law under skew: CMS cells are plain integer
    counters, so merging per-group sketches (cellwise +) must EXACTLY
    equal the sketch built in one pass — sum is associative whatever the
    grouping. The Spark side builds both: a global 3×1024 sketch over
    lineitem supplier keys, and per-group sketches under a deliberately
    skewed grouping (90 % of rows share group 0 via orderkey salt),
    merged by summing cells. ``merged_equals_global`` gates cellwise
    equality (count of differing cells == 0 after a full outer join);
    the oracle pins it TRUE, so any plumbing drift breaks the hash.
    Output rows are the exact top-10 suppliers with their merged-sketch
    estimate and the (provably non-negative) overcount.

    q132 gates the one-pass build; this gates the DISTRIBUTED build —
    the partial-aggregate/merge split a 1000-executor job actually
    executes, made visible as data.

    Scale: per-task output is capped at depth·width cells regardless of
    rows or skew (that is the point of a CMS); the skewed grouping shows
    the cap holds even when one group carries 90 % of the fact. The
    finished sketch (3072 cells) broadcasts to score candidates."""
    from kinesis_sample_spark.functions.hashing import seeded_md5_long

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_suppkey").cast("string").alias("item"),
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
        .otherwise(1 + F.col("l_orderkey") % 7)
        .alias("gid"),
    )
    exact = (
        items.groupBy("item")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "item")
        .limit(_CMS14_TOP)
    )
    # one scalar law-audit across all depths: 0 differing cells
    n_diff_cols = []
    out = exact
    ests = []
    for j in range(_CMS14_DEPTH):
        b_j = (seeded_md5_long(F.col("item"), j) % _CMS14_WIDTH).alias("b")
        per_group = (
            items.select(b_j, "gid")
            .groupBy("b", "gid")
            .agg(F.count("*").alias("c"))
        )
        merged_j = per_group.groupBy("b").agg(F.sum("c").alias(f"m{j}"))
        global_j = items.select(b_j).groupBy("b").agg(F.count("*").alias(f"g{j}"))
        diff_j = (
            merged_j.join(global_j, "b", "full_outer")
            .select(
                F.sum(
                    (
                        F.coalesce(F.col(f"m{j}"), F.lit(-1))
                        != F.coalesce(F.col(f"g{j}"), F.lit(-2))
                    ).cast("long")
                ).alias(f"d{j}")
            )
        )
        n_diff_cols.append(diff_j)
        out = (
            out.withColumn(f"b{j}", seeded_md5_long(F.col("item"), j) % _CMS14_WIDTH)
            .join(F.broadcast(merged_j), F.col(f"b{j}") == F.col("b"), "inner")
            .drop("b", f"b{j}")
        )
        ests.append(F.col(f"m{j}"))
    law = n_diff_cols[0]
    for d in n_diff_cols[1:]:
        law = law.crossJoin(d)
    law = law.select(
        (sum(F.col(f"d{j}") for j in range(_CMS14_DEPTH)) == 0).alias(
            "merged_equals_global"
        )
    )
    cms_n = F.least(*ests)
    return (
        out.crossJoin(F.broadcast(law))
        .select(
            "item",
            "exact_n",
            cms_n.alias("cms_n"),
            (cms_n - F.col("exact_n")).alias("overcount"),
            "merged_equals_global",
            (cms_n - F.col("exact_n") >= 0).alias("overcount_nonneg"),
        )
        .orderBy(F.desc("exact_n"), "item")
    )


_HM_BINS = 16

_SQL_NATION_HIST = f"""g AS (
    SELECT MIN(c_acctbal) AS mn,
           (MAX(c_acctbal) - MIN(c_acctbal)) / {_HM_BINS}.0 AS w
    FROM customer
),
binned AS (
    SELECT n.n_regionkey AS region, c.c_nationkey AS nat,
           CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
           CAST(CASE WHEN g.w = 0 THEN 0
                     ELSE LEAST(FLOOR((c.c_acctbal - g.mn) / g.w),
                                {_HM_BINS - 1})
                END AS INTEGER) AS bin
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey, g
),
nation_hist AS (
    SELECT region, nat, bin, CAST(COUNT(*) AS BIGINT) AS cnt,
           SUM(bal) AS amt
    FROM binned GROUP BY region, nat, bin
)"""


@query(
    "q296_histogram_merge_commutativity",
    oracle=f"""
WITH {_SQL_NATION_HIST}
SELECT region, bin,
       CAST(SUM(cnt) AS BIGINT) AS cnt_asc,
       CAST(SUM(cnt) AS BIGINT) AS cnt_desc,
       {sql_double('SUM(amt)')} AS amt_asc,
       {sql_double('SUM(amt)')} AS amt_desc,
       TRUE AS merge_commutes
FROM nation_hist
GROUP BY region, bin
ORDER BY region, bin
""",
)
def q296_histogram_merge_commutativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram-merge fold is commutative, proven by actually
    folding both ways: per-nation equi-width histograms over GLOBAL bin
    edges (q244's alignment recipe) are rolled up to region level by an
    EXPLICIT sequential fold over the nation list — once in ascending
    and once in descending nation-key order (``F.aggregate`` over a
    sorted / reversed array of per-nation cells). Integer counts and
    DECIMAL(12,2) amounts make both folds exact, so the two orders must
    agree bin-for-bin; the oracle computes the order-free SUM and pins
    ``merge_commutes`` TRUE — if either fold ever diverged (e.g. someone
    "optimizes" the amounts to a double accumulator, where + is NOT
    associative), three columns break at once.

    q244 gates WHAT the merged sketch estimates; this gates HOW merging
    is allowed to happen — any order, any grouping, same cells — which
    is the property that lets a 1000-executor rollup combine partials in
    completion order instead of a deterministic reduce tree.

    Scale: the fold runs over per-(region, bin) arrays of ≤25 nation
    cells — driver-free, bounded by the dimension, not the fact; the
    only full-fact work is the two-pass global-edge histogram build."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    g = cust.agg(
        F.min("c_acctbal").alias("mn"),
        ((F.max("c_acctbal") - F.min("c_acctbal")) / F.lit(float(_HM_BINS))).alias(
            "w"
        ),
    )
    cn = cust.join(
        F.broadcast(nation.select("n_nationkey", "n_regionkey")),
        cust.c_nationkey == F.col("n_nationkey"),
    )
    binned = cn.crossJoin(F.broadcast(g)).select(
        F.col("n_regionkey").alias("region"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        F.when(F.col("w") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("c_acctbal") - F.col("mn")) / F.col("w")),
                F.lit(_HM_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    nation_hist = binned.groupBy("region", "nat", "bin").agg(
        F.count("*").alias("cnt"),
        F.sum("bal").alias("amt"),
    )
    cells = nation_hist.groupBy("region", "bin").agg(
        F.sort_array(
            F.collect_list(F.struct("nat", "cnt", "amt"))
        ).alias("asc_cells")
    )
    # decimal accumulator wide enough that the fold cannot overflow:
    # SUM(decimal(12,2)) over ≤25 cells of sums over the fact.
    zero_amt = F.lit(0).cast("decimal(22,2)")

    def _fold_cnt(arr):
        return F.aggregate(
            arr, F.lit(0).cast("bigint"), lambda acc, c: acc + c["cnt"]
        )

    def _fold_amt(arr):
        # re-narrow after each add: decimal + widens precision by 1, which
        # would otherwise change the accumulator type mid-fold. 22,2 is
        # unreachable by the data (sum of ≤25 nation sums of 12,2 sums),
        # so the narrowing is lossless.
        return F.aggregate(
            arr,
            zero_amt,
            lambda acc, c: (acc + c["amt"].cast("decimal(22,2)")).cast(
                "decimal(22,2)"
            ),
        )

    asc = F.col("asc_cells")
    desc = F.reverse(F.col("asc_cells"))
    cnt_asc = _fold_cnt(asc)
    cnt_desc = _fold_cnt(desc)
    amt_asc = _fold_amt(asc).cast("double")
    amt_desc = _fold_amt(desc).cast("double")
    return cells.select(
        "region",
        "bin",
        cnt_asc.alias("cnt_asc"),
        cnt_desc.alias("cnt_desc"),
        amt_asc.alias("amt_asc"),
        amt_desc.alias("amt_desc"),
        ((cnt_asc == cnt_desc) & (amt_asc == amt_desc)).alias("merge_commutes"),
    ).orderBy("region", "bin")


@query(
    "q297_sample_union_stability",
    oracle=f"""
WITH tagged AS (
    SELECT CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END AS src,
           ((('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) % 100 < 10) AS sampled
    FROM events
)
SELECT src,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled_union_first,
       CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled_split_first,
       TRUE AS distributes_over_union
FROM tagged
GROUP BY src
ORDER BY src
""",
)
def q297_sample_union_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold sampling distributes over union:
    sample(A ∪ B) == sample(A) ∪ sample(B), because membership is a pure
    per-row predicate (md5(key) % 100 < 10 — q54's recipe), not a
    rate-targeting draw like ``df.sample``. The Spark side actually
    computes both plans — filter the unioned events, and filter each
    event_id-parity shard separately then union — and gates their
    per-source sampled counts equal. The oracle evaluates the same md5
    predicate once and pins ``distributes_over_union`` TRUE.

    This is the property that makes sampled pipelines SHARDABLE: a
    1000-file corpus can be sampled file-by-file, in any order, across
    any number of jobs, and the concatenation is exactly the sample of
    the whole — no coordination, no seed bookkeeping, reproducible under
    retries and re-layouts (the same reason q54 rejects ``df.sample``).

    Scale: two map-only filters and a pair of bounded aggregates; the
    union is narrow (no shuffle) and the law holds per shard, so the
    audit itself shards the same way."""
    from kinesis_sample_spark.functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    src = F.when(F.col("event_id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd"))
    sampled = md5_long(F.col("event_id").cast("string")) % 100 < 10
    # plan 1: union first (the whole table IS the union of the shards)
    union_first = (
        ev.select(src.alias("src"), sampled.cast("long").alias("s"))
        .groupBy("src")
        .agg(F.count("*").alias("n_rows"), F.sum("s").alias("n_union_first"))
    )
    # plan 2: split first, sample each shard independently, then union
    even = ev.filter(F.col("event_id") % 2 == 0).filter(sampled)
    odd = ev.filter(F.col("event_id") % 2 == 1).filter(sampled)
    split_first = (
        even.select(F.lit("even").alias("src"))
        .unionByName(odd.select(F.lit("odd").alias("src")))
        .groupBy("src")
        .agg(F.count("*").alias("n_split_first"))
    )
    return (
        union_first.join(split_first, "src")
        .select(
            "src",
            "n_rows",
            F.col("n_union_first").alias("n_sampled_union_first"),
            F.col("n_split_first").alias("n_sampled_split_first"),
            (F.col("n_union_first") == F.col("n_split_first")).alias(
                "distributes_over_union"
            ),
        )
        .orderBy("src")
    )


# ---------------------------------------------------------------------------
# q315 — Misra-Gries heavy hitters: the merge LAW, gated per true heavy
# hitter (round 14).
# ---------------------------------------------------------------------------
_MG_K = 64  # counters per summary
_MG_G = 32  # partition-groups (md5-assigned — layout-INdependent)
_MG_M = 1000000  # zipf inverse-CDF range


def _mg_oracle() -> str:
    from kinesis_sample_spark.functions.hashing import md5_long_sql

    hi = md5_long_sql("'mgitem:' || CAST(event_id AS VARCHAR)")
    hg = md5_long_sql("'mggrp:' || CAST(event_id AS VARCHAR)")
    return f"""
WITH items AS (
  SELECT CASE WHEN ({hi} % {_MG_M}) = 0 THEN {_MG_M}
              ELSE CAST(floor({_MG_M}.0 / (({hi} % {_MG_M}) + 1)) AS BIGINT) + 1
         END AS item,
         {hg} % {_MG_G} AS g
  FROM events
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM items),
gc AS (
  SELECT g, item, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY g, item
),
lam AS (
  SELECT g, COALESCE(MAX(CASE WHEN rk = {_MG_K + 1} THEN c END), 0) AS lam
  FROM (SELECT g, item, c,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, item) AS rk
        FROM gc) t
  GROUP BY g
),
mg AS (
  SELECT gc.item, gc.c - l.lam AS est
  FROM gc JOIN lam l ON l.g = gc.g
  WHERE gc.c > l.lam
),
merged AS (SELECT item, CAST(SUM(est) AS BIGINT) AS s FROM mg GROUP BY item),
mu AS (
  SELECT COALESCE(MAX(CASE WHEN rk = {_MG_K + 1} THEN s END), 0) AS mu
  FROM (SELECT item, s, ROW_NUMBER() OVER (ORDER BY s DESC, item) AS rk
        FROM merged) t
),
final AS (
  SELECT item, s - (SELECT mu FROM mu) AS est FROM merged
  WHERE s > (SELECT mu FROM mu)
),
sz AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_summary FROM final),
exact AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY item)
SELECT e.item, e.c AS exact_count,
       COALESCE(f.est, 0) AS mg_estimate,
       (f.item IS NOT NULL) AS in_summary,
       (e.c - COALESCE(f.est, 0)) * {_MG_K + 1} <= (SELECT n FROM nn)
         AS within_bound,
       COALESCE(f.est, 0) <= e.c AS no_overestimate,
       (SELECT n_summary FROM sz) <= {_MG_K} AS summary_size_ok
FROM exact e LEFT JOIN final f ON f.item = e.item
WHERE e.c * {_MG_K + 1} > (SELECT n FROM nn)
ORDER BY e.item
"""


@query("q315_misra_gries_bounds", oracle=_mg_oracle())
def q315_misra_gries_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters with the MERGE guarantee gated per
    true heavy hitter: k=64 counters per partition-group summary,
    groups merged by summing surviving counters and re-truncating at
    the (k+1)-th largest (Agarwal et al., "Mergeable Summaries"). For
    every item with exact count > n/(k+1), the law gated is the
    textbook inequality: the item IS in the merged summary, its
    estimate never exceeds the exact count, and the undercount is at
    most n/(k+1) — checked in exact integer math
    ((exact - est) * (k+1) <= n), never via doubles.

    Two determinism choices make a famously order-dependent sketch
    hash-gateable: (a) the per-group summary is the ORDER-FREE offline
    equivalent of MG — subtract the (k+1)-th largest per-group count
    from every count and keep the positives (the fixpoint every MG
    arrival order converges to, ties broken by item), and (b) groups
    are md5-assigned from row data, not physical partitions, so the
    merged summary is identical under any layout (contrast q294, where
    the HLL ESTIMATE is layout-dependent and only the law crosses the
    gate — here both the law AND the estimates do).

    The fixture columns are deliberately near-uniform (max user count
    ~n/115 — no true heavy hitter anywhere), so the item stream is
    synthesized zipfian by inverse-CDF over the md5 uniform:
    item = floor(M/(u+1))+1 gives P(item=i) ~ 1/(i(i-1)) — item 2
    carries ~half the stream, and the true-heavy-hitter set
    {i: P > 1/(k+1)} is the same ~8 items at EVERY scale factor
    (a fixed-cardinality column would make MG exact and the law
    vacuous; a uniform one would make it empty).

    Scale: per-group counts partial-aggregate; summaries are <=k rows
    per group (32 groups x 64 counters merge in one tiny stage); the
    exact-count audit rides the same shuffle. At 100 TB only the
    summary path runs; the audit column exists to gate the law."""
    from kinesis_sample_spark.functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    u = (
        md5_long(F.concat(F.lit("mgitem:"), F.col("event_id").cast("string")))
        % _MG_M
    )
    item = F.when(u == 0, F.lit(_MG_M).cast("bigint")).otherwise(
        F.floor(F.lit(float(_MG_M)) / (u + 1).cast("double")).cast("bigint") + 1
    )
    grp = (
        md5_long(F.concat(F.lit("mggrp:"), F.col("event_id").cast("string")))
        % _MG_G
    )
    items = ev.select(item.alias("item"), grp.alias("g"))
    gc = items.groupBy("g", "item").agg(F.count("*").alias("c"))
    rk = F.row_number().over(W.partitionBy("g").orderBy(F.col("c").desc(), "item"))
    lam = (
        gc.select("g", "c", rk.alias("rk"))
        .groupBy("g")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rk") == _MG_K + 1, F.col("c"))), F.lit(0)
            ).alias("lam")
        )
    )
    mg = (
        gc.join(F.broadcast(lam), "g")
        .filter(F.col("c") > F.col("lam"))
        .select("item", (F.col("c") - F.col("lam")).alias("est"))
    )
    merged = mg.groupBy("item").agg(F.sum("est").alias("s"))
    mu = (
        merged.select(
            "s", F.row_number().over(W.orderBy(F.col("s").desc(), "item")).alias("rk")
        )
        .groupBy()
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rk") == _MG_K + 1, F.col("s"))), F.lit(0)
            ).alias("mu")
        )
    )
    final = (
        merged.crossJoin(F.broadcast(mu))
        .filter(F.col("s") > F.col("mu"))
        .select("item", (F.col("s") - F.col("mu")).alias("est"))
    )
    sz = final.groupBy().agg(F.count("*").alias("n_summary"))
    nn = items.groupBy().agg(F.count("*").alias("n"))
    exact = items.groupBy("item").agg(F.count("*").alias("c"))
    est0 = F.coalesce(F.col("est"), F.lit(0))
    return (
        exact.join(final, "item", "left")
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(sz))
        .filter(F.col("c") * (_MG_K + 1) > F.col("n"))
        .select(
            "item",
            F.col("c").alias("exact_count"),
            est0.alias("mg_estimate"),
            F.col("est").isNotNull().alias("in_summary"),
            ((F.col("c") - est0) * (_MG_K + 1) <= F.col("n")).alias("within_bound"),
            (est0 <= F.col("c")).alias("no_overestimate"),
            (F.col("n_summary") <= _MG_K).alias("summary_size_ok"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# q326 — bounded-reservoir MERGE-closure law (round 14).
# ---------------------------------------------------------------------------
_RES_R = 100  # reservoir capacity
_RES_G = 16  # md5-assigned shard-groups


def _res_oracle() -> str:
    from kinesis_sample_spark.functions.hashing import md5_long_sql

    h = md5_long_sql("'res:' || CAST(event_id AS VARCHAR)")
    hg = md5_long_sql("'resg:' || CAST(event_id AS VARCHAR)")
    return f"""
WITH it AS (SELECT event_id, {h} AS h, {hg} % {_RES_G} AS g FROM events),
grp_res AS (
  SELECT g, event_id, h FROM (
    SELECT g, event_id, h,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, event_id) AS rk
    FROM it) t
  WHERE rk <= {_RES_R}
),
merged AS (
  SELECT event_id FROM (
    SELECT event_id, ROW_NUMBER() OVER (ORDER BY h, event_id) AS rk
    FROM grp_res) t
  WHERE rk <= {_RES_R}
),
gsel AS (
  SELECT event_id FROM (
    SELECT event_id, ROW_NUMBER() OVER (ORDER BY h, event_id) AS rk
    FROM it) t
  WHERE rk <= {_RES_R}
),
agree AS (
  SELECT (SELECT COUNT(*) FROM merged m JOIN gsel x ON x.event_id = m.event_id)
           = {_RES_R} AS law
)
SELECT g.g, CAST(COUNT(*) AS BIGINT) AS n_reservoir,
       CAST(SUM(CASE WHEN gl.event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_global,
       (SELECT law FROM agree) AS merge_equals_global
FROM grp_res g LEFT JOIN gsel gl ON gl.event_id = g.event_id
GROUP BY g.g
ORDER BY g.g
"""


@query("q326_reservoir_merge_law", oracle=_res_oracle())
def q326_reservoir_merge_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-sample MERGE-CLOSURE law: a rank-based 'reservoir'
    (the R=100 smallest md5 ranks — the distributed-systems stand-in for a
    uniform R-sample, deterministic where a seeded reservoir is not) is
    computed per md5-assigned shard-group, the 16 group reservoirs are
    merged by re-taking the top-R of their union, and the law gated is
    EXACT SET EQUALITY with the single-pass global reservoir. The proof
    is structural — any globally-top-R item is top-R within its own
    group — and this query pins that the ENGINE's implementation
    (windows, caps, tie-breaks) actually realizes it: q297 gates that a
    RATE sample distributes over union; this is the closure law for a
    BOUNDED-SIZE sample, the kind a 1000-executor top-R actually ships
    (each task sends R rows, the merge re-selects — total traffic
    R x tasks, never the fact).

    Per-group readout: reservoir size (min(R, group rows)) and how many
    of the group's rows survive into the global top-R (they sum to R —
    visible in the rows). Ties are impossible (60-bit md5 over distinct
    ids) and the (h, event_id) tie-break is total anyway.

    Scale: the group reservoirs are rank-windows per md5 group (group
    count is the parallelism knob); the merge runs on G*R rows. The
    law's set-equality join touches R rows. Nothing global ever
    shuffles raw data except the audit's single-pass reservoir, which
    exists to BE the reference."""
    from kinesis_sample_spark.functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    it = ev.select(
        "event_id",
        md5_long(
            F.concat(F.lit("res:"), F.col("event_id").cast("string"))
        ).alias("h"),
        (
            md5_long(F.concat(F.lit("resg:"), F.col("event_id").cast("string")))
            % _RES_G
        ).alias("g"),
    )
    rk_g = F.row_number().over(W.partitionBy("g").orderBy("h", "event_id"))
    # grp_res/gsel are each read twice downstream and both derive from
    # the full hashed scan — checkpoint the <=G*R-row selections so the
    # events table is hashed once per structure, not once per reader
    grp_res = (
        it.select("g", "event_id", "h", rk_g.alias("rk"))
        .filter(F.col("rk") <= _RES_R)
        .localCheckpoint(eager=True)
    )
    rk_m = F.row_number().over(W.orderBy("h", "event_id"))
    merged = grp_res.select("event_id", "h", rk_m.alias("rk")).filter(
        F.col("rk") <= _RES_R
    )
    gsel = (
        it.select("event_id", rk_m.alias("rk"))
        .filter(F.col("rk") <= _RES_R)
        .localCheckpoint(eager=True)
    )
    agree = (
        merged.join(gsel.select("event_id"), "event_id")
        .groupBy()
        .agg((F.count("*") == _RES_R).alias("law"))
    )
    return (
        grp_res.join(
            gsel.select("event_id", F.lit(1).alias("in_g")), "event_id", "left"
        )
        .groupBy("g")
        .agg(
            F.count("*").alias("n_reservoir"),
            F.sum(F.coalesce("in_g", F.lit(0))).alias("n_in_global"),
        )
        .crossJoin(F.broadcast(agree))
        .select(
            "g", "n_reservoir", "n_in_global", F.col("law").alias("merge_equals_global")
        )
        .orderBy("g")
    )
