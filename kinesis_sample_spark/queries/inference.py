"""Statistical inference & stability — round-12 batch 3 (q283-q289).

The inferential shelf on top of the descriptive statistics the registry
already has: extreme-value tail estimation, variance decomposition,
distribution-free confidence intervals, quantile drift tracking,
ranking-stability scoring, dedup-cluster demography, and count
dispersion. Each answers "how sure are we / how stable is it", where the
earlier families answer "what is it".

Determinism recipe as everywhere in this repo: exact BIGINT/DECIMAL
moments; ln terms quantized round(.,6) per whole term; fixed literal
weight tables generated once in Python and shared verbatim; final
compound double expressions identically ordered and quantized.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.operators.components import connected_components
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.queries.dedup import _SQL_PAIRS_BODY_TEMPLATE


def _dec2(col):
    return F.round(col, 2).cast("decimal(18,2)")


def _q6(col):
    return F.round(col, 6).cast("decimal(18,6)")


# ---------------------------------------------------------------------------
# q283 — Hill tail-index estimator.
# ---------------------------------------------------------------------------
_HILL_K = 200


@query(
    "q283_hill_tail_index",
    oracle=f"""
WITH ranked AS (
    SELECT o_totalprice AS x,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
),
pv AS (SELECT x AS xk1 FROM ranked WHERE rn = {_HILL_K + 1}),
terms AS (
    SELECT CAST(round(ln(r.x / p.xk1), 6) AS DECIMAL(18,6)) AS t
    FROM ranked r, pv p WHERE r.rn <= {_HILL_K}
)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       (SELECT xk1 FROM pv) AS threshold,
       {sql_double('SUM(t)')} / {_HILL_K} AS hill_gamma,
       {sql_double(
           "CAST(round(CAST({k} AS DOUBLE)"
           " / CAST(CAST(SUM(t) AS VARCHAR) AS DOUBLE), 6)"
           " AS DECIMAL(18,6))".format(k=_HILL_K)
       )} AS tail_alpha
FROM terms
""",
)
def q283_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail: gamma = mean of
    ln(x_(i)/x_(k+1)) over the top k=200 order statistics; tail index
    alpha = 1/gamma. The extreme-value-theory answer to "how heavy is
    the revenue tail" that variance-based q219/q276 cannot give —
    alpha <= 2 means infinite variance and every mean-based estimate
    downstream is on sand. k is fixed (the standard practice is a
    k-sweep; one calibrated point keeps the oracle exact).

    Each log-ratio term is quantized round(.,6) -> DECIMAL so the sum
    is exact; gamma and alpha are single divisions. Degenerate inputs
    (<= k rows, so the rn = k+1 pivot is empty) yield ONE row of NULLs
    on both engines: the Spark side left-joins the pivot rather than
    cross-joining it, mirroring the oracle's always-one-row global
    aggregate (edge-tested in tests/test_round13_fixes.py).

    Scale: a global ORDER BY to rank the top k+1 (TakeOrdered-shaped at
    k << n), then a 200-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = orders.select(
        F.col("o_totalprice").alias("x"),
        F.row_number()
        .over(W.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("rn"),
    )
    pivot = ranked.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("x").alias("xk1")
    )
    terms = (
        ranked.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(pivot))
        .select(_q6(F.log(F.col("x") / F.col("xk1"))).alias("t"))
    )
    s = terms.agg(F.sum("t").alias("st"))
    gamma = F.col("st").cast("double") / _HILL_K
    # LEFT join (not crossJoin) onto the pivot: with <= k rows the
    # pivot (rn = k+1) is EMPTY and a cross join would yield 0 rows,
    # while the oracle's global aggregate still emits 1 row of NULLs.
    # The left join keeps the engines symmetric on degenerate inputs
    # (same class as the q212 w=0 guard); with > k rows it is exactly
    # the old broadcast cross join.
    return (
        s.withColumn("_jk", F.lit(1))
        .join(
            F.broadcast(pivot.withColumn("_jk", F.lit(1))), "_jk", "left"
        )
        .select(
            F.lit(_HILL_K).cast("bigint").alias("k"),
            F.col("xk1").alias("threshold"),
            gamma.alias("hill_gamma"),
            _q6(F.lit(float(_HILL_K)) / F.col("st").cast("double"))
            .cast("double")
            .alias("tail_alpha"),
        )
    )


# ---------------------------------------------------------------------------
# q284 — seasonal strength (one-way ANOVA on month-of-year).
# ---------------------------------------------------------------------------
@query(
    "q284_seasonal_strength",
    oracle=f"""
WITH daily AS (
    SELECT CAST(month(o_orderdate) AS INTEGER) AS moy,
           CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS d,
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS rev
    FROM orders GROUP BY 1, 2
),
per_m AS (
    SELECT moy, CAST(COUNT(*) AS BIGINT) AS nm, SUM(rev) AS sm
    FROM daily GROUP BY moy
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS s,
           SUM(CAST(rev AS DECIMAL(19,2)) * rev) AS sqq,
           CAST(COUNT(DISTINCT moy) AS BIGINT) AS kk
    FROM daily
),
ssb AS (
    -- (28,6), not (18,6): the per-month S²/n terms reach ~4e16 at sf0.1
    SELECT SUM(CAST(round({sql_double('p.sm')} * {sql_double('p.sm')} / p.nm, 6)
               AS DECIMAL(28,6))) AS sum_sq_over_n
    FROM per_m p
)
SELECT t.n AS n_days, t.kk AS n_months,
       {sql_double(
           "CAST(round("
           "({ssb} - {s} * {s} / t.n)"
           " / ({sqq} - {s} * {s} / t.n)"
           ", 6) AS DECIMAL(18,6))".format(
               ssb=sql_double("b.sum_sq_over_n"),
               s=sql_double("t.s"), sqq=sql_double("t.sqq"),
           )
       )} AS eta_sq,
       {sql_double(
           "CAST(round("
           "(({ssb} - {s} * {s} / t.n) / (CAST(t.kk AS DOUBLE) - 1))"
           " / (({sqq} - {ssb}) / (CAST(t.n AS DOUBLE) - t.kk))"
           ", 6) AS DECIMAL(18,6))".format(
               ssb=sql_double("b.sum_sq_over_n"),
               s=sql_double("t.s"), sqq=sql_double("t.sqq"),
           )
       )} AS f_stat
FROM tot t, ssb b
""",
)
def q284_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal STRENGTH as a one-way ANOVA over daily revenue grouped
    by month-of-year: eta² = SS_between/SS_total (share of daily
    variance the calendar month explains) plus the F statistic. q228
    reports the per-month seasonal index; this reports whether
    seasonality matters at all — the gate before anyone deseasonalizes.

    Every sum of squares reduces to exact decimal moments; the per-month
    S²/n terms are quantized round(.,6) before summing (sum order across
    months must not float); eta² and F are identically-ordered double
    expressions, quantized.

    Scale: one (month-of-year, day) aggregate, one 12-row rollup, one
    scalar row out."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = orders.groupBy(
        F.month("o_orderdate").cast("int").alias("moy"),
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d"),
    ).agg(F.sum(_dec2(F.col("o_totalprice"))).alias("rev"))
    per_m = daily.groupBy("moy").agg(
        F.count("*").alias("nm"), F.sum("rev").alias("sm")
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(F.col("rev").cast("decimal(19,2)") * F.col("rev")).alias("sqq"),
        F.countDistinct("moy").alias("kk"),
    )
    ssb = per_m.agg(
        F.sum(
            F.round(
                F.col("sm").cast("double")
                * F.col("sm").cast("double")
                / F.col("nm"),
                6,
            ).cast("decimal(28,6)")
        ).alias("sum_sq_over_n")
    )
    j = tot.crossJoin(F.broadcast(ssb))
    sd = F.col("s").cast("double")
    sqqd = F.col("sqq").cast("double")
    ssbd = F.col("sum_sq_over_n").cast("double")
    nd = F.col("n")
    between = ssbd - sd * sd / nd
    total = sqqd - sd * sd / nd
    f_stat = (between / (F.col("kk").cast("double") - 1)) / (
        (sqqd - ssbd) / (F.col("n").cast("double") - F.col("kk"))
    )
    return j.select(
        F.col("n").alias("n_days"),
        F.col("kk").alias("n_months"),
        _q6(between / total).cast("double").alias("eta_sq"),
        _q6(f_stat).cast("double").alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# q285 — distribution-free median confidence interval (order statistics).
# ---------------------------------------------------------------------------
@query(
    "q285_median_order_ci",
    oracle="""
WITH j AS (
    SELECT c.c_mktsegment AS seg, o.o_totalprice AS x, o.o_orderkey
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
stats AS (
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(x, 0.5) AS median
    FROM j GROUP BY seg
),
bounds AS (
    SELECT seg, n, median,
           CAST(GREATEST(1, FLOOR((n - CAST(1.96 AS DOUBLE) * sqrt(n)) / 2))
                AS BIGINT) AS l_rank
    FROM stats
),
ranked AS (
    SELECT seg, x, ROW_NUMBER() OVER (PARTITION BY seg
                                      ORDER BY x, o_orderkey) AS rn
    FROM j
)
SELECT b.seg AS c_mktsegment, b.n, b.median,
       b.l_rank, CAST(b.n + 1 - b.l_rank AS BIGINT) AS u_rank,
       lo.x AS ci_lo, hi.x AS ci_hi
FROM bounds b
JOIN ranked lo ON lo.seg = b.seg AND lo.rn = b.l_rank
JOIN ranked hi ON hi.seg = b.seg AND hi.rn = b.n + 1 - b.l_rank
ORDER BY c_mktsegment
""",
)
def q285_median_order_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median per
    segment via the binomial order-statistic bound: L = floor((n −
    1.96·√n)/2), U = n+1−L; the CI is [x_(L), x_(U)] — valid for ANY
    continuous distribution, no normality assumed. The inference layer
    exact point percentiles lack: a segment whose CI excludes another's
    median is a real difference, not noise.

    Ranks are exact integers (tie-broken by orderkey); bounds use one
    floor of a deterministic double; interval endpoints are exact order
    statistics picked by rank equi-join.

    Scale: one percentile aggregate and one rank window per segment,
    then two rank lookups."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").alias("x"),
        "o_orderkey",
    )
    stats = j.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.expr("percentile(x, 0.5D)").alias("median"),
    )
    l_rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor((F.col("n") - F.lit(1.96) * F.sqrt(F.col("n"))) / 2),
    ).cast("bigint")
    bounds = stats.select("seg", "n", "median", l_rank.alias("l_rank"))
    ranked = j.select(
        "seg",
        "x",
        F.row_number().over(W.partitionBy("seg").orderBy("x", "o_orderkey")).alias(
            "rn"
        ),
    )
    lo = ranked.select(
        F.col("seg").alias("seg_lo"), F.col("x").alias("ci_lo"),
        F.col("rn").alias("rn_lo"),
    )
    hi = ranked.select(
        F.col("seg").alias("seg_hi"), F.col("x").alias("ci_hi"),
        F.col("rn").alias("rn_hi"),
    )
    return (
        bounds.join(
            lo,
            (F.col("seg_lo") == F.col("seg")) & (F.col("rn_lo") == F.col("l_rank")),
        )
        .join(
            hi,
            (F.col("seg_hi") == F.col("seg"))
            & (F.col("rn_hi") == F.col("n") + 1 - F.col("l_rank")),
        )
        .select(
            F.col("seg").alias("c_mktsegment"),
            "n",
            "median",
            "l_rank",
            (F.col("n") + 1 - F.col("l_rank")).cast("bigint").alias("u_rank"),
            "ci_lo",
            "ci_hi",
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q286 — quantile drift bands (YoY p10/p50/p90 series).
# ---------------------------------------------------------------------------
@query(
    "q286_quantile_drift_bands",
    oracle="""
WITH yearly AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(o_totalprice, 0.1) AS p10,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90
    FROM orders GROUP BY year(o_orderdate)
)
SELECT c.y AS year, c.n, c.p10, c.p50, c.p90,
       c.p10 - p.p10 AS d10, c.p50 - p.p50 AS d50, c.p90 - p.p90 AS d90
FROM yearly c JOIN yearly p ON p.y = c.y - 1
ORDER BY c.y
""",
)
def q286_quantile_drift_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year drift of the order-value distribution's p10/p50/
    p90 bands: WHERE the distribution moves, not just whether (a two-sample
    KS says "different", q240's L1 tracks categories — this tracks the
    numeric quantile skeleton over time, the monitor that separates
    "the tail grew" from "everything shifted"). Years pair against
    their predecessor explicitly (inner join on y-1).

    Quantiles interpolate identical doubles; the deltas subtract those
    identical doubles — no quantization needed anywhere.

    Scale: one percentile aggregate per year, then a self-join on the
    handful of year rows."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(F.year("o_orderdate").cast("int").alias("y")).agg(
        F.count("*").alias("n"),
        F.expr("percentile(o_totalprice, 0.1D)").alias("p10"),
        F.expr("percentile(o_totalprice, 0.5D)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9D)").alias("p90"),
    )
    c = yearly
    p = yearly.select(
        (F.col("y") + 1).alias("py"),
        F.col("p10").alias("q10"),
        F.col("p50").alias("q50"),
        F.col("p90").alias("q90"),
    )
    return (
        c.join(p, F.col("py") == F.col("y"))
        .select(
            F.col("y").alias("year"),
            "n",
            "p10",
            "p50",
            "p90",
            (F.col("p10") - F.col("q10")).alias("d10"),
            (F.col("p50") - F.col("q50")).alias("d50"),
            (F.col("p90") - F.col("q90")).alias("d90"),
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# q287 — top-k ranking stability (rank-biased overlap).
# ---------------------------------------------------------------------------
_RBO_DEPTH = 20
_RBO_P = Decimal("0.9")
_RBO_WEIGHTS = [
    (d, (_RBO_P ** (d - 1)).quantize(Decimal("1e-12")))
    for d in range(1, _RBO_DEPTH + 1)
]
_SQL_RBO_WEIGHTS = ", ".join(
    f"({d}, CAST({w} AS DECIMAL(14,12)))" for d, w in _RBO_WEIGHTS
)


@query(
    "q287_rank_stability_rbo",
    oracle=f"""
WITH yr AS (SELECT MAX(CAST(year(o_orderdate) AS INTEGER)) AS ymax FROM orders),
per_year AS (
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS y, l.l_partkey,
           CAST(SUM(CAST(round(l.l_extendedprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS rev
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT y, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY y ORDER BY rev DESC, l_partkey)
             AS rnk
    FROM per_year
),
a AS (SELECT l_partkey, rnk FROM ranked, yr WHERE y = ymax AND rnk <= {_RBO_DEPTH}),
b AS (SELECT l_partkey, rnk FROM ranked, yr WHERE y = ymax - 1 AND rnk <= {_RBO_DEPTH}),
joined AS (
    SELECT GREATEST(a.rnk, b.rnk) AS first_depth
    FROM a JOIN b ON b.l_partkey = a.l_partkey
),
weights AS (SELECT * FROM (VALUES {_SQL_RBO_WEIGHTS}) AS t(d, wt)),
ovl AS (
    SELECT w.d, w.wt,
           CAST((SELECT COUNT(*) FROM joined j WHERE j.first_depth <= w.d)
                AS BIGINT) AS x
    FROM weights w
),
terms AS (
    SELECT CAST(round((CAST(x AS DOUBLE) / d)
                      * CAST(CAST(wt AS VARCHAR) AS DOUBLE), 9)
                AS DECIMAL(18,9)) AS t,
           x, d
    FROM ovl
)
SELECT (SELECT ymax FROM yr) AS year_cur,
       (SELECT ymax - 1 FROM yr) AS year_prev,
       CAST({_RBO_DEPTH} AS BIGINT) AS depth,
       (SELECT CAST(x AS BIGINT) FROM terms WHERE d = {_RBO_DEPTH})
         AS overlap_at_depth,
       CAST(0.1 AS DOUBLE) * {sql_double('SUM(t)')} AS rbo
FROM terms
""",
)
def q287_rank_stability_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, depth 20) between the current and
    prior year's top-20 parts by revenue: the top-weighted similarity
    of two rankings (Webber et al.) — the catalog-churn monitor that
    set-overlap can't give (swapping ranks 1 and 20 matters, swapping
    19 and 20 doesn't). q226 FUSES rankings; this SCORES their
    stability. A part pair enters the agreement at depth max(rank_a,
    rank_b); X_d/d is the agreement at depth d; RBO = (1-p)·Σ p^(d-1)
    ·X_d/d.

    The geometric weights are precomputed decimal literals shared
    verbatim (the EWMA trick); each term is quantized round(.,9) so the
    sum is exact; the (1-p) factor is a CAST-to-DOUBLE literal.

    Scale: per-year revenue ranking is a partitioned window; the
    depth-20 lists and the weight table are constants."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_year = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("y"), "l_partkey"
        )
        .agg(F.sum(_dec2(F.col("l_extendedprice"))).alias("rev"))
    )
    ymax = per_year.agg(F.max("y").alias("ymax"))
    ranked = per_year.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("y").orderBy(F.col("rev").desc(), "l_partkey")
        ),
    ).filter(F.col("rnk") <= _RBO_DEPTH)
    r = ranked.crossJoin(F.broadcast(ymax))
    a = r.filter(F.col("y") == F.col("ymax")).select(
        "l_partkey", F.col("rnk").alias("ra")
    )
    b = r.filter(F.col("y") == F.col("ymax") - 1).select(
        F.col("l_partkey").alias("pk_b"), F.col("rnk").alias("rb")
    )
    joined = a.join(b, a.l_partkey == F.col("pk_b")).select(
        F.greatest("ra", "rb").alias("first_depth")
    )
    weights = spark.createDataFrame(_RBO_WEIGHTS, "d INT, wt DECIMAL(14,12)")
    overlaps = (
        F.broadcast(weights)
        .join(joined, F.col("first_depth") <= F.col("d"), "left")
        .groupBy("d", "wt")
        .agg(F.count("first_depth").alias("x"))
    )
    terms = overlaps.select(
        "d",
        "x",
        F.round(
            (F.col("x").cast("double") / F.col("d")) * F.col("wt").cast("double"),
            9,
        )
        .cast("decimal(18,9)")
        .alias("t"),
    )
    agg = terms.agg(
        F.sum("t").alias("st"),
        F.max(F.when(F.col("d") == _RBO_DEPTH, F.col("x"))).alias(
            "overlap_at_depth"
        ),
    )
    return agg.crossJoin(F.broadcast(ymax)).select(
        F.col("ymax").alias("year_cur"),
        (F.col("ymax") - 1).alias("year_prev"),
        F.lit(_RBO_DEPTH).cast("bigint").alias("depth"),
        F.col("overlap_at_depth").cast("bigint").alias("overlap_at_depth"),
        (F.lit(0.1) * F.col("st").cast("double")).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# q288 — near-dup cluster census.
# ---------------------------------------------------------------------------
@query(
    "q288_dedup_cluster_census",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS_BODY_TEMPLATE},
bidir AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) n
    UNION
    SELECT e.b, r.lbl FROM bidir e JOIN reach r ON e.a = r.node
),
lbl AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node),
csize AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS size FROM lbl GROUP BY comp)
SELECT size AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(size) AS BIGINT) AS n_docs,
       CAST(SUM(size - 1) AS BIGINT) AS n_removable
FROM csize GROUP BY size ORDER BY cluster_size
""",
)
def q288_dedup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demography of the near-duplicate graph: connected components of
    the verified jaccard>=0.8 pairs (q31's output), rolled up by cluster
    size — how many pairs vs triples vs bigger families, and the exact
    removable-document count Σ(size−1) that doc-level dedup will delete.
    q69 labels the clusters; this is the census a capacity plan reads.
    The Spark side runs pointer-jumping CC; the oracle recomputes
    components with a recursive-CTE closure (the q241 cross-algorithm
    discipline applied to the dedup graph).

    Pure integer output.

    Scale: the near-dup graph is candidate-blocked and tiny relative to
    the corpus by construction; CC localCheckpoints per round."""
    from kinesis_sample_spark.queries.dedup import _signatures, _verified_candidate_pairs

    pairs = _verified_candidate_pairs(_signatures(spark, sf_dir))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    edges = pairs.filter(jac >= 0.8).select("doc_a", "doc_b").localCheckpoint(
        eager=True
    )
    cc = connected_components(edges, "doc_a", "doc_b")
    csize = cc.groupBy("component").agg(F.count("*").alias("size"))
    return (
        csize.groupBy(F.col("size").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("size").alias("n_docs"),
            F.sum(F.col("size") - 1).alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# q289 — index of dispersion for daily order counts.
# ---------------------------------------------------------------------------
@query(
    "q289_index_of_dispersion",
    oracle=f"""
WITH daily AS (
    SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM orders GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc,
           CAST(SUM(c * c) AS BIGINT) AS scc
    FROM daily
)
SELECT n AS n_days, sc AS n_orders,
       CAST(sc AS DOUBLE) / n AS mean_per_day,
       {sql_double(
           "CAST(round("
           "((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)"
           "  - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))"
           " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
           " / (CAST(sc AS DOUBLE) / n)"
           ", 6) AS DECIMAL(18,6))"
       )} AS vmr,
       {sql_double(
           "CAST(round("
           "(((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)"
           "   - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))"
           "  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
           " / (CAST(sc AS DOUBLE) / n) - 1)"
           " * sqrt((CAST(n AS DOUBLE) - 1) / 2)"
           ", 6) AS DECIMAL(18,6))"
       )} AS z
FROM s
""",
)
def q289_index_of_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of DAILY ORDER
    COUNTS with its normal-approximation z: VMR ~ 1 is the Poisson
    arrival signature, VMR >> 1 means demand arrives in bursts and
    every Poisson-based staffing/queueing assumption breaks. q263
    measures term burstiness across documents; this is the temporal
    counterpart for the arrival process itself (and the hypothesis-test
    companion to q261's descriptive CV).

    Counts and moments are exact BIGINTs; VMR and z are identical
    double expressions quantized round(.,6).

    Scale: one date-keyed count, one scalar aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d")
    ).agg(F.count("*").alias("c"))
    s = daily.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    nd = F.col("n").cast("double")
    scd = F.col("sc").cast("double")
    sccd = F.col("scc").cast("double")
    var = (nd * sccd - scd * scd) / (nd * (F.col("n") - 1).cast("double"))
    mean = scd / F.col("n")
    vmr = var / mean
    z = (vmr - 1) * F.sqrt((nd - 1) / 2)
    return s.select(
        F.col("n").alias("n_days"),
        F.col("sc").alias("n_orders"),
        mean.alias("mean_per_day"),
        _q6(vmr).cast("double").alias("vmr"),
        _q6(z).cast("double").alias("z"),
    )


# ---------------------------------------------------------------------------
# q312 — deterministic Poisson-bootstrap CI for the mean (round 14).
# ---------------------------------------------------------------------------
_BOOT_B = 32
# Poisson(1) multiplicity thresholds over md5 % 10000:
# P(0)=P(1)=e^-1≈0.3679, P(2)≈0.1839, P(>=3)≈0.0803 (truncated at 3).
_BOOT_T0, _BOOT_T1, _BOOT_T2 = 3679, 7358, 9197


def _boot_mult(key_col: str):
    """Poisson(1) multiplicity (truncated at 3) for replica ``b`` and the
    resample-unit key column — the md5 recipe both bootstrap queries
    (q312 row-level, q330 cluster-level) and BOTH engines share; the key
    column is the only degree of freedom."""
    from kinesis_sample_spark.functions.hashing import md5_long

    h = (
        md5_long(
            F.concat(
                F.lit("boot:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col(key_col).cast("string"),
            )
        )
        % 10000
    )
    return (
        F.when(h < _BOOT_T0, F.lit(0))
        .when(h < _BOOT_T1, F.lit(1))
        .when(h < _BOOT_T2, F.lit(2))
        .otherwise(F.lit(3))
    )


def _boot_mult_sql(key_expr: str) -> str:
    """DuckDB rendering of :func:`_boot_mult` over SQL expression
    ``key_expr``."""
    from kinesis_sample_spark.functions.hashing import md5_long_sql

    h = md5_long_sql(f"'boot:' || CAST(b.b AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR)")
    return f"""CASE WHEN {h} % 10000 < {_BOOT_T0} THEN 0
                WHEN {h} % 10000 < {_BOOT_T1} THEN 1
                WHEN {h} % 10000 < {_BOOT_T2} THEN 2
                ELSE 3 END"""


def _boot_oracle() -> str:
    return f"""
WITH reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
m AS (
    SELECT b.b, o_orderkey,
           {_boot_mult_sql("o_orderkey")} AS mult,
           CAST(o_totalprice AS DECIMAL(12,2)) AS price
    FROM orders, reps b
),
means AS (
    SELECT b,
           {sql_double("SUM(mult * price)")} / CAST(SUM(mult) AS DOUBLE)
             AS rep_mean
    FROM m GROUP BY b
),
ranked AS (
    SELECT rep_mean, ROW_NUMBER() OVER (ORDER BY rep_mean, b) AS rk
    FROM means
),
full_mean AS (
    SELECT {sql_double("SUM(CAST(o_totalprice AS DECIMAL(12,2)))")}
             / CAST(COUNT(*) AS DOUBLE) AS mean_full
    FROM orders
)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas, f.mean_full,
       (SELECT rep_mean FROM ranked WHERE rk = 2) AS ci_lo,
       (SELECT rep_mean FROM ranked WHERE rk = {_BOOT_B - 1}) AS ci_hi
FROM full_mean f
"""


@query("q312_bootstrap_mean_ci", oracle=_boot_oracle())
def q312_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value, built the
    only way a bootstrap distributes AND reproduces: the POISSON
    bootstrap (each of B=32 replicas includes row i with multiplicity
    ~ Poisson(1)), with the multiplicity drawn from the md5 recipe
    (integer thresholds for P(0)/P(1)/P(2)/P(3+), truncated at 3) —
    a pure per-(replica, row) function, so all 32 resamples stream
    through ONE scan with no sampling coordination, no seed state, and
    bit-identical draws on any engine or partitioning. Classic resample-
    by-index bootstraps need n draws WITH replacement from a global
    index — undistributable; this is the standard large-scale
    substitute (and the substitution is visible: multiplicities, not
    index draws).

    Replica means are exact-decimal sums over exact integer
    multiplicities divided once; the CI is percentile-by-order-statistic
    across the B replica means (ranks 2 and B-1 ≈ 93.75 % coverage).
    q285 bounds the MEDIAN by binomial order statistics; this bounds the
    MEAN by resampling — different estimator, different machinery, both
    distribution-free.

    Scale: one fact scan fanned out ×32 map-side (an Expand, no
    shuffle), one (replica)-keyed aggregate of B rows, one B-row sort.
    B controls cost linearly and 32 already gives a stable
    percentile CI."""
    orders = load_table(spark, sf_dir, "orders")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    mult = _boot_mult("o_orderkey")
    m = orders.select(
        reps, "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("price")
    ).select("b", mult.alias("mult"), "price")
    means = m.groupBy("b").agg(
        (
            F.sum(F.col("mult") * F.col("price")).cast("double")
            / F.sum("mult").cast("double")
        ).alias("rep_mean")
    )
    ranked = means.select(
        "rep_mean", F.row_number().over(W.orderBy("rep_mean", "b")).alias("rk")
    )
    full_mean = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_full")
    )
    # Optimization r16 (guide §7.2 duplicated subtrees): the r14 shape
    # read ranks 2 and B-1 as two FILTERS over `ranked`, making the plan
    # reference — and fully re-execute — the ×B expand + aggregate
    # subtree twice. One conditional aggregate over the B ranked rows
    # yields both bounds from a single execution of that subtree.
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("rep_mean"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == _BOOT_B - 1, F.col("rep_mean"))).alias("ci_hi"),
    )
    return (
        full_mean.crossJoin(F.broadcast(ci))
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
            "mean_full",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# q319 — CUPED variance reduction (round 14).
# ---------------------------------------------------------------------------
@query(
    "q319_cuped_variance_reduction",
    oracle=f"""
WITH span AS (
    SELECT CAST(datediff('day', DATE '1970-01-01', MIN(ts)) AS BIGINT) AS d0,
           CAST(datediff('day', DATE '1970-01-01', MAX(ts)) AS BIGINT) AS d1
    FROM events
),
split AS (SELECT CAST((d0 + d1 + 1) / 2 AS BIGINT) AS sd FROM span),
per_user AS (
    SELECT user_id,
           SUM(CASE WHEN CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT)
                         < (SELECT sd FROM split)
                    THEN CAST(value AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS x,
           SUM(CASE WHEN CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT)
                         >= (SELECT sd FROM split)
                    THEN CAST(value AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS y
    FROM events
    WHERE value IS NOT NULL
    GROUP BY user_id
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {sql_double('SUM(x)')} AS sx, {sql_double('SUM(y)')} AS sy,
           {sql_double('SUM(CAST(x AS DECIMAL(19,2)) * y)')} AS sxy,
           {sql_double('SUM(CAST(x AS DECIMAL(19,2)) * x)')} AS sxx,
           {sql_double('SUM(CAST(y AS DECIMAL(19,2)) * y)')} AS syy
    FROM per_user
),
st AS (
    SELECT n, sx / n AS mean_y_pre, sy / n AS mean_y,
           (n * sxy - sx * sy) / (n * CAST(n - 1 AS DOUBLE)) AS cxy,
           (n * sxx - sx * sx) / (n * CAST(n - 1 AS DOUBLE)) AS vx,
           (n * syy - sy * sy) / (n * CAST(n - 1 AS DOUBLE)) AS vy
    FROM m
)
SELECT n AS n_users,
       CAST(CAST(CAST(round(mean_y, 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS mean_post,
       CAST(CAST(CAST(round(cxy / vx, 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS theta,
       CAST(CAST(CAST(round(vy, 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS var_post,
       CAST(CAST(CAST(round(vy - cxy * cxy / vx, 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS var_cuped,
       CAST(CAST(CAST(round((cxy * cxy / vx) / vy, 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS variance_reduction
FROM st
""",
)
def q319_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): the
    variance-reduction estimator every large-scale A/B platform applies
    before reading an experiment. Each user's event-value total is
    split at the fixture's midpoint day into a pre-period covariate X
    and a post-period metric Y; theta = cov(X,Y)/var(X) and the
    adjusted metric Y - theta*(X - mean(X)) has variance
    var(Y) - cov^2/var(X) — reported as var_cuped next to the raw
    variance and the reduction fraction. The inference shelf gates
    interval machinery (q285 order statistics, q312 bootstrap); this is
    the third leg: reducing the variance before the interval is built.

    Determinism: per-user sums are exact DECIMAL(12,2); second moments
    widen one factor to DECIMAL(19,2) before multiplying (the q262
    int64/HUGEINT lesson applied to decimals) and stay exact through
    SUM; every downstream statistic is the identical double expression
    on both engines, quantized round(.,6). The split day is derived
    from the data's own min/max epoch-days — exact integer midpoint,
    no timestamp arithmetic ambiguity.

    Scale: one user-keyed partial aggregate over the fact (the CASE
    split rides the same scan — pre and post are columns, not passes),
    one scalar moment row. The theta fit at 100 TB is the same five
    moments, shuffled as one row per executor."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    epoch = F.lit("1970-01-01").cast("date")
    day = F.datediff(F.col("ts"), epoch).cast("bigint")
    span = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    ).select(((F.col("d0") + F.col("d1") + 1) / 2).cast("bigint").alias("sd"))
    val = F.col("value").cast("decimal(12,2)")
    zero = F.lit(0).cast("decimal(12,2)")
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(day < F.col("sd"), val).otherwise(zero)).alias("x"),
            F.sum(F.when(day >= F.col("sd"), val).otherwise(zero)).alias("y"),
        )
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,2)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,2)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,2)") * F.col("y"))
        .cast("double")
        .alias("syy"),
    )
    nd = F.col("n")
    denom = nd * (nd - 1).cast("double")
    cxy = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")) / denom
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")) / denom
    q6 = lambda c: F.round(c, 6).cast("decimal(18,6)").cast("double")  # noqa: E731
    return m.select(
        F.col("n").alias("n_users"),
        q6(F.col("sy") / nd).alias("mean_post"),
        q6(cxy / vx).alias("theta"),
        q6(vy).alias("var_post"),
        q6(vy - cxy * cxy / vx).alias("var_cuped"),
        q6((cxy * cxy / vx) / vy).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# q324 — one-sample KS test of inter-arrival exponentiality (round 14).
# ---------------------------------------------------------------------------
@query(
    "q324_ks_exponential_fit",
    oracle=f"""
WITH seq AS (
    SELECT epoch_us(ts) - lag(epoch_us(ts))
             OVER (ORDER BY ts, event_id) AS dt
    FROM events
),
gaps AS (SELECT CAST(dt AS BIGINT) AS dt FROM seq WHERE dt IS NOT NULL),
mm AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dt) AS BIGINT) AS s
    FROM gaps
),
dv AS (
    SELECT dt, CAST(COUNT(*) AS BIGINT) AS cnt FROM gaps GROUP BY dt
),
cum AS (
    SELECT dt, cnt,
           SUM(cnt) OVER (ORDER BY dt ROWS UNBOUNDED PRECEDING) AS cle
    FROM dv
),
terms AS (
    SELECT CAST(round(CAST(cle AS DOUBLE) / m.n
                      - (1 - exp(-(CAST(m.n AS DOUBLE) / m.s) * dt)), 6)
                AS DECIMAL(18,6)) AS dplus,
           CAST(round((1 - exp(-(CAST(m.n AS DOUBLE) / m.s) * dt))
                      - CAST(cle - cnt AS DOUBLE) / m.n, 6)
                AS DECIMAL(18,6)) AS dminus
    FROM cum, mm m
),
d AS (
    SELECT CAST(CAST(MAX(dplus) AS VARCHAR) AS DOUBLE) AS d_plus,
           CAST(CAST(MAX(dminus) AS VARCHAR) AS DOUBLE) AS d_minus
    FROM terms
)
SELECT m.n AS n_gaps,
       CAST(CAST(CAST(round(86400000000.0 * m.n / m.s, 6) AS DECIMAL(18,6))
                 AS VARCHAR) AS DOUBLE) AS lambda_per_day,
       d.d_plus, d.d_minus,
       CASE WHEN d.d_plus >= d.d_minus THEN d.d_plus ELSE d.d_minus END
         AS d_stat,
       CAST(CAST(CAST(round(sqrt(CAST(m.n AS DOUBLE))
                            * (CASE WHEN d.d_plus >= d.d_minus
                                    THEN d.d_plus ELSE d.d_minus END), 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS sqrt_n_d,
       sqrt(CAST(m.n AS DOUBLE))
         * (CASE WHEN d.d_plus >= d.d_minus THEN d.d_plus ELSE d.d_minus END)
         > 1.358 AS exp_rejected_05
FROM mm m, d
""",
)
def q324_ks_exponential_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of the event inter-arrival
    gaps against a FITTED exponential (lambda = n/sum(dt)): is the
    arrival process Poisson? a two-sample KS compares two empirical samples; q289
    tests the count dispersion; this is the third arrival diagnostic —
    the distribution-shape test against the model queueing theory
    assumes. Outputs D+, D-, D, sqrt(n)*D and a 5%-level flag at the
    asymptotic critical value 1.358 (documented caveat: that quantile
    assumes a FULLY SPECIFIED null; with lambda estimated from the same
    data it is conservative — the honest Lilliefors-style reading, the
    flag is directional evidence, not a calibrated p-value).

    Determinism: gaps are exact integer microseconds from a
    (ts, event_id)-ordered lag; ties collapse through a distinct-value
    pre-aggregate + cumulative window (the two-sample KS recipe), so the ECDF is
    exact integers over n; each per-value KS term quantizes
    round(.,6)->DECIMAL BEFORE the max (exp() is the one transcendental
    — Java Math.exp vs libm can diverge 1 ulp, the q194 ln lesson), so
    MAX compares exact decimals.

    Scale: one global sort for the lag (range-partitionable), one
    distinct-value aggregate + one ordered window over distinct gaps,
    two scalar folds. Nothing is quadratic; the distinct-gap relation
    is the only state."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        (us - F.lag(us).over(W.orderBy("ts", "event_id"))).alias("dt")
    )
    gaps = seq.filter(F.col("dt").isNotNull())
    mm = gaps.groupBy().agg(
        F.count("*").alias("n"), F.sum("dt").alias("s")
    )
    dv = gaps.groupBy("dt").agg(F.count("*").alias("cnt"))
    cum = dv.select(
        "dt",
        "cnt",
        F.sum("cnt")
        .over(W.orderBy("dt").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cle"),
    )
    lam = F.col("n").cast("double") / F.col("s")
    fexp = 1 - F.exp(-lam * F.col("dt"))
    q6d = lambda c: F.round(c, 6).cast("decimal(18,6)")  # noqa: E731
    terms = cum.crossJoin(F.broadcast(mm)).select(
        q6d(F.col("cle").cast("double") / F.col("n") - fexp).alias("dplus"),
        q6d(fexp - (F.col("cle") - F.col("cnt")).cast("double") / F.col("n")).alias(
            "dminus"
        ),
    )
    d = terms.groupBy().agg(
        F.max("dplus").cast("double").alias("d_plus"),
        F.max("dminus").cast("double").alias("d_minus"),
    )
    dstat = F.when(
        F.col("d_plus") >= F.col("d_minus"), F.col("d_plus")
    ).otherwise(F.col("d_minus"))
    q6 = lambda c: F.round(c, 6).cast("decimal(18,6)").cast("double")  # noqa: E731
    return mm.crossJoin(F.broadcast(d)).select(
        F.col("n").alias("n_gaps"),
        q6(F.lit(86400000000.0) * F.col("n") / F.col("s")).alias("lambda_per_day"),
        "d_plus",
        "d_minus",
        dstat.alias("d_stat"),
        q6(F.sqrt(F.col("n").cast("double")) * dstat).alias("sqrt_n_d"),
        (F.sqrt(F.col("n").cast("double")) * dstat > 1.358).alias(
            "exp_rejected_05"
        ),
    )


# ---------------------------------------------------------------------------
# q330 — cluster-bootstrap CI for a RATIO estimator (round 14).
# ---------------------------------------------------------------------------
def _ratio_boot_oracle() -> str:
    return f"""
WITH reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
po AS (
    SELECT l_orderkey,
           SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS num,
           SUM(CAST(l_quantity AS DECIMAL(14,2))) AS den
    FROM lineitem GROUP BY l_orderkey
),
m AS (
    SELECT b.b,
           {_boot_mult_sql("l_orderkey")} AS mult,
           num, den
    FROM po, reps b
),
ratios AS (
    SELECT b, {sql_double("SUM(mult * num)")} / {sql_double("SUM(mult * den)")}
             AS rep_ratio
    FROM m GROUP BY b
),
ranked AS (
    SELECT rep_ratio, ROW_NUMBER() OVER (ORDER BY rep_ratio, b) AS rk
    FROM ratios
),
plug AS (
    SELECT {sql_double("SUM(CAST(l_extendedprice AS DECIMAL(14,2)))")}
             / {sql_double("SUM(CAST(l_quantity AS DECIMAL(14,2)))")} AS ratio_full
    FROM lineitem
)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas, p.ratio_full,
       (SELECT rep_ratio FROM ranked WHERE rk = 2) AS ci_lo,
       (SELECT rep_ratio FROM ranked WHERE rk = {_BOOT_B - 1}) AS ci_hi,
       p.ratio_full - (SELECT rep_ratio FROM ranked WHERE rk = 2) AS lo_margin,
       (SELECT rep_ratio FROM ranked WHERE rk = {_BOOT_B - 1}) - p.ratio_full
         AS hi_margin
FROM plug p
"""


@query("q330_cluster_ratio_bootstrap", oracle=_ratio_boot_oracle())
def q330_cluster_ratio_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for a RATIO — revenue per unit quantity,
    sum(l_extendedprice)/sum(l_quantity) — with CLUSTER resampling:
    the replica multiplicity is hashed on l_orderkey, not on the
    lineitem row, so every line of an order enters a replica together.
    Two things q312 (mean CI) structurally cannot show:

    - the resampling unit differs from the data granularity — the
      correct bootstrap when rows are correlated within clusters
      (lines of one order share the order's discount/date context),
      and hashing on the CLUSTER key gives it for free: no join from
      an order-level draw table, no shuffle, the same one-scan Expand;
    - the estimator is a ratio of two random sums — biased and
      right-skewed, so the percentile CI is NOT symmetric around the
      plug-in ratio. The asymmetry is surfaced as (lo_margin,
      hi_margin): measured hi/lo = 1.82 at sf0.001 and 1.19 at sf0.01
      — the diagnostic the round-15 design required (a normal-theory
      +/- z*se interval would miss the skew entirely).

    Determinism is q312's md5 recipe verbatim (integer thresholds on
    md5 % 10000, truncated at 3); replica sums are exact decimals over
    integer multiplicities, divided ONCE into a double; the CI is
    percentile-by-order-statistic (ranks 2 and B-1). Scale: one
    lineitem scan pre-aggregated per ORDER (mult is constant within a
    cluster, so sum(mult*x) == mult*sum(x) exactly — decimal addition
    commutes with the integer multiplicity), then the order-level
    relation fanned xB=32 map-side and one (replica)-keyed aggregate +
    a B-row sort; the replica explode and the md5 touch |orders| rows,
    never |lineitem| x B."""
    li = load_table(spark, sf_dir, "lineitem")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    mult = _boot_mult("l_orderkey")
    # pre-aggregate per CLUSTER before the replica fan-out: mult is
    # constant within an order, so sum(mult*x) == mult*sum(x) exactly
    # (decimal addition is exact) — the Expand and the md5 run on the
    # order-level relation (|orders| rows), not |lineitem| x B. Measured
    # 34 s -> ~7 s at sf0.1; at 100 TB this is the difference between
    # hashing the fact table B times and hashing its cluster keys once
    # per replica.
    # the explicit repartition pins the fan-out's parallelism: AQE
    # coalesces the small per-order shuffle (a few MB) down to ~1
    # partition, which would serialize the x32 expand + md5 onto one
    # core (measured 8-31 s at sf0.1; spread, 2.6-9 s)
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("num"),
            F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("den"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    m = per_order.select(reps, "l_orderkey", "num", "den").select(
        "b", mult.alias("mult"), "num", "den"
    )
    ratios = m.groupBy("b").agg(
        (
            F.sum(F.col("mult") * F.col("num")).cast("double")
            / F.sum(F.col("mult") * F.col("den")).cast("double")
        ).alias("rep_ratio")
    )
    ranked = ratios.select(
        "rep_ratio", F.row_number().over(W.orderBy("rep_ratio", "b")).alias("rk")
    )
    plug = li.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(14,2)")).cast("double")
        ).alias("ratio_full")
    )
    lo = ranked.filter(F.col("rk") == 2).select(F.col("rep_ratio").alias("ci_lo"))
    hi = ranked.filter(F.col("rk") == _BOOT_B - 1).select(
        F.col("rep_ratio").alias("ci_hi")
    )
    return (
        plug.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
            "ratio_full",
            "ci_lo",
            "ci_hi",
            (F.col("ratio_full") - F.col("ci_lo")).alias("lo_margin"),
            (F.col("ci_hi") - F.col("ratio_full")).alias("hi_margin"),
        )
    )
