"""Operational statistics & process control — round-12 batch 2.

The operations-research shelf: sequence randomness (runs test), ordinal
association (Kendall tau), inventory classification (ABC-XYZ,
demand-intermittency), robust distribution shape (Bowley/Moors), A/B
proportions (two-proportion z), statistical process control (Shewhart
chart next to q216's CUSUM), distributional divergence (Jensen-Shannon),
embedding-space hygiene, and the pair-explosion planning audit behind
the MAX_BASKET bound.

Determinism: every statistic reduces to exact BIGINT / quantized-DECIMAL
moments with one identically-ordered double expression at the end
(quantized round(.,6)); ln terms follow the round-9 transcendental rule
(quantize the whole product once — libm drift is ulps, the quantum is
5e-7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.functions.vectors import dot, sql_dot
from kinesis_sample_spark.queries import query

_EPOCH = "DATE '1970-01-01'"


def _dec2(col):
    return F.round(col, 2).cast("decimal(18,2)")


def _q6(col):
    return F.round(col, 6).cast("decimal(18,6)")


# ---------------------------------------------------------------------------
# q273 — Wald-Wolfowitz runs test on daily revenue.
# ---------------------------------------------------------------------------
@query(
    "q273_runs_test",
    oracle=f"""
WITH daily AS (
    SELECT CAST(datediff('day', {_EPOCH}, o_orderdate) AS BIGINT) AS d,
           CAST(CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                     AS VARCHAR) AS DOUBLE) AS rev
    FROM orders GROUP BY 1
),
med AS (SELECT quantile_cont(rev, 0.5) AS m FROM daily),
signs AS (
    SELECT d, CASE WHEN rev > m THEN 1 ELSE 0 END AS s
    FROM daily, med
),
runs AS (
    SELECT CAST(SUM(s) AS BIGINT) AS n1,
           CAST(SUM(1 - s) AS BIGINT) AS n2,
           CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS r
    FROM (SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM signs) t
)
SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
       {sql_double(
           "CAST(round("
           "(CAST(r AS DOUBLE)"
           " - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
           "    / CAST(n1 + n2 AS DOUBLE) + 1))"
           " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
           "        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
           "           - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
           "        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
           "           * CAST(n1 + n2 - 1 AS DOUBLE)))"
           ", 6) AS DECIMAL(18,6))"
       )} AS z
FROM runs
""",
)
def q273_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the daily-revenue series random
    around its median, or does it trend/cluster? Each day is classified
    above/below the interpolated median (exact-tie days count below —
    explicit contract; the interpolated median is rarely attained),
    runs are counted with one ordered lag, and z is the normal
    approximation from exact counts. Complements q216 (CUSUM finds
    WHERE a shift is) and q260 (autocorrelation measures linear
    dependence) with the distribution-free randomness verdict.

    Scale: one date-keyed aggregate, one ordered window over the
    bounded day axis, one scalar row out."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d")
    ).agg(F.sum(_dec2(F.col("o_totalprice"))).cast("double").alias("rev"))
    med = daily.agg(F.expr("percentile(rev, 0.5D)").alias("m"))
    signs = daily.crossJoin(F.broadcast(med)).select(
        "d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
    )
    lagged = signs.select(
        "s", F.lag("s").over(W.orderBy("d")).alias("prev")
    )
    runs = lagged.agg(
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("s") != F.col("prev")), 1
                ).otherwise(0)
            )
        ).alias("r"),
    )
    n1, n2, r = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("r").cast("double"),
    )
    n = (F.col("n1") + F.col("n2")).cast("double")
    mu = F.lit(2.0) * n1 * n2 / n + 1
    sig = F.sqrt(
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (n * n * (F.col("n1") + F.col("n2") - 1).cast("double"))
    )
    return runs.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        _q6((r - mu) / sig).cast("double").alias("z"),
    )


# ---------------------------------------------------------------------------
# q274 — Kendall tau-a of the monthly revenue trend per priority.
# ---------------------------------------------------------------------------
@query(
    "q274_kendall_tau",
    oracle="""
WITH monthly AS (
    SELECT o_orderpriority,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS t,
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS rev
    FROM orders GROUP BY 1, 2
),
pairs AS (
    SELECT a.o_orderpriority,
           CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END AS conc,
           CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END AS disc
    FROM monthly a JOIN monthly b
      ON b.o_orderpriority = a.o_orderpriority AND b.t > a.t
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       CAST(SUM(conc) - SUM(disc) AS DOUBLE) / COUNT(*) AS tau_a
FROM pairs GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q274_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a of monthly revenue against time, per priority: the
    fraction of month pairs moving with (minus against) the trend —
    the ordinal cousin of q252 (Theil-Sen gives the robust SLOPE, tau
    gives the robust DIRECTION STRENGTH; q271's Spearman ranks values,
    tau counts concordances). Exact-revenue ties land in neither count
    (tau-a denominator keeps all pairs — documented contract).

    Pure integer counting over the bounded month self-join; tau is one
    division of exact counts.

    Scale: quadratic only in months, after the fact aggregates away."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("t"),
    ).agg(F.sum(_dec2(F.col("o_totalprice"))).cast("decimal(18,2)").alias("rev"))
    a = monthly.select(
        "o_orderpriority", F.col("t").alias("ta"), F.col("rev").alias("ra")
    )
    b = monthly.select(
        F.col("o_orderpriority").alias("pb"),
        F.col("t").alias("tb"),
        F.col("rev").alias("rb"),
    )
    pairs = a.join(
        b, (F.col("pb") == F.col("o_orderpriority")) & (F.col("tb") > F.col("ta"))
    ).select(
        "o_orderpriority",
        F.when(F.col("rb") > F.col("ra"), 1).otherwise(0).alias("conc"),
        F.when(F.col("rb") < F.col("ra"), 1).otherwise(0).alias("disc"),
    )
    return (
        pairs.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("conc").alias("concordant"),
            F.sum("disc").alias("discordant"),
            (
                (F.sum("conc") - F.sum("disc")).cast("double") / F.count("*")
            ).alias("tau_a"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q275 — ABC-XYZ inventory classification matrix.
# ---------------------------------------------------------------------------
@query(
    "q275_abc_xyz",
    oracle=f"""
WITH per_part AS (
    SELECT l_partkey,
           CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS rev
    FROM lineitem GROUP BY l_partkey
),
abc AS (
    SELECT l_partkey, rev,
           SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(rev) OVER () AS tot
    FROM per_part
),
abc_cls AS (
    SELECT l_partkey, rev,
           CASE WHEN 5 * cum <= 4 * tot THEN 'A'
                WHEN 20 * cum <= 19 * tot THEN 'B'
                ELSE 'C' END AS class_abc
    FROM abc
),
monthly AS (
    SELECT l_partkey,
           CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS INTEGER) AS m,
           CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS qty
    FROM lineitem GROUP BY 1, 2
),
xyz AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS nm,
           SUM(CAST(qty AS DECIMAL(19,2)) * qty) AS sqq, SUM(qty) AS sq
    FROM monthly GROUP BY l_partkey
),
xyz_cls AS (
    SELECT l_partkey,
           CASE WHEN nm < 2 THEN 'Z'
                WHEN cv IS NULL THEN 'Z'
                WHEN cv < CAST(0.5 AS DOUBLE) THEN 'X'
                WHEN cv < CAST(1.0 AS DOUBLE) THEN 'Y'
                ELSE 'Z' END AS class_xyz
    FROM (
        SELECT l_partkey, nm,
               CASE WHEN nm < 2 THEN NULL ELSE
                 CAST(round(
                   sqrt((CAST(nm AS DOUBLE) * {sql_double('sqq')}
                         - {sql_double('sq')} * {sql_double('sq')})
                        / (CAST(nm AS DOUBLE) * CAST(nm - 1 AS DOUBLE)))
                   / ({sql_double('sq')} / nm), 6) AS DECIMAL(18,6)) END AS cv
        FROM xyz
    ) t
)
SELECT a.class_abc, x.class_xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       {sql_double('SUM(a.rev)')} AS revenue
FROM abc_cls a JOIN xyz_cls x ON x.l_partkey = a.l_partkey
GROUP BY a.class_abc, x.class_xyz
ORDER BY a.class_abc, x.class_xyz
""",
)
def q275_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification: parts banded by cumulative
    revenue share (A ≤ 80%, B ≤ 95%, C — integer cross-multiply on the
    exact decimal cumsum, the q227 Pareto recipe) crossed with demand
    variability (CV of monthly shipped quantity: X < 0.5, Y < 1.0, Z —
    on the quantized CV, single-month parts are Z by contract). The
    nine-cell matrix is the stock-policy planning table; q229 bands
    customers, this bands the catalog.

    Scale: per-part and per-(part, month) aggregates ride one partkey
    shuffle each; the revenue cumsum is a global window ORDER BY
    revenue (range-partitionable sort); output is ≤ 9 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec2(F.col("l_extendedprice"))).cast("decimal(18,2)").alias("rev")
    )
    wcum = W.orderBy(F.col("rev").desc(), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    abc = per_part.select(
        "l_partkey",
        "rev",
        F.sum("rev").over(wcum).alias("cum"),
        F.sum("rev").over(wall).alias("tot"),
    )
    abc_cls = abc.select(
        "l_partkey",
        "rev",
        F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("class_abc"),
    )
    monthly = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("int")
        .alias("m"),
    ).agg(F.sum(_dec2(F.col("l_quantity"))).cast("decimal(18,2)").alias("qty"))
    xyz = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("nm"),
        F.sum(F.col("qty").cast("decimal(19,2)") * F.col("qty")).alias("sqq"),
        F.sum("qty").alias("sq"),
    )
    nmd = F.col("nm").cast("double")
    sqd, sqqd = F.col("sq").cast("double"), F.col("sqq").cast("double")
    cv = F.when(F.col("nm") < 2, F.lit(None).cast("decimal(18,6)")).otherwise(
        F.round(
            F.sqrt(
                (nmd * sqqd - sqd * sqd) / (nmd * (F.col("nm") - 1).cast("double"))
            )
            / (sqd / F.col("nm")),
            6,
        ).cast("decimal(18,6)")
    )
    xyz_cls = xyz.select(
        "l_partkey",
        F.when(F.col("nm") < 2, "Z")
        .when(cv.isNull(), "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("class_xyz"),
    )
    return (
        abc_cls.join(xyz_cls, "l_partkey")
        .groupBy("class_abc", "class_xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .orderBy("class_abc", "class_xyz")
    )


# ---------------------------------------------------------------------------
# q276 — Bowley skewness + Moors kurtosis per market segment.
# ---------------------------------------------------------------------------
@query(
    "q276_bowley_moors",
    oracle="""
WITH j AS (
    SELECT c.c_mktsegment, o.o_totalprice AS x
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
q AS (
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.5) AS q2,
           quantile_cont(x, 0.75) AS q3,
           quantile_cont(x, 0.125) AS e1, quantile_cont(x, 0.375) AS e3,
           quantile_cont(x, 0.625) AS e5, quantile_cont(x, 0.875) AS e7,
           quantile_cont(x, 0.25) AS e2, quantile_cont(x, 0.75) AS e6
    FROM j GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
       CAST(CAST(CAST(round((q3 + q1 - 2 * q2) / (q3 - q1), 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)
         AS bowley_skew,
       CAST(CAST(CAST(round(((e7 - e5) + (e3 - e1)) / (e6 - e2), 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)
         AS moors_kurtosis
FROM q ORDER BY c_mktsegment
""",
)
def q276_bowley_moors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based distribution shape per segment: Bowley skewness
    ((Q3+Q1-2·Q2)/(Q3-Q1), bounded [-1, 1]) and Moors kurtosis on
    octiles — the robust shape panel that moment skewness/kurtosis
    can't deliver under heavy tails (q128 winsorizes; this
    characterizes the shape itself). Both statistics are
    ratios of exact interpolated percentiles over identical doubles,
    quantized round(.,6).

    Scale: a broadcast dimension join and one percentile aggregate per
    segment — the percentile state is the only non-constant memory."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select("c_mktsegment", F.col("o_totalprice").alias("x"))
    q = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.expr("percentile(x, 0.25D)").alias("q1"),
        F.expr("percentile(x, 0.5D)").alias("q2"),
        F.expr("percentile(x, 0.75D)").alias("q3"),
        F.expr("percentile(x, 0.125D)").alias("e1"),
        F.expr("percentile(x, 0.375D)").alias("e3"),
        F.expr("percentile(x, 0.625D)").alias("e5"),
        F.expr("percentile(x, 0.875D)").alias("e7"),
    )
    bowley = (F.col("q3") + F.col("q1") - 2 * F.col("q2")) / (
        F.col("q3") - F.col("q1")
    )
    moors = ((F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1"))) / (
        F.col("q3") - F.col("q1")
    )
    return q.select(
        "c_mktsegment",
        "n",
        _q6(bowley).cast("double").alias("bowley_skew"),
        _q6(moors).cast("double").alias("moors_kurtosis"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q277 — two-proportion z-test: weekend vs weekday purchase share.
# ---------------------------------------------------------------------------
@query(
    "q277_two_proportion_ztest",
    oracle=f"""
WITH tagged AS (
    SELECT CASE WHEN datediff('day', {_EPOCH}, ts) % 7 IN (2, 3)
                THEN 1 ELSE 0 END AS weekend,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
    FROM events
),
s AS (
    SELECT CAST(SUM(weekend * conv) AS BIGINT) AS x1,
           CAST(SUM(weekend) AS BIGINT) AS n1,
           CAST(SUM((1 - weekend) * conv) AS BIGINT) AS x2,
           CAST(SUM(1 - weekend) AS BIGINT) AS n2
    FROM tagged
)
SELECT x1 AS weekend_purchases, n1 AS weekend_events,
       x2 AS weekday_purchases, n2 AS weekday_events,
       CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2 AS rate_diff,
       {sql_double(
           "CAST(round("
           "(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)"
           " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
           "        * (1 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
           "        * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2))"
           ", 6) AS DECIMAL(18,6))"
       )} AS z
FROM s
""",
)
def q277_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test: does the purchase share of weekend
    events (epoch-day % 7 in (2, 3) = Sat/Sun, day 0 = Thursday)
    differ from weekdays? The A/B-testing primitive the registry's test
    family lacked (KS compares continuous shapes, q262 ranks, q222
    is an independence table — this is the proportion comparison every
    experiment readout runs first).

    Counts are exact; the rate difference and pooled z are single
    identically-ordered double expressions (z quantized round(.,6)).

    Scale: one conditional-sum pass over the fact, one scalar row."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    weekend = (
        F.pmod(F.datediff(F.col("ts"), epoch), F.lit(7)).isin(2, 3)
    ).cast("int")
    conv = (F.col("event_type") == "purchase").cast("int")
    s = ev.select(weekend.alias("w"), conv.alias("c")).agg(
        F.sum(F.col("w") * F.col("c")).alias("x1"),
        F.sum("w").alias("n1"),
        F.sum((1 - F.col("w")) * F.col("c")).alias("x2"),
        F.sum(1 - F.col("w")).alias("n2"),
    )
    x1, n1 = F.col("x1").cast("double"), F.col("n1")
    x2, n2 = F.col("x2").cast("double"), F.col("n2")
    diff = x1 / n1 - x2 / n2
    pooled = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    z = diff / F.sqrt(
        pooled
        * (1 - pooled)
        * (F.lit(1.0).cast("double") / n1 + F.lit(1.0).cast("double") / n2)
    )
    return s.select(
        F.col("x1").alias("weekend_purchases"),
        F.col("n1").alias("weekend_events"),
        F.col("x2").alias("weekday_purchases"),
        F.col("n2").alias("weekday_events"),
        diff.alias("rate_diff"),
        _q6(z).cast("double").alias("z"),
    )


# ---------------------------------------------------------------------------
# q278 — demand intermittency (Syntetos-Boylan ADI / CV² classes).
# ---------------------------------------------------------------------------
@query(
    "q278_demand_intermittency",
    oracle=f"""
WITH monthly AS (
    SELECT l_partkey,
           CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS INTEGER) AS m,
           CAST(SUM(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS qty
    FROM lineitem GROUP BY 1, 2
),
span AS (
    SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n_periods FROM monthly
),
per_part AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS nm,
           SUM(CAST(qty AS DECIMAL(19,2)) * qty) AS sqq, SUM(qty) AS sq
    FROM monthly GROUP BY l_partkey
),
scored AS (
    SELECT p.l_partkey,
           CAST(round(CAST(s.n_periods AS DOUBLE) / p.nm, 6)
                AS DECIMAL(18,6)) AS adi,
           CASE WHEN p.nm < 2 THEN NULL ELSE
             CAST(round(
               ((CAST(p.nm AS DOUBLE) * {sql_double('p.sqq')}
                 - {sql_double('p.sq')} * {sql_double('p.sq')})
                / (CAST(p.nm AS DOUBLE) * CAST(p.nm - 1 AS DOUBLE)))
               / (({sql_double('p.sq')} / p.nm) * ({sql_double('p.sq')} / p.nm))
               , 6) AS DECIMAL(18,6)) END AS cv2
    FROM per_part p, span s
)
SELECT CASE WHEN cv2 IS NULL THEN 'lumpy'
            WHEN adi < CAST(1.32 AS DOUBLE) AND cv2 < CAST(0.49 AS DOUBLE)
              THEN 'smooth'
            WHEN adi >= CAST(1.32 AS DOUBLE) AND cv2 < CAST(0.49 AS DOUBLE)
              THEN 'intermittent'
            WHEN adi < CAST(1.32 AS DOUBLE) THEN 'erratic'
            ELSE 'lumpy' END AS demand_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       {sql_double('SUM(adi)')} / COUNT(*) AS avg_adi
FROM scored GROUP BY 1 ORDER BY demand_class
""",
)
def q278_demand_intermittency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand classification per part: ADI (average
    inter-demand interval = observed periods / demand months) crossed
    with CV² of nonzero monthly demand at the canonical 1.32 / 0.49
    cutoffs → smooth / intermittent / erratic / lumpy. The forecast-
    method router (Croston vs SES vs bootstrap) every supply chain runs
    before forecasting anything; q275 bands by value, this bands by
    forecastability. Single-demand-month parts are 'lumpy' by contract
    (CV² undefined).

    ADI and CV² are quantized round(.,6) decimals from exact moments;
    class boundaries compare decimals against CAST-to-DOUBLE literals
    (bare 1.32 would be DECIMAL in DuckDB and double in Spark).

    Scale: one (part, month) aggregate, one per-part rollup, a
    broadcast scalar for the period span; 4-row output."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("int")
        .alias("m"),
    ).agg(F.sum(_dec2(F.col("l_quantity"))).cast("decimal(18,2)").alias("qty"))
    span = monthly.agg(F.countDistinct("m").alias("n_periods"))
    per_part = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("nm"),
        F.sum(F.col("qty").cast("decimal(19,2)") * F.col("qty")).alias("sqq"),
        F.sum("qty").alias("sq"),
    )
    nmd = F.col("nm").cast("double")
    sqd, sqqd = F.col("sq").cast("double"), F.col("sqq").cast("double")
    mean = sqd / F.col("nm")
    cv2 = F.when(F.col("nm") < 2, F.lit(None).cast("decimal(18,6)")).otherwise(
        F.round(
            ((nmd * sqqd - sqd * sqd) / (nmd * (F.col("nm") - 1).cast("double")))
            / (mean * mean),
            6,
        ).cast("decimal(18,6)")
    )
    scored = per_part.crossJoin(F.broadcast(span)).select(
        F.round(F.col("n_periods").cast("double") / F.col("nm"), 6)
        .cast("decimal(18,6)")
        .alias("adi"),
        cv2.alias("cv2"),
    )
    cls = (
        F.when(F.col("cv2").isNull(), "lumpy")
        .when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when(F.col("adi") < 1.32, "erratic")
        .otherwise("lumpy")
    )
    return (
        scored.groupBy(cls.alias("demand_class"))
        .agg(
            F.count("*").alias("n_parts"),
            (F.sum("adi").cast("double") / F.count("*")).alias("avg_adi"),
        )
        .orderBy("demand_class")
    )


# ---------------------------------------------------------------------------
# q279 — embedding norm profile per label.
# ---------------------------------------------------------------------------
@query(
    "q279_embedding_norm_profile",
    oracle=f"""
WITH n AS (
    SELECT label, sqrt({sql_dot('embedding', 'embedding')}) AS nrm
    FROM embeddings
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {sql_double('SUM(CAST(round(nrm, 6) AS DECIMAL(18,6)))')} / COUNT(*)
         AS mean_norm,
       quantile_cont(nrm, 0.5) AS p50_norm,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
FROM n GROUP BY label ORDER BY label
""",
)
def q279_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm profile of the embedding space per label: mean (over
    quantized per-row norms so the sum is exact), median, and min/max.
    The first hygiene check on any embedding table — a label whose norm
    band separates from the rest signals a different encoder version or
    un-normalized batch, which silently breaks every cosine threshold
    downstream (q34/q36/q257 all assume one norm regime).

    Norms use the engine's sequential-fold dot product (bit-equal to
    DuckDB's list_dot_product, q34-proven); percentile/min/max compare
    identical doubles.

    Scale: map-only per-row fold + one bounded per-label aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    n = emb.select("label", nrm.alias("nrm"))
    return (
        n.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum(_q6(F.col("nrm"))).cast("double") / F.count("*")).alias(
                "mean_norm"
            ),
            F.expr("percentile(nrm, 0.5D)").alias("p50_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q280 — Jensen-Shannon divergence of each source's language mix.
# ---------------------------------------------------------------------------
@query(
    "q280_source_lang_jsd",
    oracle="""
WITH sl AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY source, lang
),
src_tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sl GROUP BY source),
glang AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS g FROM sl GROUP BY lang),
glang_tot AS (SELECT CAST(SUM(g) AS BIGINT) AS ng FROM glang),
grid AS (
    SELECT st.source, gl.lang,
           COALESCE(sl.c, 0) AS c, st.ns, gl.g, gt.ng
    FROM src_tot st
    CROSS JOIN glang gl
    CROSS JOIN glang_tot gt
    LEFT JOIN sl ON sl.source = st.source AND sl.lang = gl.lang
),
terms AS (
    SELECT source,
           CAST(c AS DOUBLE) / ns AS p,
           CAST(g AS DOUBLE) / ng AS q,
           (CAST(c AS DOUBLE) / ns + CAST(g AS DOUBLE) / ng) / 2 AS mid
    FROM grid
),
h AS (
    SELECT source,
           SUM(CASE WHEN p > 0
                    THEN CAST(round(p * ln(p), 6) AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS sp,
           SUM(CAST(round(q * ln(q), 6) AS DECIMAL(18,6))) AS sq,
           SUM(CAST(round(mid * ln(mid), 6) AS DECIMAL(18,6))) AS sm,
           CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_langs
    FROM terms GROUP BY source
)
SELECT h.source, t.ns AS n_docs, h.n_langs,
       CAST(CAST(h.sp AS VARCHAR) AS DOUBLE) / 2
         + CAST(CAST(h.sq AS VARCHAR) AS DOUBLE) / 2
         - CAST(CAST(h.sm AS VARCHAR) AS DOUBLE) AS jsd_nats
FROM h JOIN src_tot t ON t.source = h.source
ORDER BY h.source
""",
)
def q280_source_lang_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's language mix and
    the corpus-wide mix: JSD = H(m) − (H(p)+H(q))/2 with m the even
    mixture — the bounded, symmetric atypicality score for source
    vetting (q240 compares categorical drift over TIME;
    this ranks sources against the corpus). Languages absent from a
    source contribute only their mixture/global terms (p·ln p → 0).

    Each x·ln(x) product is quantized round(.,6) → DECIMAL once (the
    transcendental rule applied to whole terms), so the three entropy
    sums are exact; the final combination runs in doubles (each exact
    sum surfaced through the correctly-rounded VARCHAR path, then one
    identically-ordered expression) because decimal-division scale
    rules differ between the engines.

    Scale: one (source × lang) aggregate; the grid is sources × the
    handful of languages; everything else is bounded."""
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    src_tot = sl.groupBy("source").agg(F.sum("c").alias("ns"))
    glob = sl.groupBy("lang").agg(F.sum("c").alias("g"))
    glob_tot = glob.agg(F.sum("g").alias("ng"))
    grid = (
        src_tot.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(glob_tot))
        .join(sl, ["source", "lang"], "left")
        .select(
            "source",
            F.coalesce("c", F.lit(0)).alias("c"),
            "ns",
            "g",
            "ng",
        )
    )
    p = F.col("c").cast("double") / F.col("ns")
    qq = F.col("g").cast("double") / F.col("ng")
    mid = (p + qq) / 2
    zero6 = F.lit(0).cast("decimal(18,6)")
    terms = grid.select(
        "source",
        F.when(F.col("c") > 0, _q6(p * F.log(p))).otherwise(zero6).alias("tp"),
        _q6(qq * F.log(qq)).alias("tq"),
        _q6(mid * F.log(mid)).alias("tm"),
        (F.col("c") > 0).cast("int").alias("present"),
    )
    h = terms.groupBy("source").agg(
        F.sum("tp").cast("decimal(18,6)").alias("sp"),
        F.sum("tq").cast("decimal(18,6)").alias("sq"),
        F.sum("tm").alias("sm"),
        F.sum("present").alias("n_langs"),
    )
    jsd = (
        F.col("sp").cast("double") / 2
        + F.col("sq").cast("double") / 2
        - F.col("sm").cast("double")
    )
    return (
        h.join(src_tot, "source")
        .select(
            "source",
            F.col("ns").alias("n_docs"),
            "n_langs",
            jsd.alias("jsd_nats"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q281 — basket-size fan-out audit (the MAX_BASKET planning table).
# ---------------------------------------------------------------------------
@query(
    "q281_basket_fanout_audit",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sizes AS (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
    FROM op GROUP BY l_orderkey
),
dist AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) * (k * (k - 1) / 2) AS BIGINT) AS total_pairs
    FROM sizes GROUP BY k
),
tot AS (SELECT CAST(SUM(total_pairs) AS BIGINT) AS all_pairs FROM dist)
SELECT d.k AS basket_size, d.n_orders, d.total_pairs,
       CAST(d.total_pairs AS DOUBLE) / t.all_pairs AS pair_share
FROM dist d, tot t ORDER BY d.k
""",
)
def q281_basket_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution with its implied pair fan-out: per
    distinct-item basket size k, the order count and the k·(k−1)/2 pair
    volume those baskets inject into any co-purchase self-join — the
    capacity-planning table that justifies (or re-tunes) the MAX_BASKET
    cap every graph-family query rides (q198/q220/q230/q241). A fat
    tail here is the early warning BEFORE a pair shuffle blows up;
    pair_share shows exactly which sizes dominate the join cost.

    Pure integer arithmetic; pair_share is one division of exact
    counts.

    Scale: two aggregates on the orderkey shuffle; output is bounded by
    the max basket size."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    sizes = op.groupBy("l_orderkey").agg(F.count("*").alias("k"))
    dist = sizes.groupBy("k").agg(
        F.count("*").alias("n_orders"),
        (F.count("*") * (F.col("k") * (F.col("k") - 1) / 2))
        .cast("bigint")
        .alias("total_pairs"),
    )
    tot = dist.agg(F.sum("total_pairs").alias("all_pairs"))
    return (
        dist.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("basket_size"),
            "n_orders",
            "total_pairs",
            (F.col("total_pairs").cast("double") / F.col("all_pairs")).alias(
                "pair_share"
            ),
        )
        .orderBy("basket_size")
    )


# ---------------------------------------------------------------------------
# q282 — Shewhart control chart (X chart over monthly revenue).
# ---------------------------------------------------------------------------
_SPC_BASELINE_MONTHS = 24


@query(
    "q282_control_chart",
    oracle=f"""
WITH monthly AS (
    SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER)
             AS m,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
             AS month,
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS rev
    FROM orders GROUP BY 1, 2
),
ranked AS (
    SELECT m, month, rev, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM monthly
),
base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS nb,
           SUM(CAST(rev AS DECIMAL(19,2)) * rev) AS sqq, SUM(rev) AS sq
    FROM ranked WHERE rn <= {_SPC_BASELINE_MONTHS}
)
SELECT r.month, {sql_double('r.rev')} AS rev,
       {sql_double(
           "CAST(round("
           "({rv} - {sqd} / b.nb)"
           " / sqrt((CAST(b.nb AS DOUBLE) * {sqqd} - {sqd} * {sqd})"
           "        / (CAST(b.nb AS DOUBLE) * CAST(b.nb - 1 AS DOUBLE)))"
           ", 6) AS DECIMAL(18,6))".format(
               rv=sql_double("r.rev"), sqd=sql_double("b.sq"),
               sqqd=sql_double("b.sqq"),
           )
       )} AS zscore,
       CASE WHEN abs(
           ({sql_double('r.rev')} - {sql_double('b.sq')} / b.nb)
           / sqrt((CAST(b.nb AS DOUBLE) * {sql_double('b.sqq')}
                   - {sql_double('b.sq')} * {sql_double('b.sq')})
                  / (CAST(b.nb AS DOUBLE) * CAST(b.nb - 1 AS DOUBLE)))
         ) > 3 THEN 1 ELSE 0 END AS out_of_control
FROM ranked r, base b
WHERE r.rn > {_SPC_BASELINE_MONTHS}
ORDER BY r.month
""",
)
def q282_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals chart: the first 24 months freeze the
    baseline (mean and sample σ from exact decimal moments); every
    later month is scored (x − μ)/σ and flagged beyond ±3σ. The
    monitoring complement to q216 — CUSUM accumulates small sustained
    shifts, the Shewhart chart catches single large excursions; ran
    together they are the classic SPC pair. The baseline is a FIXED
    training window (first 24 by month order), not a rolling one, so
    limits never chase the drift they exist to detect.

    zscore is one identically-ordered double expression from exact
    sums, quantized round(.,6); the flag derives from the same
    expression (INT, not BOOLEAN — engine boolean dtypes differ under
    the driver's pandas gate).

    Scale: one bounded month aggregate; baseline is a broadcast scalar
    row; flagging is a map over the month axis."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("m"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(F.sum(_dec2(F.col("o_totalprice"))).cast("decimal(18,2)").alias("rev"))
    ranked = monthly.withColumn("rn", F.row_number().over(W.orderBy("m")))
    base = ranked.filter(F.col("rn") <= _SPC_BASELINE_MONTHS).agg(
        F.count("*").alias("nb"),
        F.sum(F.col("rev").cast("decimal(19,2)") * F.col("rev")).alias("sqq"),
        F.sum("rev").alias("sq"),
    )
    j = ranked.filter(F.col("rn") > _SPC_BASELINE_MONTHS).crossJoin(
        F.broadcast(base)
    )
    nbd = F.col("nb").cast("double")
    sqd, sqqd = F.col("sq").cast("double"), F.col("sqq").cast("double")
    sigma = F.sqrt(
        (nbd * sqqd - sqd * sqd) / (nbd * (F.col("nb") - 1).cast("double"))
    )
    z = (F.col("rev").cast("double") - sqd / F.col("nb")) / sigma
    return j.select(
        "month",
        F.col("rev").cast("double").alias("rev"),
        _q6(z).cast("double").alias("zscore"),
        F.when(F.abs(z) > 3, 1).otherwise(0).alias("out_of_control"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# q309 — z-order locality audit (round 14).
# ---------------------------------------------------------------------------
_Z_BITS = 8  # 256 levels per dimension, 16-bit z-value


def _z_sql(d: str, c: str, shl, shr) -> str:
    """Bit-interleave two 8-bit bucket expressions into a 16-bit z-value.
    ``shl``/``shr`` render shifts per engine (Spark: shiftleft/shiftright
    functions; DuckDB: << / >> operators) over identical integer math."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(shl(f"({shr(d, b)} & 1)", 2 * b + 1))
        terms.append(shl(f"({shr(c, b)} & 1)", 2 * b))
    return "(" + " + ".join(terms) + ")"


def _zorder_sql(dialect: str) -> str:
    if dialect == "spark":
        shl = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
        shr = lambda e, n: f"shiftright({e}, {n})"  # noqa: E731
        idiv = "DIV"
        days = "datediff(DAY, DATE '1970-01-01', o_orderdate)"
    else:
        shl = lambda e, n: f"(({e}) << {n})"  # noqa: E731
        shr = lambda e, n: f"(({e}) >> {n})"  # noqa: E731
        idiv = "//"
        days = "datediff('day', DATE '1970-01-01', o_orderdate)"
    z = _z_sql("d8", "c8", shl, shr)
    return f"""
WITH bounds AS (
    SELECT CAST(MIN({days}) AS BIGINT) AS mind,
           CAST(MAX({days}) AS BIGINT) AS maxd,
           CAST(MAX(o_custkey) AS BIGINT) AS maxc
    FROM orders
),
bucketed AS (
    SELECT ((CAST({days} AS BIGINT) - b.mind)
              * 256) {idiv} (b.maxd - b.mind + 1) AS d8,
           (CAST(o_custkey AS BIGINT) * 256) {idiv} (b.maxc + 1) AS c8
    FROM orders, bounds b
),
zed AS (
    SELECT d8, c8, {z} AS z FROM bucketed
),
z_spans AS (
    SELECT {shr('z', 10)} AS bucket,
           MAX(d8) - MIN(d8) AS d_span, MAX(c8) - MIN(c8) AS c_span
    FROM zed GROUP BY 1
),
d_spans AS (
    SELECT {shr('d8', 2)} AS bucket,
           MAX(d8) - MIN(d8) AS d_span, MAX(c8) - MIN(c8) AS c_span
    FROM zed GROUP BY 1
)
SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(sd AS BIGINT) / CAST(n_buckets AS BIGINT) AS avg_d_span,
       CAST(sc AS BIGINT) / CAST(n_buckets AS BIGINT) AS avg_c_span
FROM (
    SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
           SUM(d_span) AS sd, SUM(c_span) AS sc FROM z_spans
    UNION ALL
    SELECT 'date_range', COUNT(*), SUM(d_span), SUM(c_span) FROM d_spans
) t
ORDER BY layout
"""


@query("q309_zorder_locality_audit", oracle=_zorder_sql("duckdb"))
def q309_zorder_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement behind a layout decision every 100 TB table faces:
    does z-order (Morton) clustering on (order date, customer) beat a
    plain date-range sort for two-dimensional pruning? Orders map to an
    exact integer grid (256 levels per dimension via integer-DIV range
    bucketing), the 16-bit z-value interleaves the bits, and both
    candidate layouts are bucketed (top-6 z-bits vs top-6 date bits —
    64 buckets each). Per bucket the audit reads the d- and c-span a
    min/max-pruned scan would carry; the output is each layout's average
    span per dimension — z-order shows BOTH spans bounded (~2^5 each),
    the date sort shows a full 255 customer span. That pair of numbers
    IS the file-skipping story: a predicate on either dimension prunes
    z-ordered files, but only date predicates prune the date sort.

    Everything is integer arithmetic (DIV bucketing, bit interleave via
    shift/mask, span = max - min, average = one BIGINT division), so the
    audit is bit-identical across engines; shifts render per dialect,
    the math is one shared template.

    Scale: two aggregations over a map-side-computed z-value — the audit
    costs two bounded groupBys regardless of table size, which is why
    it should run BEFORE rewriting petabytes into either layout."""
    from kinesis_sample_spark.catalog import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(_zorder_sql("spark"))


# ---------------------------------------------------------------------------
# q318 — rendezvous (HRW) shard rebalance law (round 14).
# ---------------------------------------------------------------------------
_HRW_OLD = 7  # shards before scale-out
_HRW_NEW = 8  # shards after (one added)


def _hrw_oracle() -> str:
    from kinesis_sample_spark.functions.hashing import md5_long_sql

    h = md5_long_sql(
        "'hrw:' || CAST(s.shard AS VARCHAR) || ':' || CAST(k.key AS VARCHAR)"
    )
    shards = ",".join(f"({i})" for i in range(_HRW_NEW))
    return f"""
WITH keys AS (SELECT o_orderkey AS key FROM orders),
shards AS (SELECT shard FROM (VALUES {shards}) AS t(shard)),
scored AS (
  SELECT k.key, s.shard, {h} AS h
  FROM keys k CROSS JOIN shards s
),
assign AS (
  SELECT key,
         max_by(shard, h) FILTER (WHERE shard < {_HRW_OLD}) AS old_shard,
         max_by(shard, h) AS new_shard
  FROM scored GROUP BY key
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM assign),
per AS (
  SELECT g.shard,
         CAST(COALESCE(SUM(CASE WHEN a.old_shard = g.shard THEN 1 END), 0)
              AS BIGINT) AS n_old,
         CAST(COALESCE(SUM(CASE WHEN a.new_shard = g.shard THEN 1 END), 0)
              AS BIGINT) AS n_new,
         CAST(COALESCE(SUM(CASE WHEN a.new_shard = g.shard
                                 AND a.old_shard <> a.new_shard
                            THEN 1 END), 0) AS BIGINT) AS n_arrived
  FROM shards g LEFT JOIN assign a
    ON a.old_shard = g.shard OR a.new_shard = g.shard
  GROUP BY g.shard
)
SELECT shard, n_old, n_new, n_arrived,
       (n_arrived = 0 OR shard = {_HRW_OLD}) AND
       (shard < {_HRW_OLD} OR n_old = 0) AS arrivals_only_at_new,
       (shard >= {_HRW_OLD} OR n_new <= n_old) AS old_shards_only_shrink,
       (SELECT SUM(n_arrived) FROM per) * {_HRW_NEW}
         <= 2 * (SELECT n FROM nn) AS moved_fraction_bounded,
       {_HRW_NEW} * (SELECT MAX(n_new) FROM per)
         <= 2 * {_HRW_NEW} * (SELECT MIN(n_new) FROM per)
           + (SELECT n FROM nn) AS balanced
FROM per
ORDER BY shard
"""


@query("q318_rendezvous_rebalance", oracle=_hrw_oracle())
def q318_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment under a
    7→8 scale-out, with the minimal-disruption law gated per shard:
    every order key scores each shard by md5('hrw:'||shard||':'||key)
    and lands on the argmax. Adding shard 7 can only STEAL the keys
    whose new top score is the new shard — so (a) arrivals_only_at_new:
    no key migrates between the 7 old shards, (b)
    old_shards_only_shrink: each old shard's population can only
    decrease, (c) moved_fraction_bounded: the total moved mass is
    ~n/8 (gated at <= 2n/8 in exact integer math), (d) balanced:
    max new-shard load <= 2x min + slack. This is the consistent-
    placement algebra every distributed store/stream reshard leans on
    (the Kinesis resharding story, A15, made checkable engine-side) —
    and the counts themselves cross the hash gate, not just the
    booleans, because md5 scoring is layout-free.

    Argmax determinism: max_by over the md5 scores; ties are impossible
    in practice (distinct 'hrw:shard:key' strings under a 60-bit
    truncated md5 — a collision would need ~2^30 keys per shard pair),
    so both engines pick identical shards with no tie-break clause.

    Scale: the score relation is keys x 8 rows, map-generated
    (explode over a literal shard table, no shuffle), partial-aggregated
    per key (max_by combines map-side), then an 8-row census.
    Re-scoring at 100 TB is embarrassingly parallel; the law holds at
    any n because it is structural, not statistical."""
    from kinesis_sample_spark.functions.hashing import md5_long

    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("key"))
    scored = keys.select(
        "key", F.explode(F.sequence(F.lit(0), F.lit(_HRW_NEW - 1))).alias("shard")
    ).select(
        "key",
        "shard",
        md5_long(
            F.concat(
                F.lit("hrw:"),
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("key").cast("string"),
            )
        ).alias("h"),
    )
    assign = scored.groupBy("key").agg(
        F.expr(f"max_by(shard, h) FILTER (WHERE shard < {_HRW_OLD})").alias(
            "old_shard"
        ),
        F.expr("max_by(shard, h)").alias("new_shard"),
    )
    n = assign.groupBy().agg(F.count("*").alias("n"))
    old_c = assign.groupBy(F.col("old_shard").alias("shard")).agg(
        F.count("*").alias("n_old")
    )
    new_c = assign.groupBy(F.col("new_shard").alias("shard")).agg(
        F.count("*").alias("n_new"),
        F.sum(
            F.when(F.col("old_shard") != F.col("new_shard"), 1).otherwise(0)
        ).alias("n_arrived"),
    )
    grid = spark.range(_HRW_NEW).select(F.col("id").cast("int").alias("shard"))
    per = (
        grid.join(F.broadcast(old_c), "shard", "left")
        .join(F.broadcast(new_c), "shard", "left")
        .select(
            "shard",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_arrived", F.lit(0)).alias("n_arrived"),
        )
    )
    tot = per.groupBy().agg(
        F.sum("n_arrived").alias("moved"),
        F.max("n_new").alias("mx"),
        F.min("n_new").alias("mnw"),
    )
    old_n = _HRW_OLD
    return (
        per.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_old",
            "n_new",
            "n_arrived",
            (
                ((F.col("n_arrived") == 0) | (F.col("shard") == old_n))
                & ((F.col("shard") < old_n) | (F.col("n_old") == 0))
            ).alias("arrivals_only_at_new"),
            (
                (F.col("shard") >= old_n) | (F.col("n_new") <= F.col("n_old"))
            ).alias("old_shards_only_shrink"),
            (F.col("moved") * _HRW_NEW <= 2 * F.col("n")).alias(
                "moved_fraction_bounded"
            ),
            (
                _HRW_NEW * F.col("mx")
                <= 2 * _HRW_NEW * F.col("mnw") + F.col("n")
            ).alias("balanced"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q333 — batch Observation / CollectMetrics audit (round 15).
# ---------------------------------------------------------------------------
_OBS_CUT = "DATE '1998-09-02'"  # q01's cut, the engine's canonical filter


@query(
    "q333_observed_metrics_audit",
    oracle=f"""
WITH f AS (
  SELECT l_returnflag, l_quantity, l_extendedprice, l_shipdate
  FROM lineitem WHERE l_shipdate <= {_OBS_CUT}
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS obs_rows,
         {sql_double('sum(l_quantity)')} AS obs_sum_qty,
         {sql_double('min(l_extendedprice)')} AS obs_min_price,
         {sql_double('max(l_extendedprice)')} AS obs_max_price,
         CAST(max(l_shipdate) AS TIMESTAMP) AS obs_last_ship
  FROM f
),
g AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS grp_rows,
         {sql_double('sum(l_quantity)')} AS grp_qty
  FROM f GROUP BY l_returnflag
)
SELECT g.l_returnflag, g.grp_rows, g.grp_qty,
       m.obs_rows, m.obs_sum_qty, m.obs_min_price, m.obs_max_price,
       m.obs_last_ship
FROM g, m
ORDER BY l_returnflag
""",
)
def q333_observed_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ``Observation`` / CollectMetrics — the observability channel
    the registry had never exercised outside streaming (q186 gates the
    per-micro-batch ``observe`` partials that ``streaming/observe.py``
    reads from a streaming query's progress). A ``df.observe(...)`` plants a CollectMetrics node
    mid-plan; its aggregates ride the SAME task pass as the query (an
    AggregatingAccumulator, not a second job), and the driver reads them
    from ``Observation.get`` after the first action. The A17 story at
    scale: row-count/checksum audits on a 100 TB pipeline must be free —
    observed metrics cost zero extra scans, unlike a separate COUNT(*)
    pass over the fact table.

    The gate makes the channel itself the thing under test: the observed
    scalar metrics (row count, quantity sum, price min/max, last ship
    date — collected from the accumulator channel) are attached to the
    per-returnflag aggregate via a broadcast single-row join, and the
    oracle recomputes BOTH relations in SQL from the same filtered scan.
    If CollectMetrics ever saw a different row set than the aggregation
    consuming the same relation (dropped partition, double-counted retry,
    filter pushed past the metrics point), the observed columns diverge
    from the oracle's scalar subquery and the hash gate fails.

    Determinism: count/min/max/date are order-insensitive, hence exact.
    ``l_quantity`` is DoubleType in the fixtures (FIXTURES.md), so both
    sums are plain double sums whose partial-aggregation order Spark does
    NOT fix — they are deterministic here only because every fixture
    quantity is INTEGRAL (integer-valued doubles sum exactly below 2^53,
    in any order, on both engines). That invariant is pinned in-band: a
    sixth observed metric counts fractional quantities on the SAME
    CollectMetrics pass (zero extra scans) and the query raises if it is
    ever nonzero, so a fractional fixture fails loudly here instead of
    flaking the hash gate. The eager localCheckpoint is the one action
    that populates the observation; the returned plan reads the
    checkpointed grouped relation, so no re-execution can re-fire (and
    double-count) the accumulator."""
    from pyspark.sql import Observation

    cut = _OBS_CUT.split("'")[1]
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(cut).cast("date")
    )
    obs = Observation("q333_audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("obs_rows"),
        F.sum("l_quantity").alias("obs_sum_qty"),
        F.min("l_extendedprice").alias("obs_min_price"),
        F.max("l_extendedprice").alias("obs_max_price"),
        F.max("l_shipdate").alias("obs_last_ship"),
        # invariant guard (not an output column): double sums above are
        # order-deterministic ONLY while every quantity is integral
        F.sum(
            F.when(F.col("l_quantity") != F.floor("l_quantity"), 1).otherwise(0)
        ).alias("obs_fractional_qty"),
    )
    grouped = (
        observed.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("grp_rows"),
            F.sum("l_quantity").cast("double").alias("grp_qty"),
        )
        # eager: runs the plan once, firing CollectMetrics exactly once
        .localCheckpoint(eager=True)
    )
    m = obs.get  # blocks on the action above; dict of observed values
    if int(m["obs_fractional_qty"] or 0) != 0:
        raise RuntimeError(
            f"q333: {m['obs_fractional_qty']} fractional l_quantity values — "
            "the integral-doubles-sum-exactly invariant this query's "
            "determinism rests on no longer holds in the fixture"
        )
    metrics = spark.createDataFrame(
        [
            (
                int(m["obs_rows"]),
                float(m["obs_sum_qty"]),
                float(m["obs_min_price"]),
                float(m["obs_max_price"]),
                m["obs_last_ship"],
            )
        ],
        "obs_rows bigint, obs_sum_qty double, obs_min_price double, "
        "obs_max_price double, obs_last_ship timestamp",
    )
    return grouped.crossJoin(F.broadcast(metrics)).orderBy("l_returnflag")
