"""Robust / nonparametric statistics — round-12 additions.

The registry's earlier statistics family is mostly parametric moments
(q99 OLS, q145 covariance, q222 chi-square). This
module adds the rank- and resistance-based estimators a data-quality
pipeline reaches for when the parametric assumptions fail, plus two
distributed-sketch laws:

- q244: histogram MERGE law — per-nation mergeable histograms combined
  into region sketches (add counts), estimate vs exact percentile.
  q212 calibrates one sketch; this proves the merge.
- q252: Theil-Sen slope — median of pairwise slopes, the robust trend.
- q255: Markov stationary distribution by decimal-quantized power
  iteration (the one iterative fixpoint in the registry with an exact
  cross-engine oracle: the SAME unrolled SQL text runs on both engines).
- q262: Wilcoxon/Mann-Whitney rank-sum test with average-tie ranks.
- q271: Spearman rank correlation (Pearson over average-tie ranks).
- q314: first principal component of the embedding covariance by
  decimal-quantized power iteration (round 14; the q255 recipe lifted
  from a k×k Markov matrix to a d×d covariance built in one
  distributed pass).

Rank determinism: average ranks are carried as ``2*rank`` BIGINTs
(2*RANK() + ties - 1), so every rank statistic is exact integer math
until a single final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.queries import query

# ---------------------------------------------------------------------------
# q244 — mergeable-histogram rollup (nation sketches → region estimate).
# ---------------------------------------------------------------------------
_MERGE_BINS = 32


@query(
    "q244_histogram_merge_rollup",
    oracle=f"""
WITH g AS (
    SELECT MIN(c_acctbal) AS mn,
           (MAX(c_acctbal) - MIN(c_acctbal)) / {_MERGE_BINS}.0 AS w
    FROM customer
),
binned AS (
    SELECT n.n_regionkey AS region, c.c_nationkey AS nat,
           CAST(CASE WHEN g.w = 0 THEN 0
                     ELSE LEAST(FLOOR((c.c_acctbal - g.mn) / g.w),
                                {_MERGE_BINS - 1})
                END AS INTEGER) AS bin
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey, g
),
nation_hist AS (
    -- the per-nation sketch a 1000-executor job would ship: counts over
    -- GLOBAL bin edges, so merging = adding counts
    SELECT region, nat, bin, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM binned GROUP BY region, nat, bin
),
merged AS (
    SELECT region, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM nation_hist GROUP BY region, bin
),
tot AS (SELECT region, CAST(SUM(cnt) AS BIGINT) AS n FROM merged GROUP BY region),
cum AS (
    SELECT m.region, m.bin, m.cnt, t.n, g.mn, g.w,
           SUM(m.cnt) OVER (PARTITION BY m.region ORDER BY m.bin
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM merged m JOIN tot t ON t.region = m.region, g
),
exact AS (
    SELECT n.n_regionkey AS region,
           quantile_cont(c.c_acctbal, 0.5) AS exact_p50
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_regionkey
)
SELECT c.region, c.n,
       CASE WHEN c.w = 0 THEN c.mn
            ELSE c.mn + c.w * (c.bin + (CAST(0.5 AS DOUBLE) * c.n
                                        - (c.cum - c.cnt)) / c.cnt)
       END AS est_p50,
       e.exact_p50,
       abs(CASE WHEN c.w = 0 THEN c.mn
                ELSE c.mn + c.w * (c.bin + (CAST(0.5 AS DOUBLE) * c.n
                                            - (c.cum - c.cnt)) / c.cnt)
           END - e.exact_p50) AS abs_err
FROM cum c JOIN exact e ON e.region = c.region
WHERE c.cum >= CAST(0.5 AS DOUBLE) * c.n
  AND c.cum - c.cnt < CAST(0.5 AS DOUBLE) * c.n
ORDER BY c.region
""",
)
def q244_histogram_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch MERGE law, proven end-to-end: per-nation fixed-width
    histograms over GLOBAL bin edges (global min/max pass first — that
    alignment is what makes the sketches mergeable at all), merged up
    the nation→region hierarchy by adding counts, then the region-level
    median estimated from the MERGED sketch against the exact region
    median. q212 calibrates a single sketch; this is the distributed
    half: estimate(merge(sketches)) with no access to raw rows.

    Same determinism recipe as q212 (w = 0 guard included), interp and
    exact percentile over identical doubles.

    Scale: two scans of customer (global min/max, then binning), a
    bounded (nation x bin) aggregate, a bounded merge, and broadcast
    dimension joins. The exact column is the audit reference — at true
    scale only the sketch path runs."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    g = cust.agg(
        F.min("c_acctbal").alias("mn"),
        (
            (F.max("c_acctbal") - F.min("c_acctbal")) / F.lit(float(_MERGE_BINS))
        ).alias("w"),
    )
    cn = cust.join(
        F.broadcast(nation.select("n_nationkey", "n_regionkey")),
        cust.c_nationkey == F.col("n_nationkey"),
    )
    binned = cn.crossJoin(F.broadcast(g)).select(
        F.col("n_regionkey").alias("region"),
        F.col("c_nationkey").alias("nat"),
        F.when(F.col("w") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("c_acctbal") - F.col("mn")) / F.col("w")),
                F.lit(_MERGE_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    nation_hist = binned.groupBy("region", "nat", "bin").agg(
        F.count("*").alias("cnt")
    )
    merged = nation_hist.groupBy("region", "bin").agg(F.sum("cnt").alias("cnt"))
    tot = merged.groupBy("region").agg(F.sum("cnt").alias("n"))
    wcum = (
        W.partitionBy("region")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        merged.join(tot, "region")
        .crossJoin(F.broadcast(g))
        .select(
            "region", "bin", "cnt", "n", "mn", "w",
            F.sum("cnt").over(wcum).alias("cum"),
        )
    )
    exact = cn.groupBy(F.col("n_regionkey").alias("region")).agg(
        F.expr("percentile(c_acctbal, 0.5D)").alias("exact_p50")
    )
    target = F.lit(0.5) * F.col("n")
    est = F.when(F.col("w") == 0, F.col("mn")).otherwise(
        F.col("mn")
        + F.col("w")
        * (F.col("bin") + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt"))
    )
    return (
        cum.filter((F.col("cum") >= target) & (F.col("cum") - F.col("cnt") < target))
        .join(exact, "region")
        .select(
            "region",
            "n",
            est.alias("est_p50"),
            "exact_p50",
            F.abs(est - F.col("exact_p50")).alias("abs_err"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q252 — Theil-Sen robust trend (median of pairwise slopes).
# ---------------------------------------------------------------------------
@query(
    "q252_theil_sen_trend",
    oracle=f"""
WITH monthly AS (
    SELECT o_orderpriority,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS t,
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS rev
    FROM orders GROUP BY 1, 2
),
slopes AS (
    SELECT a.o_orderpriority,
           {sql_double('(b.rev - a.rev)')} / (b.t - a.t) AS slope
    FROM monthly a
    JOIN monthly b ON b.o_orderpriority = a.o_orderpriority AND b.t > a.t
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(slope, 0.5) AS sen_slope
FROM slopes GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q252_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend of monthly revenue per priority: the median of
    all pairwise slopes — up to 29% contaminated months cannot move it,
    unlike q99's least-squares line. The slope set is all C(84, 2) ≈
    3.5k pairs per priority: a bounded self-join of the pre-aggregated
    series, which is the point — the robustness pass runs on the tiny
    aggregate, never the fact table.

    Each slope is ONE double division of an exact decimal difference
    (through the correctly-rounded VARCHAR path on the oracle side);
    the median interpolates identical doubles.

    Scale: fact scan aggregates to (priority x month); the quadratic
    step is quadratic only in months."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("t"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    a = monthly.select(
        "o_orderpriority", F.col("t").alias("ta"), F.col("rev").alias("ra")
    )
    b = monthly.select(
        F.col("o_orderpriority").alias("pb"),
        F.col("t").alias("tb"),
        F.col("rev").alias("rb"),
    )
    slopes = a.join(
        b, (F.col("pb") == F.col("o_orderpriority")) & (F.col("tb") > F.col("ta"))
    ).select(
        "o_orderpriority",
        (
            (F.col("rb") - F.col("ra")).cast("double") / (F.col("tb") - F.col("ta"))
        ).alias("slope"),
    )
    return (
        slopes.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("percentile(slope, 0.5D)").alias("sen_slope"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q255 — Markov stationary distribution (decimal power iteration).
# ---------------------------------------------------------------------------
_MARKOV_ITERS = 20


#: transition-matrix CTE chain (events → lagged pairs → counts → the
#: row-normalized matrix quantized to DECIMAL(12,9)), shared verbatim by
#: the oracle text and the Spark-side matrix materialization.
_MARKOV_P_CTES = [
    """seq AS (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev
    FROM events
)""",
    """tc AS (
    SELECT prev, event_type AS cur, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
)""",
    """p AS (
    SELECT prev, cur,
           CAST(round(cnt / SUM(cnt) OVER (PARTITION BY prev), 9)
                AS DECIMAL(12,9)) AS pr
    FROM tc
)""",
]


def _markov_iter_ctes(p_name: str) -> list[str]:
    """The s0..sN power-iteration CTE chain over transition matrix
    ``p_name`` — parameterized (optimization r16) so the oracle iterates
    over its inline ``p`` CTE while the Spark side iterates over the
    materialized k×k LocalRelation view; the iteration TEXT is identical
    either way, so the bit-for-bit cross-engine argument is unchanged."""
    ctes = [
        f"""s0 AS (
    SELECT prev AS state,
           CAST(round(CAST(1 AS DOUBLE)
                      / (SELECT COUNT(DISTINCT prev) FROM {p_name}), 9)
                AS DECIMAL(12,9)) AS prob
    FROM (SELECT DISTINCT prev FROM {p_name}) d
)"""
    ]
    for i in range(_MARKOV_ITERS):
        ctes.append(
            f"""s{i + 1} AS (
    SELECT p.cur AS state,
           CAST(SUM(CAST(round(CAST(s.prob AS DECIMAL(19,9)) * p.pr, 9)
                         AS DECIMAL(18,9))) AS DECIMAL(12,9)) AS prob
    FROM s{i} s JOIN {p_name} p ON p.prev = s.state
    GROUP BY p.cur
)"""
        )
    return ctes


_MARKOV_FINAL = f"""
SELECT state, CAST(CAST(prob AS STRING) AS DOUBLE) AS stationary_prob
FROM s{_MARKOV_ITERS} ORDER BY state"""


def _markov_sql() -> str:
    """The ENTIRE query as dialect-shared SQL: transition counts, the
    row-normalized matrix quantized to DECIMAL(12,9), and
    ``_MARKOV_ITERS`` unrolled power-iteration steps. Each step's terms
    are quantized round(.,9) -> DECIMAL(18,9) before summing (after
    widening one factor to 19 digits for DuckDB's int128 path), so every
    iteration is exact decimal arithmetic — both engines run this text
    verbatim and must agree bit-for-bit."""
    return "WITH " + ",\n".join(_MARKOV_P_CTES + _markov_iter_ctes("p")) + _MARKOV_FINAL


_MARKOV_SQL = _markov_sql()


@query("q255_markov_stationary", oracle=_MARKOV_SQL)
def q255_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by power
    iteration — the steady-state answer to q141's transition
    descriptions. 20 unrolled iterations from the uniform vector.

    The cross-engine trap here is float summation order inside an
    ITERATION (20 rounds would amplify any divergence), solved by
    making every round exact: the transition matrix is quantized
    round(.,9) -> DECIMAL once, and each step's products are quantized
    to DECIMAL(18,9) before the (exact) sum. The semantic IS
    quantized-decimal power iteration, and the identical SQL text runs
    on both engines (the state space is the handful of event types, so
    each round is a k×k join).

    Scale: the transition count rides the user-partitioned window
    shuffle over the fact; all 20 iterations run on the k×k matrix —
    driver-independent, executor-trivial. A growing state space would
    swap the unrolled CTEs for the loop in operators/pagerank.py
    (same quantization trick applies).

    Optimization r16 (guide §7.2 duplicated subtrees): Spark re-expands
    a CTE at every reference, and the unrolled chain references ``p``
    once per round — the lag-window transition count over the FACT ran
    ~22× (measured: 22 events scans in the plan). The Spark side now
    materializes the k×k matrix once as a LocalRelation (the q314
    recipe: a bounded collect with an asserted ceiling) and iterates
    over that; the oracle keeps the single inline text, and the
    iteration SQL is the same parameterized text on both engines, so
    the exact-decimal agreement argument is untouched."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    p = spark.sql("WITH " + ",\n".join(_MARKOV_P_CTES) + "\nSELECT prev, cur, pr FROM p")
    rows = p.collect()
    if len(rows) > 64 * 64:
        raise RuntimeError(
            f"q255: transition matrix unexpectedly large ({len(rows)} cells) — "
            "the bounded-collect premise (event-type state space) is broken"
        )
    if not rows:
        # an empty VALUES list is a parse error, not an empty result —
        # fail with the real cause instead (round-16 ADVICE)
        raise RuntimeError(
            "q255: events produced zero transition rows — cannot build the "
            "VALUES-literal matrix (empty or single-row events fixture?)"
        )
    # Re-materialize as a VALUES literal, not createDataFrame(rows): the
    # latter is a `Scan ExistingRDD` of pickled Python rows, and every
    # one of the ~21 iteration references re-executes its Python
    # deserialization tasks (A/B-measured SLOWER than the inline CTE at
    # sf0.1). A VALUES view is a pure JVM LocalRelation — zero
    # per-reference cost, exact DECIMAL(12,9) literals.
    def _q(s: str) -> str:
        # backslash first: Spark string literals treat \ as an escape by
        # default (escapedStringLiterals=false), unlike DuckDB — an
        # unescaped backslash in an event_type would silently change the
        # embedded value and break oracle parity (round-16 ADVICE)
        return s.replace("\\", "\\\\").replace("'", "''")

    vals = ", ".join(
        f"('{_q(r['prev'])}', '{_q(r['cur'])}', CAST('{r['pr']}' AS DECIMAL(12,9)))"
        for r in rows
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW q255_p AS "
        f"SELECT * FROM (VALUES {vals}) AS t(prev, cur, pr)"
    )
    return spark.sql(
        "WITH " + ",\n".join(_markov_iter_ctes("q255_p")) + _MARKOV_FINAL
    )


# ---------------------------------------------------------------------------
# q262 — Mann-Whitney/Wilcoxon rank-sum test.
# ---------------------------------------------------------------------------
_RS_A, _RS_B = "purchase", "click"


@query(
    "q262_rank_sum_test",
    oracle=f"""
WITH s AS (
    SELECT value, event_type AS grp FROM events
    WHERE event_type IN ('{_RS_A}', '{_RS_B}') AND value IS NOT NULL
),
ranked AS (
    -- 2*avg_rank = 2*RANK() + ties - 1, exact BIGINT
    SELECT grp,
           CAST(2 * RANK() OVER (ORDER BY value)
                + COUNT(*) OVER (PARTITION BY value) - 1 AS BIGINT) AS r2
    FROM s
),
agg AS (
    -- s2a (~2n^2) and the na*(na+1)/na*nb products widened to DECIMAL:
    -- int64 wraps silently in Spark near n~2e9 rows while DuckDB sums
    -- in HUGEINT — widen BOTH engines so they stay exact together.
    SELECT
        CAST(SUM(CASE WHEN grp = '{_RS_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        CAST(SUM(CASE WHEN grp = '{_RS_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        CAST(SUM(CAST(CASE WHEN grp = '{_RS_A}' THEN r2 ELSE 0 END
                 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2a
    FROM ranked
)
SELECT na AS n_a, nb AS n_b,
       CAST(s2a AS DOUBLE) / 2
         - CAST(CAST(na AS DECIMAL(19,0)) * (na + 1) AS DOUBLE) / 2 AS u_stat,
       {sql_double(
           "CAST(round("
           "(CAST(s2a AS DOUBLE) / 2"
           " - CAST(CAST(na AS DECIMAL(19,0)) * (na + 1) AS DOUBLE) / 2"
           " - CAST(CAST(na AS DECIMAL(19,0)) * nb AS DOUBLE) / 2)"
           " / sqrt(CAST(CAST(na AS DECIMAL(19,0)) * nb AS DOUBLE)"
           "        * CAST(na + nb + 1 AS DOUBLE) / 12.0)"
           ", 6) AS DECIMAL(18,6))"
       )} AS z
FROM agg
""",
)
def q262_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the 'purchase' and 'click'
    value samples — the nonparametric two-sample location test the
    registry lacked (KS tests shape, q222 chi-square tests
    categorical independence; this tests stochastic dominance). Ties get
    average ranks, carried as exact 2*rank BIGINTs (2*RANK() + ties - 1)
    and summed as DECIMAL (s2a ~ 2n^2 outgrows int64 near n~2e9 rows,
    where Spark would wrap silently vs DuckDB's HUGEINT) so U is exact
    until two final divisions; z uses the normal approximation WITHOUT
    the tie correction (documented contract — value ties are floats,
    vanishingly rare).

    Scale: one global sort for the rank window (range-partitionable),
    one scalar aggregate."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(
        F.col("event_type").isin(_RS_A, _RS_B) & F.col("value").isNotNull()
    ).select("value", F.col("event_type").alias("grp"))
    r2 = (
        2 * F.rank().over(W.orderBy("value"))
        + F.count("*").over(W.partitionBy("value"))
        - 1
    ).cast("bigint")
    ranked = s.select("grp", r2.alias("r2"))
    agg = ranked.agg(
        F.sum(F.when(F.col("grp") == _RS_A, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == _RS_B, 1).otherwise(0)).alias("nb"),
        # s2a (~2n^2) widened: int64 wraps silently near n~2e9 rows
        # while the DuckDB oracle sums in HUGEINT (mirrored there too).
        F.sum(
            F.when(F.col("grp") == _RS_A, F.col("r2"))
            .otherwise(0)
            .cast("decimal(19,0)")
        ).alias("s2a"),
    )
    na, nb = F.col("na"), F.col("nb")
    nad = na.cast("decimal(19,0)")
    u = F.col("s2a").cast("double") / 2 - (nad * (na + 1)).cast("double") / 2
    z = (u - (nad * nb).cast("double") / 2) / F.sqrt(
        (nad * nb).cast("double") * (na + nb + 1).cast("double") / F.lit(12.0)
    )
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        u.alias("u_stat"),
        F.round(z, 6).cast("decimal(18,6)").cast("double").alias("z"),
    )


# ---------------------------------------------------------------------------
# q271 — Spearman rank correlation per group.
# ---------------------------------------------------------------------------
@query(
    "q271_spearman_rank_corr",
    oracle=f"""
WITH ranked AS (
    SELECT l_returnflag,
           CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
                AS BIGINT) AS rx,
           CAST(2 * RANK() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice)
                + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
                AS BIGINT) AS ry
    FROM lineitem
),
s AS (
    -- moment products widened to DECIMAL BEFORE multiplying: sum(rx*rx)
    -- grows ~4n^3/3 per group and exceeds int64 near n~1.9M rows
    -- (about sf1 lineitem); Spark (non-ANSI) would wrap silently while
    -- DuckDB sums in HUGEINT. DECIMAL(19,0)*DECIMAL(19,0) -> (38,0) on
    -- both engines; exact to 1e38 (~4e12 rows per group).
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(rx) AS DECIMAL(38,0)) AS sx,
           CAST(SUM(ry) AS DECIMAL(38,0)) AS sy,
           CAST(SUM(CAST(rx AS DECIMAL(19,0)) * ry) AS DECIMAL(38,0)) AS sxy,
           CAST(SUM(CAST(rx AS DECIMAL(19,0)) * rx) AS DECIMAL(38,0)) AS sxx,
           CAST(SUM(CAST(ry AS DECIMAL(19,0)) * ry) AS DECIMAL(38,0)) AS syy
    FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {sql_double(
           "CAST(round("
           "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
           " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
           "  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
           ", 6) AS DECIMAL(18,6))"
       )} AS spearman_rho
FROM s ORDER BY l_returnflag
""",
)
def q271_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag: Pearson over average-tie ranks — monotone association
    without q145's linearity assumption, robust to the price outliers
    that move covariance. The tie-heavy quantity column is exactly why
    average ranks (2*rank BIGINT trick, see q262) matter here: min-rank
    or row-number ranks would bias rho under ties.

    All five moments are exact DECIMAL(38,0) sums, widened BEFORE the
    products (sum(rx*rx) ~ 4n^3/3 per group overflows int64 near n~1.9M
    rows — about sf1 lineitem — where Spark would wrap silently while
    DuckDB sums in HUGEINT); rho is one identical double expression
    quantized round(.,6).

    Scale: two rank windows over the same group partition (one sort
    each) and a per-group moment aggregate; the 2x scale factor on
    ranks cancels algebraically in rho; the DECIMAL moments stay exact
    to ~4e12 rows per group."""
    li = load_table(spark, sf_dir, "lineitem")
    rx = (
        2 * F.rank().over(W.partitionBy("l_returnflag").orderBy("l_quantity"))
        + F.count("*").over(W.partitionBy("l_returnflag", "l_quantity"))
        - 1
    ).cast("bigint")
    ry = (
        2 * F.rank().over(W.partitionBy("l_returnflag").orderBy("l_extendedprice"))
        + F.count("*").over(W.partitionBy("l_returnflag", "l_extendedprice"))
        - 1
    ).cast("bigint")
    ranked = li.select("l_returnflag", rx.alias("rx"), ry.alias("ry"))
    # Widen BEFORE multiplying (mirrors the oracle): sum(rx*rx) is
    # ~4n^3/3 per group — int64 wraps silently near n~1.9M (about sf1),
    # DECIMAL(19,0)^2 -> DECIMAL(38,0) stays exact to ~4e12 rows/group.
    rxd = F.col("rx").cast("decimal(19,0)")
    ryd = F.col("ry").cast("decimal(19,0)")
    s = ranked.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(rxd).alias("sx"),
        F.sum(ryd).alias("sy"),
        F.sum(rxd * ryd).alias("sxy"),
        F.sum(rxd * rxd).alias("sxx"),
        F.sum(ryd * ryd).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    rho = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(rho, 6).cast("decimal(18,6)").cast("double").alias("spearman_rho"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q314 — first principal component by decimal power iteration (round 14).
# ---------------------------------------------------------------------------
_PC1_ITERS = 8
_PC1_DIMS = 64
_PC1_TOPK = 10


def _pc1_iter_sql(cov: str) -> str:
    """Dialect-shared unrolled power iteration over ``{cov}(i, j, c)``.

    Runs verbatim on BOTH engines (the q255 contract). Two structural
    rules keep the unrolled plan linear instead of exponential:

    - every CTE references its predecessor exactly ONCE — the L2 norm
      rides a whole-set window aggregate ``SUM(w*w) OVER ()`` instead of
      a scalar subquery (a scalar subquery would make v{k} reference
      w{k} twice, doubling the inlined subtree per round on engines that
      inline CTEs — the q311 EMFILE lesson);
    - every round is exact decimal: products quantized round(.,12)
      before the (exact) SUM, the normalized vector re-quantized to
      DECIMAL(12,9), and every decimal→double crossing routed through
      STRING (sql_double rationale) so both engines parse the same
      correctly-rounded double.
    """
    ctes = [
        f"""v0 AS (
    SELECT DISTINCT i AS dim, CAST(0.125 AS DECIMAL(12,9)) AS v FROM {cov}
)"""
    ]
    for k in range(1, _PC1_ITERS + 1):
        ctes.append(
            f"""w{k} AS (
    SELECT m.i AS dim,
           CAST(SUM(CAST(round(CAST(v.v AS DECIMAL(19,9)) * m.c, 12)
                         AS DECIMAL(30,12))) AS DECIMAL(16,12)) AS w
    FROM v{k - 1} v JOIN {cov} m ON m.j = v.dim
    GROUP BY m.i
)"""
        )
        ctes.append(
            f"""v{k} AS (
    SELECT dim,
           CAST(round(CAST(CAST(w AS STRING) AS DOUBLE)
                      / sqrt(CAST(CAST(SUM(w * w) OVER () AS STRING)
                                  AS DOUBLE)), 9) AS DECIMAL(12,9)) AS v
    FROM w{k}
)"""
        )
    ctes.append(
        f"""ray_r AS (
    SELECT m.i AS dim,
           CAST(SUM(CAST(round(CAST(v.v AS DECIMAL(19,9)) * m.c, 12)
                         AS DECIMAL(30,12))) AS DECIMAL(16,12)) AS r
    FROM v{_PC1_ITERS} v JOIN {cov} m ON m.j = v.dim
    GROUP BY m.i
)"""
    )
    ctes.append(
        f"""ray AS (
    SELECT CAST(CAST(SUM(CAST(round(CAST(v.v AS DECIMAL(19,9))
                                    * CAST(r.r AS DECIMAL(19,12)), 12)
                              AS DECIMAL(30,12))) AS STRING) AS DOUBLE)
             AS eigenvalue
    FROM v{_PC1_ITERS} v JOIN ray_r r ON r.dim = v.dim
)"""
    )
    final = f"""
SELECT dim, CAST(CAST(v AS STRING) AS DOUBLE) AS loading,
       (SELECT eigenvalue FROM ray) AS eigenvalue
FROM v{_PC1_ITERS}
ORDER BY abs(CAST(CAST(v AS STRING) AS DOUBLE)) DESC, dim
LIMIT {_PC1_TOPK}
"""
    return ",\n".join(ctes) + final


def _pc1_oracle() -> str:
    # cov build is DuckDB dialect (generate_subscripts is 1-based, so
    # Spark's posexplode/Gram indices use dim0+1 to match); the
    # iteration text is shared verbatim. MATERIALIZED on every
    # cov-build CTE: DuckDB inlines plain CTEs and the iteration
    # references cov ~10 times. The SUM(a.xl * b.xl) runs in DuckDB's
    # int128 accumulator — exact, like Spark's chunked-int64 +
    # DECIMAL(38,0) merge.
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS dim,
           CAST(round(unnest(embedding)::DOUBLE * 1000000, 0) AS BIGINT) AS xl
    FROM embeddings
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
mu AS MATERIALIZED (
    SELECT dim,
           CAST(round(CAST(CAST(SUM(xl) AS STRING) AS DOUBLE) / 1000000
                      / (SELECT n FROM nn), 9) AS DECIMAL(12,9)) AS mu
    FROM e GROUP BY dim
),
q314_cov AS MATERIALIZED (
    SELECT a.dim AS i, b.dim AS j,
           CAST(round(CAST(CAST(SUM(a.xl * b.xl) AS STRING) AS DOUBLE)
                        / 1000000 / 1000000 / (SELECT n FROM nn)
                      - CAST(CAST(CAST(ma.mu AS DECIMAL(13,9)) * mb.mu
                                  AS STRING) AS DOUBLE), 9)
                AS DECIMAL(12,9)) AS c
    FROM e a JOIN e b ON a.vec_id = b.vec_id
    JOIN mu ma ON ma.dim = a.dim
    JOIN mu mb ON mb.dim = b.dim
    GROUP BY a.dim, b.dim, ma.mu, mb.mu
),
{_pc1_iter_sql("q314_cov")}
"""


_PC1_PART_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s", T.LongType()),
    ]
)
#: rows per numpy chunk inside the Gram pass. Exactness bound: each
#: scaled element is ~|x|*1e6 <= 1e7-ish, so a product is <= ~1e14 and a
#: chunk's cell sum is <= CHUNK * 1e14 — CHUNK=50k keeps that under the
#: int64 ceiling 9.2e18 with 180x headroom; partials are merged as
#: DECIMAL(38,0), which holds ~1e24 rows before overflow.
_PC1_CHUNK = 50_000


def _pc1_gram_partials(batches):
    """Per-partition exact Gram partials: for each <=CHUNK row slab,
    emit the d*d int64 matrix X^T X plus (i=0, j=dim) column sums and an
    (i=0, j=0) row count — one Arrow pass computes every moment the
    covariance needs."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        arrs = pdf["xl"].to_list()
        for lo in range(0, len(arrs), _PC1_CHUNK):
            x = np.asarray(arrs[lo : lo + _PC1_CHUNK], dtype=np.int64)
            if x.size == 0:
                continue
            s = x.T @ x
            cs = x.sum(axis=0)
            ii, jj = np.indices(s.shape)
            yield pd.concat(
                [
                    pd.DataFrame(
                        {"i": (ii + 1).ravel(), "j": (jj + 1).ravel(), "s": s.ravel()}
                    ),
                    pd.DataFrame(
                        {
                            "i": [0] * (len(cs) + 1),
                            "j": list(range(1, len(cs) + 1)) + [0],
                            "s": list(cs) + [len(x)],
                        }
                    ),
                ],
                ignore_index=True,
            )


@query("q314_power_iteration_pc1", oracle=_pc1_oracle())
def q314_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding covariance by 8
    unrolled power-iteration rounds — the dimensionality-reduction
    family the registry lacked (q38 clusters the embeddings, q142
    quantizes them, q189 truncates them; nothing yet asks "which
    direction carries the variance"). Output: the top-10 dimensions by
    |loading| plus the Rayleigh-quotient eigenvalue estimate.

    Determinism is the q255 shared-fixpoint recipe, lifted from a k×k
    Markov matrix to the d×d covariance: elements scaled round(x*1e6)
    into int64 micro-units, ALL second moments exact integers (numpy
    int64 Gram per chunk, DECIMAL(38,0) merge on Spark; int128 SUM in
    DuckDB), means and covariance quantized round(.,9)→DECIMAL(12,9)
    from the raw moments (cov = E[xy] - mu_x*mu_y, one shared formula),
    then the IDENTICAL unrolled iteration SQL runs on both engines
    (every product quantized before an exact decimal SUM; every
    decimal→double crossing via STRING). The start vector is uniform
    1/sqrt(64) = 0.125 exactly; with deterministic arithmetic the
    (sign-ambiguous) limit is the same on both engines.

    Scale: the covariance is ONE map-only pass — mapInPandas computes a
    chunked exact int64 Gram X^T X per partition (plus column sums and
    row count folded in as i=0 partial rows, so there is no separate
    mean pass and no count() scan), and the shuffle carries only
    64²-cell partials per chunk, never rows. The first version
    self-joined the exploded elements on vec_id — a 20M-row decimal
    shuffle join that cost 68 s at sf0.1; the Gram pass is the measured
    10x fix and the textbook 100 TB plan (partial Gram per split, tiny
    merge). The 4096-cell summary is collected and re-parallelized as a
    LocalRelation — same footing as the literal weight tables elsewhere
    in this module — so the 8 unrolled rounds never touch the fact
    again.

    Cross-engine traps pinned by the round-14 prototype: (a) a scalar-
    subquery norm makes each round reference its predecessor twice, so
    engines that inline CTEs expand 2^K copies of the covariance
    subtree — the first prototype hung DuckDB at K=8; the window-
    aggregate norm keeps both plans linear in K. (b) BigDecimal
    products in the hot pass (decimal(19,9)²) are ~4x slower than
    int64 — scale-to-integer first, widen at the merge."""
    emb = load_table(spark, sf_dir, "embeddings")
    xl = emb.select(
        F.expr(
            "transform(embedding,"
            " v -> CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))"
        ).alias("xl")
    )
    g = (
        xl.mapInPandas(_pc1_gram_partials, _PC1_PART_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
    )
    # one tiny collect: d*d Gram cells + d column sums + the count row
    grows = g.collect()
    if len(grows) != _PC1_DIMS * _PC1_DIMS + _PC1_DIMS + 1:
        raise RuntimeError(
            f"q314: expected {_PC1_DIMS}x{_PC1_DIMS}+{_PC1_DIMS}+1 Gram rows,"
            f" got {len(grows)}"
        )
    gl = spark.createDataFrame(grows, g.schema)
    n = int(next(r["s"] for r in grows if r["i"] == 0 and r["j"] == 0))
    mu = gl.filter((F.col("i") == 0) & (F.col("j") > 0)).select(
        F.col("j").alias("dim"),
        F.round(F.col("s").cast("double") / 1000000 / F.lit(n), 9)
        .cast("decimal(12,9)")
        .alias("mu"),
    )
    cov = (
        gl.filter(F.col("i") > 0)
        .join(mu.alias("ma"), F.col("i") == F.col("ma.dim"))
        .join(mu.alias("mb"), F.col("j") == F.col("mb.dim"))
        .select(
            "i",
            "j",
            F.round(
                F.col("s").cast("double") / 1000000 / 1000000 / F.lit(n)
                - (F.col("ma.mu").cast("decimal(13,9)") * F.col("mb.mu")).cast(
                    "double"
                ),
                9,
            )
            .cast("decimal(12,9)")
            .alias("c"),
        )
    )
    # 64×64 summary matrix — materialize once as a LocalRelation so the
    # unrolled SQL can reference it ~10× without re-running anything.
    rows = cov.collect()
    if len(rows) != _PC1_DIMS * _PC1_DIMS:
        raise RuntimeError(
            f"q314: expected {_PC1_DIMS}x{_PC1_DIMS} covariance, got {len(rows)} cells"
        )
    spark.createDataFrame(rows, cov.schema).createOrReplaceTempView("q314_cov")
    return spark.sql("WITH " + _pc1_iter_sql("q314_cov"))
