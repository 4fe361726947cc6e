"""Temporal analytics — round-12 additions.

The time-dimension family the earlier registry touched only pointwise
(q23-q25 windows, q55 gap fill, q228 seasonality, q235 OHLC): inter-session gaps, bidirectional as-of spreads, cohort LTV
curves, interval-stabbing backlog, point-in-time (SCD-style) joins, peak
detection, finite-window EWMA, autocorrelation, inter-arrival statistics,
and time-spread revenue recognition.

Determinism rules (cumulative recipe from SCALING.md / earlier rounds):
timestamps difference via ``unix_micros`` ≡ ``epoch_us`` (exact BIGINT);
day arithmetic via datediff-from-epoch (exact INT, weekday = day % 7,
day 0 = Thursday); money quantized round(.,2) → DECIMAL before any SUM;
every transcendental-free compound double expression is written with
identical operation order in both engines and quantized round(.,6) →
DECIMAL → double on output.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.operators.asof import asof_join
from kinesis_sample_spark.queries import query

_EPOCH = "DATE '1970-01-01'"

SESSION_GAP_S = 1800  # q242: 30-min inactivity ends a session


def _dec2(col):
    return F.round(col, 2).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# q242 — inter-session gap statistics.
# ---------------------------------------------------------------------------
@query(
    "q242_session_gap_stats",
    oracle=f"""
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                           ORDER BY ts, event_id))
                     > {SESSION_GAP_S} * 1000000
                THEN 1 ELSE 0 END AS new_s,
           event_id
    FROM events
),
sessions AS (
    SELECT user_id, sid, MIN(ts) AS start_ts, MAX(ts) AS end_ts
    FROM (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ) t GROUP BY user_id, sid
),
gaps AS (
    SELECT user_id, start_ts,
           epoch_us(start_ts)
             - epoch_us(lag(end_ts) OVER (PARTITION BY user_id ORDER BY sid))
             AS gap_us
    FROM sessions
)
SELECT CAST(datediff('day', {_EPOCH}, start_ts) % 7 AS INTEGER) AS weekday,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0 AS avg_gap_s,
       quantile_cont(gap_us / 1000000.0, 0.5) AS p50_gap_s,
       quantile_cont(gap_us / 1000000.0, 0.9) AS p90_gap_s
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY 1 ORDER BY weekday
""",
)
def q242_session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-SESSION gaps (q25/q131 sessionize; this measures the time
    BETWEEN a user's sessions — the return-frequency signal): sessionize
    at a 30-min inactivity gap, then lag each session's start against
    the previous session's end per user, aggregated by weekday of the
    returning session's start (day-%7 arithmetic, day 0 = Thursday).

    Gap seconds derive from exact epoch-microsecond BIGINTs; avg is one
    division of exact sums; percentiles interpolate identical doubles.

    Scale: two windows over the user-partitioned shuffle (session
    numbering, then session lag) and a 7-row aggregate — the sessionize
    shuffle is the only data movement."""
    ev = load_table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(wu))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_us.isNull()
            | (F.unix_micros("ts") - prev_us > SESSION_GAP_S * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sid = F.sum("new_s").over(wu.rowsBetween(W.unboundedPreceding, W.currentRow))
    sessions = (
        marked.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    ws = W.partitionBy("user_id").orderBy("sid")
    gaps = sessions.select(
        "start_ts",
        (F.unix_micros("start_ts") - F.unix_micros(F.lag("end_ts").over(ws))).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    weekday = F.pmod(
        F.datediff(F.col("start_ts"), F.lit("1970-01-01").cast("date")), F.lit(7)
    ).cast("int")
    return (
        gaps.groupBy(weekday.alias("weekday"))
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (
                F.sum("gap_us").cast("double") / F.count("gap_us") / F.lit(1_000_000.0)
            ).alias("avg_gap_s"),
            F.expr("percentile(gap_us / 1000000.0, 0.5D)").alias("p50_gap_s"),
            F.expr("percentile(gap_us / 1000000.0, 0.9D)").alias("p90_gap_s"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# q243 — bidirectional as-of join + spread.
# ---------------------------------------------------------------------------
@query(
    "q243_asof_forward_spread",
    oracle=f"""
WITH matched AS (
    SELECT o.o_orderkey, o.o_orderpriority,
           MAX(CASE WHEN e.ts <= o.o_orderdate THEN e.ts END) AS bwd_ts,
           MIN(CASE WHEN e.ts >= o.o_orderdate THEN e.ts END) AS fwd_ts
    FROM orders o LEFT JOIN events e ON e.user_id = o.o_custkey
    GROUP BY o.o_orderkey, o.o_orderpriority
),
spreads AS (
    SELECT o_orderpriority,
           CASE WHEN bwd_ts IS NOT NULL AND fwd_ts IS NOT NULL
                THEN epoch_us(fwd_ts) - epoch_us(bwd_ts) END AS spread_us
    FROM matched
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(spread_us) AS BIGINT) AS n_both,
       CAST(SUM(spread_us) AS DOUBLE) / COUNT(spread_us) / 1000000.0
         AS avg_spread_s,
       quantile_cont(spread_us / 1000000.0, 0.5) AS p50_spread_s
FROM spreads GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q243_asof_forward_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward AND forward as-of join in one pipeline: for each order,
    the latest user event at-or-before the order date and the earliest
    at-or-after; the spread between them is the activity-coverage window
    around the purchase. q27 exercises the backward direction on events
    alone — this adds the forward mirror (operators/asof.py
    ``direction="forward"``: first() over the following frame) and an
    outer-join accounting (orders whose customer has no events stay,
    with NULL spread).

    The oracle computes both extremes with a conditional-aggregate
    LEFT JOIN — a completely different plan shape than the engine's
    union + running first/last composition.

    Scale: each as-of pass is one shuffle+sort on the key — no row
    explosion, unlike the oracle's join-then-aggregate (fine at oracle
    scale, quadratic-prone at 100 TB)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    bwd = asof_join(
        orders, ev, on="user_id", left_ts="o_orderdate", right_ts="ts",
        right_prefix="bwd_",
    )
    both = asof_join(
        bwd, ev, on="user_id", left_ts="o_orderdate", right_ts="ts",
        direction="forward", right_prefix="fwd_",
    )
    spread_us = F.when(
        F.col("bwd_ts").isNotNull() & F.col("fwd_ts").isNotNull(),
        F.unix_micros("fwd_ts") - F.unix_micros("bwd_ts"),
    )
    return (
        both.select("o_orderpriority", spread_us.alias("spread_us"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("spread_us").alias("n_both"),
            (
                F.sum("spread_us").cast("double")
                / F.count("spread_us")
                / F.lit(1_000_000.0)
            ).alias("avg_spread_s"),
            F.expr("percentile(spread_us / 1000000.0, 0.5D)").alias("p50_spread_s"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q250 — cohort LTV curves.
# ---------------------------------------------------------------------------
_LTV_MONTHS = 12


@query(
    "q250_cohort_ltv",
    oracle=f"""
WITH om AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS idx,
           CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS rev
    FROM orders
),
first_m AS (SELECT o_custkey, MIN(idx) AS m0 FROM om GROUP BY o_custkey),
cohort_size AS (
    SELECT m0, CAST(COUNT(*) AS BIGINT) AS customers FROM first_m GROUP BY m0
),
rev_k AS (
    SELECT f.m0, om.idx - f.m0 AS k, SUM(om.rev) AS rev
    FROM om JOIN first_m f ON f.o_custkey = om.o_custkey
    WHERE om.idx - f.m0 < {_LTV_MONTHS}
    GROUP BY f.m0, om.idx - f.m0
),
cum AS (
    SELECT m0, k,
           SUM(rev) OVER (PARTITION BY m0 ORDER BY k
                          ROWS UNBOUNDED PRECEDING) AS cum_rev
    FROM rev_k
)
SELECT CAST((c.m0 // 12) * 100 + (c.m0 % 12) + 1 AS INTEGER) AS cohort,
       CAST(c.k AS INTEGER) AS k,
       s.customers,
       {sql_double('c.cum_rev')} AS cum_rev,
       {sql_double('c.cum_rev')} / s.customers AS ltv_per_customer
FROM cum c JOIN cohort_size s ON s.m0 = c.m0
ORDER BY cohort, k
""",
)
def q250_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue per cohort member at month offsets
    0..12 — the curve whose flattening tells you when a cohort stops
    paying back. Complements activity-count
    retention with the revenue integral.

    Month index = year*12+month-1 (exact INT); revenue quantized
    round(.,2) -> DECIMAL so cumulative sums are exact; LTV is one
    division of the exact cumulative by the cohort size.

    Scale: one aggregate to find each customer's first month (runs on
    the customer-keyed shuffle), one grid aggregate, and a window over
    the bounded (cohort x 12) grid."""
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("idx"),
        _dec2(F.col("o_totalprice")).alias("rev"),
    )
    first_m = om.groupBy("o_custkey").agg(F.min("idx").alias("m0"))
    cohort_size = first_m.groupBy("m0").agg(F.count("*").alias("customers"))
    rev_k = (
        om.join(first_m, "o_custkey")
        .filter(F.col("idx") - F.col("m0") < _LTV_MONTHS)
        .groupBy("m0", (F.col("idx") - F.col("m0")).alias("k"))
        .agg(F.sum("rev").alias("rev"))
    )
    cum = rev_k.withColumn(
        "cum_rev",
        F.sum("rev").over(
            W.partitionBy("m0").orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        cum.join(cohort_size, "m0")
        .select(
            (
                F.floor(F.col("m0") / 12) * 100 + F.pmod(F.col("m0"), F.lit(12)) + 1
            )
            .cast("int")
            .alias("cohort"),
            F.col("k").cast("int").alias("k"),
            "customers",
            F.col("cum_rev").cast("double").alias("cum_rev"),
            (F.col("cum_rev").cast("double") / F.col("customers")).alias(
                "ltv_per_customer"
            ),
        )
        .orderBy("cohort", "k")
    )


# ---------------------------------------------------------------------------
#: fulfillment interval of an order: open at o_orderdate, closed at the
#: last line's ship date. ONE definition, shared by q251 (the backlog
#: curve) and q327 (the conservation audit of that curve) — if the close
#: convention ever changes, both move together instead of the audit
#: silently measuring a different interval than the curve.
_IV_SQL = f"""iv AS (
    SELECT o.o_orderkey,
           CAST(datediff('day', {_EPOCH}, o.o_orderdate) AS BIGINT) AS d0,
           CAST(datediff('day', {_EPOCH}, MAX(l.l_shipdate)) AS BIGINT) AS d1
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
)"""


def _fulfillment_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d0, d1) epoch-day fulfillment interval per order — the Spark
    twin of ``_IV_SQL`` above."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("date")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d0"),
            F.datediff(F.col("ship_end"), epoch).cast("bigint").alias("d1"),
        )
    )


# ---------------------------------------------------------------------------
# q251 — daily backlog via interval stabbing (event-delta cumsum).
# ---------------------------------------------------------------------------
@query(
    "q251_daily_backlog",
    oracle=f"""
WITH {_IV_SQL},
deltas AS (
    SELECT d0 AS day, 1 AS delta FROM iv
    UNION ALL
    SELECT d1, -1 FROM iv
),
series AS (
    SELECT day, SUM(delta) AS net FROM deltas GROUP BY day
),
cum AS (
    SELECT day,
           CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS backlog
    FROM series
)
SELECT CAST(year({_EPOCH} + CAST(day AS INTEGER)) * 100
            + month({_EPOCH} + CAST(day AS INTEGER)) AS INTEGER) AS month,
       CAST(MAX(backlog) AS BIGINT) AS peak_backlog,
       CAST(MAX_BY(backlog, day) AS BIGINT) AS eom_backlog,
       CAST(COUNT(*) AS BIGINT) AS n_change_days
FROM cum GROUP BY 1 ORDER BY month
""",
)
def q251_daily_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by interval stabbing: an order is
    "open" from order date until its last line ships. The scalable plan
    is NOT an interval join against a date spine (that's a range join
    whose cost is intervals x days): each interval becomes a +1 at start
    and a -1 at end, net per day, and ONE running sum over the date
    axis gives the exact backlog at every change point — O(n) rows, one
    sort. backlog(d) counts orders with start <= d < end.

    Output per month: peak backlog, end-of-month backlog (value at the
    month's last change day — backlog is piecewise constant in
    between), and change-day count. All integers.

    Scale: the per-order MAX(shipdate) rides the orderkey join shuffle;
    the global running sum is a single ordered window (the date axis is
    a range-partitionable sort at cluster scale)."""
    epoch = F.lit("1970-01-01").cast("date")
    iv = _fulfillment_iv(spark, sf_dir)
    deltas = iv.select(F.col("d0").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("d1").alias("day"), F.lit(-1).alias("delta"))
    )
    series = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    cum = series.withColumn(
        "backlog",
        F.sum("net")
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    day_date = F.date_add(epoch, F.col("day").cast("int"))
    return (
        cum.groupBy(
            (F.year(day_date) * 100 + F.month(day_date)).cast("int").alias("month")
        )
        .agg(
            F.max("backlog").alias("peak_backlog"),
            F.max_by("backlog", "day").alias("eom_backlog"),
            F.count("*").alias("n_change_days"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q253 — point-in-time (SCD-style interval) join.
# ---------------------------------------------------------------------------
@query(
    "q253_point_in_time_join",
    oracle="""
WITH iv AS (
    SELECT o_custkey AS user_id, o_orderpriority AS state, o_orderdate AS vf,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS vt
    FROM orders
),
tagged AS (
    SELECT e.event_id, e.user_id, i.state
    FROM events e LEFT JOIN iv i
      ON i.user_id = e.user_id AND e.ts >= i.vf AND (i.vt IS NULL OR e.ts < i.vt)
)
SELECT COALESCE(state, 'NONE') AS state,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM tagged GROUP BY 1 ORDER BY state
""",
)
def q253_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against a versioned dimension: each customer's
    order history becomes SCD2-style validity intervals (state = the
    priority of the order in force, valid [order date, next order
    date)), and every event is tagged with the state valid AT ITS
    TIMESTAMP — the canonical "don't leak the future" join of any
    training-data pipeline. Events before the user's first order (or
    with no orders at all) keep state 'NONE' rather than being dropped.

    Distinct from q27 (as-of composition): this is the interval form —
    a user-equi-join with a range predicate against disjoint intervals
    (each event matches at most one), the plan you use when the
    dimension is already interval-shaped (SCD2 tables, q139).

    Zero-width intervals (two orders at the same timestamp) match
    nothing, deterministically, because [vf, vt) is empty — ties are
    ordered by (date, orderkey) so interval construction is stable.

    Scale: the join is hash-partitioned on user_id with the range
    predicate applied post-join; per-user interval counts are bounded
    by order history, so the fan-out is per-user orders, not a range
    join over the time axis."""
    orders = load_table(spark, sf_dir, "orders")
    wv = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    iv = orders.select(
        F.col("o_custkey").alias("iv_user"),
        F.col("o_orderpriority").alias("state"),
        F.col("o_orderdate").alias("vf"),
        F.lead("o_orderdate").over(wv).alias("vt"),
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    tagged = ev.join(
        iv,
        (F.col("iv_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("ts") < F.col("vt"))),
        "left",
    )
    return (
        tagged.groupBy(F.coalesce("state", F.lit("NONE")).alias("state"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# q256 — revenue peak detection (local maxima over change days).
# ---------------------------------------------------------------------------
_PEAK_TOP = 20


@query(
    "q256_peak_days",
    oracle=f"""
WITH daily AS (
    SELECT CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                + day(o_orderdate) AS INTEGER) AS day_int,
           CAST(datediff('day', {_EPOCH}, o_orderdate) AS BIGINT) AS d,
           SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1, 2
),
nbr AS (
    SELECT day_int, rev,
           MAX(rev) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
             AS lmax,
           MAX(rev) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
             AS rmax
    FROM daily
),
peaks AS (
    -- CASE, not GREATEST: DuckDB's GREATEST promotes DECIMAL args to
    -- DOUBLE (measured), which would turn the exact subtraction into
    -- float arithmetic; the CASE preserves DECIMAL in both engines.
    SELECT day_int, rev,
           {sql_double(
               "rev - (CASE WHEN COALESCE(lmax, CAST(0 AS DECIMAL(18,2)))"
               " >= COALESCE(rmax, CAST(0 AS DECIMAL(18,2)))"
               " THEN COALESCE(lmax, CAST(0 AS DECIMAL(18,2)))"
               " ELSE COALESCE(rmax, CAST(0 AS DECIMAL(18,2))) END)"
           )}
             AS prominence
    FROM nbr
    WHERE (lmax IS NULL OR rev > lmax) AND (rmax IS NULL OR rev > rmax)
)
SELECT day_int, {sql_double('rev')} AS rev, prominence
FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rev DESC, day_int) AS rk FROM peaks
) t WHERE rk <= {_PEAK_TOP}
ORDER BY rev DESC, day_int
""",
)
def q256_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the daily revenue series: a day is a
    peak when it strictly exceeds the max of its 3 observed neighbors
    on each side (partial neighborhoods at the series edges count — a
    boundary day only needs to beat the side it has). Top 20 peaks by
    revenue with their prominence over the taller shoulder.

    Revenue is exact DECIMAL, so the strict comparisons cannot wobble;
    prominence is quantified exactly then surfaced as double.

    Scale: one date-keyed aggregate plus two ROWS-frame windows over
    the (bounded) day axis."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = orders.groupBy(
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        )
        .cast("int")
        .alias("day_int"),
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d"),
    ).agg(F.sum(_dec2(F.col("o_totalprice"))).alias("rev"))
    wl = W.orderBy("d").rowsBetween(-3, -1)
    wr = W.orderBy("d").rowsBetween(1, 3)
    nbr = daily.select(
        "day_int",
        "rev",
        F.max("rev").over(wl).alias("lmax"),
        F.max("rev").over(wr).alias("rmax"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    peaks = nbr.filter(
        (F.col("lmax").isNull() | (F.col("rev") > F.col("lmax")))
        & (F.col("rmax").isNull() | (F.col("rev") > F.col("rmax")))
    ).select(
        "day_int",
        "rev",
        (
            F.col("rev")
            - F.greatest(F.coalesce("lmax", zero), F.coalesce("rmax", zero))
        )
        .cast("double")
        .alias("prominence"),
    )
    wk = W.orderBy(F.col("rev").desc(), "day_int")
    return (
        peaks.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _PEAK_TOP)
        .select("day_int", F.col("rev").cast("double").alias("rev"), "prominence")
        .orderBy(F.col("rev").desc(), "day_int")
    )


# ---------------------------------------------------------------------------
# q258 — finite-window EWMA (literal weight table shared by both engines).
# ---------------------------------------------------------------------------
_EWMA_ALPHA = Decimal("0.3")
_EWMA_WINDOW = 30
_EWMA_WEIGHTS = [
    (
        i,
        (
            _EWMA_ALPHA * (Decimal(1) - _EWMA_ALPHA) ** i
        ).quantize(Decimal("1e-12")),
    )
    for i in range(_EWMA_WINDOW)
]
_SQL_WEIGHTS = ", ".join(
    f"({i}, CAST({w} AS DECIMAL(14,12)))" for i, w in _EWMA_WEIGHTS
)


@query(
    "q258_ewma_smoothing",
    oracle=f"""
WITH weights AS (
    SELECT * FROM (VALUES {_SQL_WEIGHTS}) AS t(i, wt)
),
daily AS (
    -- the daily total is cast back to DECIMAL(18,2): Spark's SUM widens
    -- to (28,2), and (14,12)x(28,2) would exceed precision 38, where
    -- allowPrecisionLoss silently drops the product to scale 9 — the
    -- term values would round differently between engines.
    SELECT o_orderpriority,
           CAST(datediff('day', {_EPOCH}, o_orderdate) AS BIGINT) AS d,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS month,
           -- (19,2), not (18,2): DuckDB multiplies two int64-backed
           -- decimals in int64 and overflows; 19 digits forces the
           -- int128 path (same value, exact). Spark side keeps (18,2).
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DECIMAL(19,2)) AS rev
    FROM orders GROUP BY 1, 2, 3
),
targets AS (
    SELECT o_orderpriority, month, MAX(d) AS d
    FROM daily GROUP BY o_orderpriority, month
),
terms AS (
    -- each term quantized to DECIMAL(18,8) BEFORE the sum: the raw
    -- product is DECIMAL(32,14), and summing that would push Spark past
    -- precision 38, where allowPrecisionLoss silently drops scale —
    -- the engines would round differently. (18,8) sums stay exact in
    -- both.
    SELECT t.o_orderpriority, t.month,
           SUM(CAST(round(w.wt * s.rev, 8) AS DECIMAL(18,8))) AS num,
           SUM(w.wt) AS den
    FROM targets t
    JOIN weights w ON TRUE
    JOIN daily s ON s.o_orderpriority = t.o_orderpriority AND s.d = t.d - w.i
    GROUP BY t.o_orderpriority, t.month
)
SELECT o_orderpriority, month,
       {sql_double('num')} / {sql_double('den')} AS ewma_rev
FROM terms ORDER BY o_orderpriority, month
""",
)
def q258_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA of daily revenue per priority, evaluated at
    each month's last observed day: ewma = sum(w_i * x_(d-i)) /
    sum(w_i) over the trailing 30 days present, w_i = a(1-a)^i,
    a = 0.3. The weights are PRE-COMPUTED decimal literals shared
    verbatim by both engines — no runtime pow(), whose cross-libm
    rounding is exactly the trap the ln/log10 rule exists for. Missing
    days drop out of numerator and denominator symmetrically (the
    standard irregular-series renormalization).

    Scale: the weight join fans each target out x30 (a broadcast of a
    30-row table), and the series lookup is an equi-join on
    (priority, day) — no window over unbounded history, which is what
    makes the finite-window form the one you can actually run
    incrementally at scale."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = orders.groupBy(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(
        F.sum(_dec2(F.col("o_totalprice"))).cast("decimal(18,2)").alias("rev")
    )
    targets = daily.groupBy("o_orderpriority", "month").agg(F.max("d").alias("d"))
    weights = spark.createDataFrame(
        _EWMA_WEIGHTS, "i INT, wt DECIMAL(14,12)"
    )
    series = daily.select(
        F.col("o_orderpriority").alias("s_pri"), F.col("d").alias("s_d"), "rev"
    )
    terms = (
        targets.crossJoin(F.broadcast(weights))
        .join(
            series,
            (F.col("s_pri") == F.col("o_orderpriority"))
            & (F.col("s_d") == F.col("d") - F.col("i")),
        )
        .groupBy("o_orderpriority", "month")
        .agg(
            F.sum(
                F.round(F.col("wt") * F.col("rev"), 8).cast("decimal(18,8)")
            ).alias("num"),
            F.sum("wt").alias("den"),
        )
    )
    return terms.select(
        "o_orderpriority",
        "month",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("ewma_rev"),
    ).orderBy("o_orderpriority", "month")


# ---------------------------------------------------------------------------
# q260 — autocorrelation of daily revenue at several lags.
# ---------------------------------------------------------------------------
_ACF_LAGS = (1, 7, 28)


def _sql_acf_branch(lag: int) -> str:
    return f"""
SELECT {lag} AS lag, n_pairs,
       {sql_double(
           "CAST(round("
           "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
           " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
           "  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
           ", 6) AS DECIMAL(18,6))"
       )} AS autocorr
FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {sql_double('SUM(a.rev)')} AS sx, {sql_double('SUM(b.rev)')} AS sy,
           {sql_double('SUM(a.rev * b.rev)')} AS sxy,
           {sql_double('SUM(a.rev * a.rev)')} AS sxx,
           {sql_double('SUM(b.rev * b.rev)')} AS syy,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM daily a JOIN daily b ON b.d = a.d - {lag}
) s"""


@query(
    "q260_revenue_autocorr",
    oracle=f"""
WITH daily AS (
    SELECT CAST(datediff('day', {_EPOCH}, o_orderdate) AS BIGINT) AS d,
           SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
)
SELECT * FROM ({_sql_acf_branch(_ACF_LAGS[0])}
UNION ALL {_sql_acf_branch(_ACF_LAGS[1])}
UNION ALL {_sql_acf_branch(_ACF_LAGS[2])}) u
ORDER BY lag
""",
)
def q260_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1/7/28 — the
    weekly-cycle detector that complements q228 (seasonality index is a
    mean ratio; this is the correlation structure). Pairs are formed by
    an exact self-join on day-minus-lag, so calendar gaps drop pairs
    instead of misaligning them.

    Determinism: revenue is DECIMAL; every moment is an exact DECIMAL
    sum surfaced to double through the correctly-rounded VARCHAR path;
    the Pearson expression is identical in both engines and the result
    is quantized round(.,6).

    Scale: the daily aggregate is tiny; each lag is a self-equi-join on
    the day key over that tiny series."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("d")
    ).agg(F.sum(_dec2(F.col("o_totalprice"))).alias("rev"))
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("xb"))
    outs = []
    for lag in _ACF_LAGS:
        j = a.join(b, F.col("db") == F.col("da") - F.lit(lag))
        s = j.agg(
            F.count("*").alias("n"),
            F.sum("xa").cast("double").alias("sx"),
            F.sum("xb").cast("double").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).cast("double").alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).cast("double").alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).cast("double").alias("syy"),
        )
        nd = F.col("n").cast("double")
        r = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
            F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.sqrt(nd * F.col("syy") - F.col("sy") * F.col("sy"))
        )
        outs.append(
            s.select(
                F.lit(lag).alias("lag"),
                F.col("n").alias("n_pairs"),
                F.round(r, 6).cast("decimal(18,6)").cast("double").alias("autocorr"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("lag")


# ---------------------------------------------------------------------------
# q261 — order inter-arrival statistics per market segment.
# ---------------------------------------------------------------------------
@query(
    "q261_interarrival_stats",
    oracle=f"""
WITH gaps AS (
    SELECT o.o_custkey,
           CAST(datediff('day', {_EPOCH}, o.o_orderdate) AS BIGINT)
             - lag(CAST(datediff('day', {_EPOCH}, o.o_orderdate) AS BIGINT))
               OVER (PARTITION BY o.o_custkey
                     ORDER BY o.o_orderdate, o.o_orderkey) AS g
    FROM orders o
),
seg AS (
    SELECT c.c_mktsegment, g.g
    FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
    WHERE g.g IS NOT NULL
),
s AS (
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(g) AS BIGINT) AS sg, CAST(SUM(g * g) AS BIGINT) AS sgg,
           quantile_cont(CAST(g AS DOUBLE), 0.5) AS p50_days,
           quantile_cont(CAST(g AS DOUBLE), 0.9) AS p90_days
    FROM seg GROUP BY c_mktsegment
)
SELECT c_mktsegment, n AS n_gaps,
       {sql_double('CAST(round(CAST(sg AS DOUBLE) / n, 6) AS DECIMAL(18,6))')}
         AS mean_days,
       {sql_double(
           "CAST(round("
           "sqrt((CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)"
           "      - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))"
           "     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
           " / (CAST(sg AS DOUBLE) / n)"
           ", 6) AS DECIMAL(18,6))"
       )} AS cv,
       p50_days, p90_days
FROM s ORDER BY c_mktsegment
""",
)
def q261_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order inter-arrival gaps per customer (days between consecutive
    orders, tie-broken by orderkey), aggregated by market segment: mean,
    coefficient of variation (cv ~ 1 is the memoryless/Poisson
    signature; this measures demand cadence, not fulfillment latency),
    and p50/p90.

    Gaps are exact day INTs; mean/cv derive from exact BIGINT moments
    with an identical double expression in both engines, quantized
    round(.,6); percentiles interpolate identical doubles.

    Scale: one window over the customer-partitioned sort, a broadcast
    join to the customer dimension, and a 5-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    epoch = F.lit("1970-01-01").cast("date")
    d = F.datediff(F.col("o_orderdate"), epoch).cast("bigint")
    wg = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey", (d - F.lag(d).over(wg)).alias("g")
    ).filter(F.col("g").isNotNull())
    seg = gaps.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        gaps.o_custkey == F.col("c_custkey"),
    )
    s = seg.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sgg"),
        F.expr("percentile(CAST(g AS DOUBLE), 0.5D)").alias("p50_days"),
        F.expr("percentile(CAST(g AS DOUBLE), 0.9D)").alias("p90_days"),
    )
    nd = F.col("n").cast("double")
    sgd = F.col("sg").cast("double")
    sggd = F.col("sgg").cast("double")
    mean = sgd / F.col("n")
    sd = F.sqrt(
        (nd * sggd - sgd * sgd) / (nd * (F.col("n") - 1).cast("double"))
    )
    return s.select(
        "c_mktsegment",
        F.col("n").alias("n_gaps"),
        F.round(mean, 6).cast("decimal(18,6)").cast("double").alias("mean_days"),
        F.round(sd / mean, 6).cast("decimal(18,6)").cast("double").alias("cv"),
        "p50_days",
        "p90_days",
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q272 — time-spread revenue recognition.
# ---------------------------------------------------------------------------
_SPREAD_CAP = 12


@query(
    "q272_revenue_spread",
    oracle=f"""
WITH li AS (
    SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS INTEGER)
             AS om,
           GREATEST(1, LEAST({_SPREAD_CAP},
               CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS INTEGER)
               - CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                      AS INTEGER) + 1)) AS span,
           l.l_extendedprice AS price
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
exploded AS (
    SELECT om + t.i AS idx,
           CAST(round(price / span, 6) AS DECIMAL(18,6)) AS monthly
    FROM li, UNNEST(generate_series(0, span - 1)) AS t(i)
)
SELECT CAST((idx // 12) * 100 + (idx % 12) + 1 AS INTEGER) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_slices,
       {sql_double('SUM(monthly)')} AS recognized_rev
FROM exploded GROUP BY 1 ORDER BY month
""",
)
def q272_revenue_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue recognition spread over time: each line's extended price
    is recognized evenly across the months from order to ship
    (inclusive, capped at 12 months), then re-aggregated per
    calendar month — the explode-and-reaggregate pattern behind any
    deferred-revenue or capacity-amortization schedule.

    The per-month slice is ONE double division quantized round(.,6) ->
    DECIMAL, so the monthly re-sum is exact; the even-split rounding
    residue (< 1e-6 per line) is deliberately dropped rather than
    assigned, and the contract is documented here (q270 shows the
    largest-remainder alternative when the residue must land).

    Scale: the explode factor is bounded by the 12-month cap (the
    MAX_BASKET idea on the time axis); the re-aggregation is one
    month-keyed shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    om = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("int")
    sm = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).cast("int")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        om.alias("om"),
        F.greatest(F.lit(1), F.least(F.lit(_SPREAD_CAP), sm - om + 1)).alias("span"),
        F.col("l_extendedprice").alias("price"),
    )
    exploded = j.select(
        "om",
        F.explode(F.sequence(F.lit(0), F.col("span") - 1)).alias("i"),
        F.round(F.col("price") / F.col("span"), 6)
        .cast("decimal(18,6)")
        .alias("monthly"),
    ).select((F.col("om") + F.col("i")).alias("idx"), "monthly")
    return (
        exploded.groupBy(
            (
                F.floor(F.col("idx") / 12) * 100 + F.pmod(F.col("idx"), F.lit(12)) + 1
            )
            .cast("int")
            .alias("month")
        )
        .agg(
            F.count("*").alias("n_slices"),
            F.sum("monthly").cast("double").alias("recognized_rev"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q317 — Haar wavelet decomposition of the daily order series (round 14).
# ---------------------------------------------------------------------------
_HAAR_N = 256  # 2^8 days from the first order date
_HAAR_LEVELS = 8


def _haar_shared_sql() -> str:
    """Dialect-shared Haar transform over ``q317_daily(idx, v)``.

    The trick that makes an 8-level hierarchical transform ONE
    aggregation instead of an unrolled fixpoint: the unnormalized Haar
    detail at (level k, position p) is a SIGNED SUM over the base
    series — +v where floor(idx/2^(k-1)) is even within block p,
    -v where odd — so a cross join against the 8-row level table and a
    single GROUP BY produce every coefficient. No iteration, no CTE
    self-reference, nothing for an inlining engine to expand.

    Every value is an exact BIGINT end-to-end (counts, signed sums,
    squares), so Parseval's identity is gated as integer EQUALITY with
    the level weights cleared of denominators:
    256 * sum(v^2) == s_total^2 + sum_k 2^(8-k) * sum_p d_{k,p}^2.
    """
    levels = ",".join(f"({k})" for k in range(1, _HAAR_LEVELS + 1))
    return f"""
levels AS (SELECT k FROM (VALUES {levels}) AS t(k)),
coeffs AS (
  SELECT t.k AS level,
         CAST(floor(d.idx / power(2, t.k)) AS BIGINT) AS pos,
         CAST(SUM(CASE WHEN CAST(floor(d.idx / power(2, t.k - 1)) AS BIGINT)
                            % 2 = 0
                  THEN d.v ELSE -d.v END) AS BIGINT) AS coeff
  FROM q317_daily d CROSS JOIN levels t
  GROUP BY t.k, CAST(floor(d.idx / power(2, t.k)) AS BIGINT)
),
tot AS (
  SELECT CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS e
  FROM q317_daily
),
pars AS (
  SELECT (SELECT s * s FROM tot)
         + CAST(SUM(CAST(power(2, {_HAAR_LEVELS} - level) AS BIGINT)
                    * coeff * coeff) AS BIGINT) AS lhs,
         (SELECT {_HAAR_N} * e FROM tot) AS rhs
  FROM coeffs
)
SELECT level, pos, coeff,
       (SELECT rhs FROM pars) AS energy_x{_HAAR_N},
       (SELECT lhs = rhs FROM pars) AS parseval_ok
FROM coeffs
ORDER BY abs(coeff) DESC, level, pos
LIMIT 10
"""


@query(
    "q317_haar_wavelet_energy",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT datediff('day', (SELECT MIN(o_orderdate) FROM orders),
                  o_orderdate) AS idx,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM orders
  WHERE datediff('day', (SELECT MIN(o_orderdate) FROM orders),
                 o_orderdate) < {_HAAR_N}
  GROUP BY 1
),
q317_daily AS MATERIALIZED (
  SELECT g.idx, COALESCE(b.v, 0) AS v
  FROM (SELECT unnest(range(0, {_HAAR_N})) AS idx) g
  LEFT JOIN base b ON b.idx = g.idx
),
{_haar_shared_sql()}
""",
)
def q317_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet decomposition of the first-256-day daily order
    series: the top-10 detail coefficients by magnitude (which
    time-scale and where the demand series moves hardest — level 8 is
    the ~128-day vs ~128-day macro swing, level 1 a day-to-day flip)
    plus Parseval's identity gated as EXACT integer equality. The
    registry's time-series shelf (q250 seasonality, q258 EWMA, q261 CV,
    q289 dispersion) works in the time domain; this is its first
    multi-resolution/frequency-domain operator.

    The transform is deliberately the UNNORMALIZED integer Haar
    (pairwise a+b / a-b, no sqrt2): every coefficient is an exact
    BIGINT, so the energy-conservation law needs no tolerance — the
    denominators clear to 2^8 * sum(v^2) == s^2 + sum 2^(L-k) d^2,
    and both engines compare integers. One float anywhere and Parseval
    would need an epsilon; exactness is what makes it a hash gate.

    Plan shape (the real content): a textbook Haar is an L-round
    fixpoint, but each detail coefficient is a signed sum over the BASE
    series (sign = parity of floor(idx/2^(k-1))), so the whole
    decomposition is one cross join with an 8-row level table and one
    GROUP BY — the q311/q314 CTE-expansion trap never arises. The daily
    aggregate is the only distributed work; the 256-point series is
    collected to a LocalRelation (same footing as q314's 64x64 matrix)
    and the transform runs on dialect-shared SQL text.

    Scale: the daily rollup partial-aggregates over the fact; the
    transform is O(N log N) on N=256 points regardless of fact size. A
    longer horizon (N=2^16 days) changes nothing structurally — the
    signed-sum formulation shuffles (level, pos) partials, never raw
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    mn = orders.agg(F.min("o_orderdate").alias("mn"))
    base = (
        orders.crossJoin(F.broadcast(mn))
        .select(F.datediff("o_orderdate", "mn").cast("bigint").alias("idx"))
        .filter(F.col("idx") < _HAAR_N)
        .groupBy("idx")
        .agg(F.count("*").alias("v"))
    )
    grid = spark.range(_HAAR_N).select(F.col("id").alias("idx"))
    daily = grid.join(base, "idx", "left").select(
        "idx", F.coalesce(F.col("v"), F.lit(0)).cast("bigint").alias("v")
    )
    rows = daily.collect()
    if len(rows) != _HAAR_N:
        raise RuntimeError(f"q317: expected {_HAAR_N} days, got {len(rows)}")
    spark.createDataFrame(rows, daily.schema).createOrReplaceTempView("q317_daily")
    return spark.sql("WITH " + _haar_shared_sql())


# ---------------------------------------------------------------------------
# q321 — Allen's interval-algebra census (round 14).
# ---------------------------------------------------------------------------
#: the 13 Allen relations in canonical order, as a shared CASE over
#: (a_start, a_end, b_start, b_end). Branch order makes the taxonomy
#: deterministic for degenerate (point) intervals too: the first
#: matching arm wins on both engines — the CASE text is shared verbatim.
_ALLEN_CASE = """CASE
  WHEN a_end < b_start THEN 'before'
  WHEN a_end = b_start THEN 'meets'
  WHEN a_start < b_start AND a_end > b_start AND a_end < b_end THEN 'overlaps'
  WHEN a_start = b_start AND a_end < b_end THEN 'starts'
  WHEN a_start > b_start AND a_end < b_end THEN 'during'
  WHEN a_start > b_start AND a_start < b_end AND a_end = b_end THEN 'finishes'
  WHEN a_start = b_start AND a_end = b_end THEN 'equals'
  WHEN a_start < b_start AND a_end = b_end THEN 'finished_by'
  WHEN a_start < b_start AND a_end > b_end THEN 'contains'
  WHEN a_start = b_start AND a_end > b_end THEN 'started_by'
  WHEN a_start < b_end AND a_start > b_start AND a_end > b_end
    THEN 'overlapped_by'
  WHEN a_start = b_end THEN 'met_by'
  WHEN a_start > b_end THEN 'after'
  ELSE 'other'
END"""

_ALLEN_ORDER = (
    "before", "meets", "overlaps", "starts", "during", "finishes", "equals",
    "finished_by", "contains", "started_by", "overlapped_by", "met_by",
    "after",
)


@query(
    "q321_allen_interval_census",
    oracle=f"""
WITH fu AS (
  SELECT o.o_custkey AS ck, o.o_orderkey AS k,
         o.o_orderdate AS s, MAX(l.l_shipdate) AS e
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
),
pairs AS (
  SELECT s AS a_start, e AS a_end,
         lead(s) OVER w AS b_start, lead(e) OVER w AS b_end
  FROM fu WINDOW w AS (PARTITION BY ck ORDER BY s, k)
),
cls AS (
  SELECT {_ALLEN_CASE} AS rel FROM pairs WHERE b_start IS NOT NULL
),
census AS (SELECT rel, CAST(COUNT(*) AS BIGINT) AS n FROM cls GROUP BY rel),
taxonomy AS (
  SELECT * FROM (VALUES
    {", ".join(f"({i + 1}, '{r}')" for i, r in enumerate(_ALLEN_ORDER))}
  ) AS t(ord, rel)
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM census)
SELECT t.ord, t.rel, COALESCE(c.n, 0) AS n_pairs,
       CAST(CAST(CAST(round(COALESCE(c.n, 0) / (SELECT CAST(total AS DOUBLE)
                                                FROM tot), 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS share,
       (SELECT COUNT(*) FROM census WHERE rel = 'other') = 0
         AS all_classified
FROM taxonomy t LEFT JOIN census c ON c.rel = t.rel
ORDER BY t.ord
""",
)
def q321_allen_interval_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra, the complete 13-relation taxonomy,
    censused over consecutive same-customer fulfillment intervals
    ([o_orderdate, last l_shipdate] vs the customer's next order): did
    the next order arrive before the previous finished shipping
    (overlaps/contains — the concurrency the warehouse actually
    schedules around), after a gap (before), or back-to-back (meets)?
    The registry joins intervals (q243 as-of, q251 stabbing, q139
    SCD2); this is the first operator that CLASSIFIES interval pairs —
    the full taxonomy, not one predicate — and returns all 13 rows
    (zeros included) so a vanished relation is a visible diff, with an
    all_classified gate proving the CASE is exhaustive on real data.

    Determinism: the 13 conditions are written in one canonical-order
    CASE whose text both engines evaluate verbatim (dates compare
    exactly; the branch ORDER resolves degenerate point intervals the
    same way everywhere). Consecutive pairing is lead() over
    (customer, start, orderkey) — the orderkey tiebreak pins same-day
    orders.

    Scale: the fulfillment interval is a partial-aggregated
    order-grain rollup off the orders⋈lineitem join (orderkey-keyed
    shuffle); pairing is a customer-partitioned window — no interval
    self-join anywhere, so cost is one sort per customer partition,
    not pairs x pairs."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fu = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("e"))
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("s"),
            "e",
        )
    )
    w = W.partitionBy("ck").orderBy("s", "k")
    pairs = fu.select(
        F.col("s").alias("a_start"),
        F.col("e").alias("a_end"),
        F.lead("s").over(w).alias("b_start"),
        F.lead("e").over(w).alias("b_end"),
    ).filter(F.col("b_start").isNotNull())
    census = pairs.select(F.expr(_ALLEN_CASE).alias("rel")).groupBy("rel").agg(
        F.count("*").alias("n")
    )
    taxonomy = spark.createDataFrame(
        [(i + 1, r) for i, r in enumerate(_ALLEN_ORDER)], ["ord", "rel"]
    )
    tot = census.groupBy().agg(F.sum("n").alias("total"))
    other = census.filter(F.col("rel") == "other").groupBy().agg(
        F.count("*").alias("n_other")
    )
    return (
        taxonomy.join(F.broadcast(census), "rel", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(
            F.broadcast(
                other.select(F.coalesce("n_other", F.lit(0)).alias("n_other"))
            )
        )
        .select(
            "ord",
            "rel",
            F.coalesce("n", F.lit(0)).alias("n_pairs"),
            F.round(
                F.coalesce("n", F.lit(0)) / F.col("total").cast("double"), 6
            )
            .cast("decimal(18,6)")
            .cast("double")
            .alias("share"),
            (F.col("n_other") == 0).alias("all_classified"),
        )
        .orderBy("ord")
    )


# ---------------------------------------------------------------------------
# q322 — SAX symbolic motif census over the daily order series (round 14).
# ---------------------------------------------------------------------------
_SAX_N = 256  # days (shared with q317's horizon)
_SAX_W = 8  # days per PAA segment -> 32 segments
_SAX_SEGS = _SAX_N // _SAX_W
#: N(0,1) quartile breakpoints for a 4-letter alphabet (Lin/Keogh SAX)
_SAX_BP = (-0.6745, 0.0, 0.6745)


@query(
    "q322_sax_motif_census",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT datediff('day', (SELECT MIN(o_orderdate) FROM orders),
                  o_orderdate) AS idx,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM orders
  WHERE datediff('day', (SELECT MIN(o_orderdate) FROM orders),
                 o_orderdate) < {_SAX_N}
  GROUP BY 1
),
daily AS MATERIALIZED (
  SELECT g.idx, COALESCE(b.v, 0) AS v
  FROM (SELECT unnest(range(0, {_SAX_N})) AS idx) g
  LEFT JOIN base b ON b.idx = g.idx
),
paa AS MATERIALIZED (
  SELECT CAST(floor(idx / {_SAX_W}) AS BIGINT) AS pos,
         CAST(SUM(v) AS BIGINT) AS s
  FROM daily GROUP BY 1
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(s) AS BIGINT) AS ss,
         CAST(SUM(s * s) AS BIGINT) AS sss
  FROM paa
),
sym AS MATERIALIZED (
  SELECT pos,
         CASE WHEN z < {_SAX_BP[0]} THEN 'a'
              WHEN z < {_SAX_BP[1]} THEN 'b'
              WHEN z < {_SAX_BP[2]} THEN 'c'
              ELSE 'd' END AS c
  FROM (
    SELECT pos,
           (s - CAST(ss AS DOUBLE) / m)
           / sqrt((m * sss - CAST(ss AS DOUBLE) * ss)
                  / (m * CAST(m - 1 AS DOUBLE))) AS z
    FROM paa, st
  ) zz
),
words AS (
  SELECT c || lead(c, 1) OVER (ORDER BY pos)
           || lead(c, 2) OVER (ORDER BY pos) AS word
  FROM sym
),
census AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM words WHERE word IS NOT NULL GROUP BY word
)
SELECT word, n,
       CAST(CAST(CAST(round(n / CAST({_SAX_SEGS - 2} AS DOUBLE), 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS share
FROM census
ORDER BY n DESC, word
LIMIT 10
""",
)
def q322_sax_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) motif census of the daily
    order series: 256 days -> 32 PAA segments (8-day sums) ->
    z-normalized -> 4-letter alphabet at the N(0,1) quartile
    breakpoints -> sliding 3-letter words -> top-10 motif census. The
    symbolic-discretization family (Lin & Keogh's SAX) the time-series
    shelf lacked: q317 asks WHERE the energy lives, this asks WHICH
    SHAPES repeat — 'abd' is a surge after a quiet fortnight, 'ddd' a
    sustained peak; motif counts are what a forecaster's shape library
    indexes at scale.

    Determinism: PAA sums are exact BIGINTs; the z-scores are one
    identical double expression (exact integer moments, n-1 variance)
    on both engines, compared against literal breakpoints — symbols are
    therefore bit-stable, and everything after the CASE is exact
    strings/ints. (A z exactly equal to a breakpoint would be the only
    ambiguity; breakpoints are irrational-valued literals, unreachable
    from integer-derived ratios.)

    Scale: one daily partial aggregate over the fact, then 32 rows —
    the window lead and census are free. A year of 10-minute buckets
    (52k points) changes the constant, not the plan: PAA partial-
    aggregates, words ride one ordered window over segments."""
    orders = load_table(spark, sf_dir, "orders")
    mn = orders.agg(F.min("o_orderdate").alias("mn"))
    base = (
        orders.crossJoin(F.broadcast(mn))
        .select(F.datediff("o_orderdate", "mn").cast("bigint").alias("idx"))
        .filter(F.col("idx") < _SAX_N)
        .groupBy("idx")
        .agg(F.count("*").alias("v"))
    )
    grid = spark.range(_SAX_N).select(F.col("id").alias("idx"))
    daily = grid.join(base, "idx", "left").select(
        "idx", F.coalesce(F.col("v"), F.lit(0)).cast("bigint").alias("v")
    )
    paa = daily.groupBy(
        F.floor(F.col("idx") / _SAX_W).cast("bigint").alias("pos")
    ).agg(F.sum("v").alias("s"))
    st = paa.groupBy().agg(
        F.count("*").alias("m"),
        F.sum("s").alias("ss"),
        F.sum(F.col("s") * F.col("s")).alias("sss"),
    )
    z = (F.col("s") - F.col("ss").cast("double") / F.col("m")) / F.sqrt(
        (F.col("m") * F.col("sss") - F.col("ss").cast("double") * F.col("ss"))
        / (F.col("m") * (F.col("m") - 1).cast("double"))
    )
    sym = (
        paa.crossJoin(F.broadcast(st))
        .select("pos", z.alias("z"))
        .select(
            "pos",
            F.when(F.col("z") < _SAX_BP[0], "a")
            .when(F.col("z") < _SAX_BP[1], "b")
            .when(F.col("z") < _SAX_BP[2], "c")
            .otherwise("d")
            .alias("c"),
        )
    )
    w = W.orderBy("pos")
    words = sym.select(
        F.concat(
            F.col("c"), F.lead("c", 1).over(w), F.lead("c", 2).over(w)
        ).alias("word")
    ).filter(F.col("word").isNotNull())
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(
            "word",
            "n",
            F.round(F.col("n") / F.lit(float(_SAX_SEGS - 2)), 6)
            .cast("decimal(18,6)")
            .cast("double")
            .alias("share"),
        )
        .orderBy(F.col("n").desc(), "word")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q327 — Little's-law conservation audit (round 14).
# ---------------------------------------------------------------------------
@query(
    "q327_little_law_conservation",
    oracle=f"""
WITH {_IV_SQL},
deltas AS (
    SELECT d0 AS day, 1 AS delta FROM iv
    UNION ALL
    SELECT d1, -1 FROM iv
),
series AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day),
cum AS (
    SELECT day,
           CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS backlog,
           CAST(LEAD(day) OVER (ORDER BY day) - day AS BIGINT) AS span
    FROM series
),
integral AS (
    SELECT CAST(SUM(backlog * span) AS BIGINT) AS wip_days
    FROM cum WHERE span IS NOT NULL
),
direct AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(d1 - d0) AS BIGINT) AS order_days,
           CAST(MAX(d1) - MIN(d0) AS BIGINT) AS horizon_days
    FROM iv
)
SELECT d.n_orders, d.horizon_days,
       i.wip_days, d.order_days,
       i.wip_days = d.order_days AS conservation_ok,
       CAST(CAST(CAST(round(CAST(i.wip_days AS DOUBLE) / d.horizon_days, 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS avg_wip_l,
       CAST(CAST(CAST(round(CAST(d.n_orders AS DOUBLE) / d.horizon_days, 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)
         AS arrival_rate_lambda,
       CAST(CAST(CAST(round(CAST(d.order_days AS DOUBLE) / d.n_orders, 6)
                      AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS mean_wait_w
FROM direct d, integral i
""",
)
def q327_little_law_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law made a CONSERVATION GATE: the time-integral of the
    open-order backlog over the horizon (computed by q251's event-delta
    sweep line — +1 at order date, -1 at last ship date, piecewise-
    constant segments weighted by their span) must equal the sum of
    per-order durations computed DIRECTLY from the intervals — two
    genuinely different algorithms for the same integer (the SCALING.md
    dual-plan rule), gated as exact BIGINT equality. On top of the
    conserved quantity sit the three Little's-law readouts: L = average
    WIP, lambda = arrivals/day, W = mean days in system — published
    with L = lambda * W holding by construction once conservation
    holds (both sides equal wip_days/horizon), which is exactly the
    point: the law is an accounting identity, and what can actually
    break in an engine is the integral. A dropped segment, an off-by-
    one in the half-open convention ([start, end) here), or a mis-
    ordered cumsum flips conservation_ok.

    q251 publishes the backlog CURVE; this audits the AREA under it
    against the interval ledger and converts it to the queueing
    readout. Everything before the three final divisions is exact
    integer arithmetic.

    Scale: the sweep line is one order-grain rollup + one date-keyed
    aggregate + one ordered window over distinct days (q251's plan);
    the direct side is a scalar aggregate over the same rollup. No
    interval joins, nothing quadratic."""
    # both audit sides read iv (deltas twice, direct once) — checkpoint
    # the order-grain rollup so the lineitem join runs exactly once
    iv = _fulfillment_iv(spark, sf_dir).localCheckpoint(eager=True)
    deltas = iv.select(F.col("d0").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("d1").alias("day"), F.lit(-1).alias("delta"))
    )
    series = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    wo = W.orderBy("day")
    cum = series.select(
        "day",
        F.sum("net").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("backlog"),
        (F.lead("day").over(wo) - F.col("day")).alias("span"),
    )
    integral = cum.filter(F.col("span").isNotNull()).agg(
        F.sum(F.col("backlog") * F.col("span")).alias("wip_days")
    )
    direct = iv.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("d1") - F.col("d0")).alias("order_days"),
        (F.max("d1") - F.min("d0")).alias("horizon_days"),
    )
    q6 = lambda c: F.round(c, 6).cast("decimal(18,6)").cast("double")  # noqa: E731
    return direct.crossJoin(F.broadcast(integral)).select(
        "n_orders",
        "horizon_days",
        "wip_days",
        "order_days",
        (F.col("wip_days") == F.col("order_days")).alias("conservation_ok"),
        q6(F.col("wip_days").cast("double") / F.col("horizon_days")).alias("avg_wip_l"),
        q6(F.col("n_orders").cast("double") / F.col("horizon_days")).alias(
            "arrival_rate_lambda"
        ),
        q6(F.col("order_days").cast("double") / F.col("n_orders")).alias("mean_wait_w"),
    )
