"""Stream-semantics operators, batch-checked — SURVEY.md §2 Table A + §5.2.

These queries mirror the reference pipeline's observable semantics on the
bounded ``events`` fixture so the DuckDB oracle can gate them; the *live*
Structured Streaming versions of the same transformations are in
``kinesis_sample_spark.streaming`` and are tested for batch-equivalence in
tests/test_streaming.py (SURVEY.md §5.2: run the streaming query on a
bounded source and compare the final table against the batch SQL).

Reference semantics covered here:
- event-time windows (tumbling/sliding/session) and streaming dedup — absent
  in the reference, required of the engine (Table B)
- as-of join via the union+window composition in operators/asof.py
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import dec
from kinesis_sample_spark.operators.asof import asof_join
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q23 — tumbling event-time window aggregation.
# ---------------------------------------------------------------------------
@query(
    "q23_tumbling_window",
    oracle="""
SELECT event_type,
       date_trunc('hour', ts) AS w_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, w_start
""",
)
def q23_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.window`` tumbling 1h — the same expression works under
    readStream+watermark (see streaming.pipeline); in batch it degenerates
    to a hash aggregation on the window-start. Scale: pre-aggregation
    happens map-side; cardinality = types × hours."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("event_type", "w_start")
    )


# ---------------------------------------------------------------------------
# q24 — sliding window (1 h window, 30 min slide → 2 windows per event).
# ---------------------------------------------------------------------------
@query(
    "q24_sliding_window",
    oracle="""
WITH buckets AS (
    SELECT event_type, value,
           unnest([ (epoch_ms(ts) // 1000 // 1800) * 1800,
                    (epoch_ms(ts) // 1000 // 1800) * 1800 - 1800 ]) AS w_start_s
    FROM events
)
SELECT event_type,
       make_timestamp(w_start_s * 1000000) AS w_start,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM buckets
GROUP BY event_type, w_start_s
ORDER BY event_type, w_start
""",
)
def q24_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows assign each event to window_size/slide buckets;
    Spark's Expand does exactly what the oracle's unnest does. State scales
    with (types × windows), not rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("w_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("event_type", "w_start")
    )


# ---------------------------------------------------------------------------
# q25 — session windows (30 min inactivity gap) per user.
# ---------------------------------------------------------------------------
@query(
    "q25_session_windows",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def q25_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window(ts, gap)`` — merge events within 30 min of each
    other; window end = last event + gap. The oracle is the classic
    gaps-and-islands rewrite. In streaming this same expression runs with
    watermark-managed state (see streaming.pipeline)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# q27 — as-of join: latest view at-or-before each purchase, per user.
# ---------------------------------------------------------------------------
@query(
    "q27_asof_purchase_view",
    oracle="""
WITH v AS (
    SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'view'
    ) WHERE rn = 1
),
p AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.event_id, p.ts, p.value,
       v.ts AS r_ts, v.event_id AS r_event_id, v.value AS r_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY p.user_id, p.event_id
""",
)
def q27_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises operators.asof.asof_join (union + running last() — the
    SMJ-cost-shape composition; DuckDB's native ASOF JOIN is the oracle).
    Right-side (user, ts) ties collapse to the max event_id on both sides."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(purchases, views, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "user_id", "event_id", "ts", "value", "r_ts", "r_event_id", "r_value"
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# q28 — interval join (time-proximity), bucketed for scale.
# ---------------------------------------------------------------------------
@query(
    "q28_interval_join",
    oracle="""
SELECT e.event_id, COUNT(p.event_id) AS n_purchases_nearby
FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
  ON p.ts >= e.ts - INTERVAL 1 MINUTE AND p.ts <= e.ts + INTERVAL 1 MINUTE
GROUP BY e.event_id
ORDER BY e.event_id
""",
)
def q28_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within ±1 min of each error. A naive
    inequality join is O(n·m) (DuckDB's IEJoin hides this; Spark would
    nested-loop). The scalable composition: bucket both sides to the
    minute, equi-join each error bucket against {b-1, b, b+1}, then apply
    the exact interval predicate — candidate space shrinks from all pairs
    to pairs in adjacent buckets, and the join is a plain hash equi-join
    on the bucket key."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        (F.unix_millis("ts") / 60000).cast("bigint").alias("p_bucket"),
    )
    # each error probes its own bucket and both neighbors
    probes = errors.select(
        "e_id",
        "e_ts",
        F.explode(
            F.array(
                (F.unix_millis("e_ts") / 60000).cast("bigint") - 1,
                (F.unix_millis("e_ts") / 60000).cast("bigint"),
                (F.unix_millis("e_ts") / 60000).cast("bigint") + 1,
            )
        ).alias("bucket"),
    )
    # conditional count, NOT a post-join filter: filtering would drop an
    # error entirely when its neighbor buckets hold only out-of-interval
    # purchases (every probe row eliminated), whereas the semantics demand
    # a 0-count row.
    in_interval = (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 MINUTE")) & (
        F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 1 MINUTE")
    )
    matched = probes.join(purchases, probes.bucket == purchases.p_bucket, "left")
    return (
        matched.groupBy(F.col("e_id").alias("event_id"))
        .agg(F.count(F.when(in_interval, F.col("p_id"))).alias("n_purchases_nearby"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q146 — interval-overlap join (order activity windows × promo windows).
# ---------------------------------------------------------------------------


@query(
    "q146_interval_overlap_join",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_orderdate AS o_start,
         o_orderdate + INTERVAL 3 DAY AS o_end
  FROM orders
),
b AS (
  SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
),
w AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 11 DAY)) AS w_start FROM b
),
win AS (
  SELECT w_start, w_start + INTERVAL 5 DAY AS w_end FROM w
)
SELECT win.w_start, win.w_end,
       count(o.o_orderkey) AS n_orders
FROM win LEFT JOIN o
  ON o.o_start < win.w_end AND win.w_start < o.o_end
GROUP BY win.w_start, win.w_end
ORDER BY win.w_start
""",
)
def q146_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join: every order owns an activity
    interval [orderdate, +3 days), promo windows of 5 days open every 11
    days across the table's date range; count orders overlapping each
    window (windows with zero orders kept).

    The oracle states it as the theta join it is — which DuckDB's IEJoin
    absorbs but Spark would nested-loop at O(n·m). The engine path blocks
    both sides to 7-day buckets first: each interval explodes into the
    few buckets it touches (≤2 for orders, ≤2 for windows), the join is a
    plain hash equi-join on the bucket key, the exact overlap predicate
    then prunes false bucket-mates, and a distinct collapses pairs that
    met in two buckets. Candidate space shrinks from |orders|·|windows|
    to co-bucketed pairs only — the same bucket-then-verify shape as q28
    and the LSH families, applied to time intervals. Window generation is
    a broadcast-scalar sequence (≤ hundreds of rows at any scale)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.col("o_orderdate").alias("o_start"),
        F.expr("o_orderdate + INTERVAL 3 DAYS").alias("o_end"),
    )
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    windows = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 11 DAYS)")).alias("w_start")
    ).withColumn("w_end", F.expr("w_start + INTERVAL 5 DAYS"))

    def week_bucket(expr: str) -> F.Column:
        # o_orderdate is TIMESTAMP_NTZ; unix_millis needs TIMESTAMP_LTZ —
        # the session zone is pinned to UTC so the cast is deterministic
        return (
            F.unix_millis(F.expr(expr).cast("timestamp_ltz")) / (7 * 86400 * 1000)
        ).cast("bigint")

    # explode each side into every 7-day bucket its interval touches; the
    # end bound is exclusive, so the last touched bucket is bucket(end - ε)
    o_probes = o.select(
        "o_orderkey",
        "o_start",
        "o_end",
        F.explode(
            F.sequence(
                week_bucket("o_start"),
                week_bucket("o_end - INTERVAL 1 MILLISECOND"),
            )
        ).alias("bucket"),
    )
    w_probes = windows.select(
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                week_bucket("w_start"),
                week_bucket("w_end - INTERVAL 1 MILLISECOND"),
            )
        ).alias("bucket"),
    )
    overlap = (F.col("o_start") < F.col("w_end")) & (F.col("w_start") < F.col("o_end"))
    pairs = (
        w_probes.join(o_probes, on="bucket")
        .filter(overlap)
        .select("w_start", "w_end", "o_orderkey")
        .distinct()
    )
    return (
        windows.join(pairs, on=["w_start", "w_end"], how="left")
        .groupBy("w_start", "w_end")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("w_start")
    )
