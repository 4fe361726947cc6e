"""Behavioral analytics over the event stream: cohort retention and
funnel conversion — the canonical product-analytics shapes, built from
the same envelope the reference's consumer decodes
(AmazonKinesisApplicationSampleRecordProcessor.java:99-110 only prints
records; these queries are what a real consumer computes from them).

All outputs are integer counts and exact divisions of integers — no
float-order hazards, so oracle parity is structural.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import dec, sql_double
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q110 — signup→purchase funnel conversion per user.
# ---------------------------------------------------------------------------
@query(
    "q110_funnel_conversion",
    oracle="""
WITH s AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'
),
converted AS (
    SELECT DISTINCT s.user_id, s.event_id
    FROM s JOIN events p
      ON p.user_id = s.user_id AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
),
per_user AS (
    SELECT s.user_id,
           COUNT(*) AS n_signups,
           COUNT(c.event_id) AS n_converted
    FROM s LEFT JOIN converted c
      ON s.user_id = c.user_id AND s.event_id = c.event_id
    GROUP BY s.user_id
)
SELECT user_id, n_signups, n_converted,
       n_converted / CAST(n_signups AS DOUBLE) AS conversion_rate
FROM per_user
ORDER BY user_id
""",
)
def q110_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: how many signup events were followed by a purchase
    within an hour (the batch aggregate over q106's stream-stream join
    pairs). Time-banded join on user_id, dedup to one conversion per
    signup, left join back so zero-conversion users keep a row. The band
    condition bounds join state exactly as the streaming watermark does."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "event_id", "ts"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("ts"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("user_id", "event_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per_user = (
        s.join(converted, ["user_id", "event_id"], "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_signups"),
            F.count("converted").alias("n_converted"),
        )
    )
    return per_user.select(
        "user_id",
        "n_signups",
        "n_converted",
        (F.col("n_converted") / F.col("n_signups").cast("double")).alias(
            "conversion_rate"
        ),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q111 — training-sequence packing (concat-then-chunk at context length).
# ---------------------------------------------------------------------------
@query(
    "q111_sequence_packing",
    oracle="""
WITH sized AS (
    SELECT source, doc_id, len(string_split(text, ' ')) AS tok_len
    FROM documents
),
offs AS (
    SELECT source, doc_id, tok_len,
           CAST(SUM(tok_len) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - tok_len AS BIGINT) AS start_offset
    FROM sized
)
SELECT source, doc_id, tok_len, start_offset,
       CAST(FLOOR(start_offset / 2048.0) AS BIGINT) AS seq_idx,
       start_offset - CAST(FLOOR(start_offset / 2048.0) AS BIGINT) * 2048 AS offset_in_seq,
       (CAST(FLOOR(start_offset / 2048.0) AS BIGINT)
        <> CAST(FLOOR((start_offset + tok_len - 1) / 2048.0) AS BIGINT)) AS straddles
FROM offs
ORDER BY source, doc_id
""",
)
def q111_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing layout: per source, concatenate documents in id
    order and chunk the token stream at a 2048-token context length —
    each doc gets its sequence index, offset within the sequence, and a
    straddles-boundary flag (what an attention-mask builder consumes).
    Pure integer window arithmetic (running token offsets), so parity is
    exact. Scale: one window per source partition; the token streams of
    different sources pack independently, so parallelism = number of
    sources — for a single giant source, salt the stream into shards
    first (operators/skew.py) and offset each shard by its shard-total
    (two passes, still no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    sized = docs.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("tok_len")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = sized.withColumn(
        "start_offset", F.sum("tok_len").over(w) - F.col("tok_len")
    )
    seq_idx = F.floor(F.col("start_offset") / 2048.0)
    end_idx = F.floor((F.col("start_offset") + F.col("tok_len") - 1) / 2048.0)
    return (
        offs.select(
            "source",
            "doc_id",
            "tok_len",
            "start_offset",
            seq_idx.alias("seq_idx"),
            (F.col("start_offset") - seq_idx * 2048).alias("offset_in_seq"),
            (seq_idx != end_idx).alias("straddles"),
        )
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# q141 — frequent-transition mining over per-user event sequences.
# ---------------------------------------------------------------------------
_MIN_SUPPORT = 350  # absolute count at sf0.01: ~9.9k transitions over 25 pairs ≈ 394 avg


@query(
    "q141_transition_mining",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
),
t AS (
  SELECT event_type AS src, next_type AS dst, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT sum(n) AS total FROM t)
SELECT t.src, t.dst, CAST(t.n AS BIGINT) AS n,
       CAST(t.n AS DOUBLE) / tot.total AS support
FROM t, tot
WHERE t.n >= {_MIN_SUPPORT}
ORDER BY n DESC, src, dst
""",
)
def q141_transition_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral patterns, mined not pre-specified (q110's
    funnel checks a FIXED pattern; this discovers which transitions are
    common): per-user ordered event pairs via lead(), global counts,
    absolute-support filter. support = n / total is an exact IEEE
    division of two integers — engine-identical. At scale the heavy step
    is the per-user window (one user_id shuffle); the transition table
    is |event_types|² rows, trivially small, and the total is a
    broadcast scalar."""
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    t = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count("*").alias("n"))
    tot = t.agg(F.sum("n").alias("total"))
    return (
        t.crossJoin(F.broadcast(tot))
        .filter(F.col("n") >= _MIN_SUPPORT)
        .select(
            "src",
            "dst",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("support"),
        )
        .orderBy(F.desc("n"), "src", "dst")
    )


# ---------------------------------------------------------------------------
# q181 — first conversion path per user (ordered sequence assembly).
# ---------------------------------------------------------------------------
@query(
    "q181_first_conversion_path",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id) AS first_purchase_ts
  FROM events
),
pre AS (
  SELECT user_id, event_type, ts, event_id, first_purchase_ts
  FROM ordered
  WHERE first_purchase_ts IS NOT NULL AND ts <= first_purchase_ts
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         count(*) AS path_len,
         min(ts) AS path_start,
         max(first_purchase_ts) AS converted_at
  FROM pre GROUP BY user_id
)
SELECT user_id, path, path_len,
       (epoch_us(converted_at) - epoch_us(path_start)) // 1000000
         AS seconds_to_convert
FROM paths
ORDER BY user_id
""",
)
def q181_first_conversion_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-style sequence assembly: for every user who ever
    purchases, the ORDERED chain of event types from their first event up
    to (and including) the first purchase, plus time-to-convert. The
    path string is an order-sensitive aggregation — Spark spells it
    array_join(array_agg over a sorted window frame), DuckDB
    string_agg(... ORDER BY) — ties broken by event_id so both engines
    assemble the identical string. One user_id exchange serves the
    first-purchase window, the path window, and the final group-by."""
    ev = load_table(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(
            w_user
        ).alias("first_purchase_ts"),
    )
    pre = ordered.filter(
        F.col("first_purchase_ts").isNotNull()
        & (F.col("ts") <= F.col("first_purchase_ts"))
    )
    w_seq = w_user.orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    with_path = pre.withColumn(
        "path", F.array_join(F.collect_list("event_type").over(w_seq), ">")
    )
    return (
        with_path.groupBy("user_id")
        .agg(
            F.first("path").alias("path"),
            F.count("*").alias("path_len"),
            (
                F.unix_micros(F.max("first_purchase_ts"))
                - F.unix_micros(F.min("ts"))
            ).alias("us_to_convert"),
        )
        .select(
            "user_id",
            "path",
            "path_len",
            F.expr("us_to_convert div 1000000").alias("seconds_to_convert"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q200 — exponential time-decay attribution (dyadic weights).
# ---------------------------------------------------------------------------
_DECAY_MAX_DAYS = 30  # credit horizon; 2^-30 ≈ 1e-9 is below the quantization


@query(
    "q200_decay_attribution",
    oracle=f"""
WITH p AS (
    SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'
),
j AS (
    SELECT e.event_type,
           datediff('day', CAST(e.ts AS DATE), CAST(p.pts AS DATE)) AS d
    FROM events e JOIN p ON e.user_id = p.pu AND e.ts < p.pts
),
k AS (
    SELECT event_type, 1.0 / CAST(1 << d AS DOUBLE) AS w
    FROM j WHERE d <= {_DECAY_MAX_DAYS}
),
a AS (
    SELECT event_type,
           CAST(SUM(CAST(round(w, 9) AS DECIMAL(18,9))) AS DOUBLE) AS credit,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM k GROUP BY event_type
),
t AS (SELECT CAST(SUM(CAST(credit AS DECIMAL(18,9))) AS DOUBLE) AS total FROM a)
SELECT event_type, n_touches, credit, credit / total AS credit_share
FROM a CROSS JOIN t ORDER BY event_type
""",
)
def q200_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay attribution: every event preceding a
    user's purchase earns credit 2^-days-before, summed per touchpoint
    type — the half-life-decay model marketing/conversion pipelines run
    (q181 assembles first-touch paths; this weights EVERY touch). The
    decay base is deliberately 2, not e: 2^-d for integer d is an EXACT
    dyadic double (one bit), so the per-touch weight is bit-identical on
    both engines with no transcendental in sight — pow/exp would hit the
    same 1-ulp libm-vs-JVM drift ln does (SCALING.md round-9 section).
    Weights are still round(·,9) → DECIMAL quantized before the SUM for
    order-independence of the aggregation itself.

    Scale: one user-keyed join between events and the purchase subset
    (both sides shuffle on user_id once; per-user fan-out is bounded by
    events-per-user × purchases-per-user), then a |event_types|-row
    aggregate and a broadcast total."""
    ev = load_table(spark, sf_dir, "events")
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    j = (
        ev.select("user_id", "ts", "event_type")
        .join(pur, (F.col("user_id") == F.col("pu")) & (F.col("ts") < F.col("pts")))
        .select(
            "event_type",
            F.datediff(F.col("pts").cast("date"), F.col("ts").cast("date")).alias("d"),
        )
        .where(F.col("d") <= _DECAY_MAX_DAYS)
        .select(
            "event_type",
            F.expr("1.0 / cast(shiftleft(1L, cast(d as int)) as double)").alias("w"),
        )
    )
    a = j.groupBy("event_type").agg(
        F.sum(F.round(F.col("w"), 9).cast("decimal(18,9)")).cast("double").alias("credit"),
        F.count("*").alias("n_touches"),
    )
    t = a.agg(F.sum(F.col("credit").cast("decimal(18,9)")).cast("double").alias("total"))
    return (
        a.crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "n_touches",
            "credit",
            (F.col("credit") / F.col("total")).alias("credit_share"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q208 — sessionized bounce / dwell metrics per user.
# ---------------------------------------------------------------------------
_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@query(
    "q208_session_bounce",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_id, epoch_us(ts) AS us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
                  OR lag(epoch_us(ts)) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
marked AS (
    SELECT user_id, us,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
    FROM seq
),
sessions AS (
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS dwell_us
    FROM marked GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id ORDER BY user_id
""",
)
def q208_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization in pure window SQL (q151 gates the
    UDTF formulation; this gates the declarative one Catalyst can
    whole-stage-codegen): a session breaks after 30 minutes of
    inactivity; per user, count sessions, single-event sessions
    (bounces) and total dwell time. Dwell is exact integer microsecond
    arithmetic (unix_micros ≡ DuckDB epoch_us), so parity is structural.

    Scale: one shuffle on user_id serves both window passes and the two
    aggregations (same partitioning end-to-end); session state never
    leaves the executor and no per-user data is ever collected."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    seq = ev.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when(gap > _SESSION_GAP_US, 1)
        .when(F.lag(us).over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = seq.select(
        "user_id", "us", F.sum("new_session").over(w2).alias("session_id")
    )
    sessions = marked.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("dwell_us"),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
            F.sum("dwell_us").alias("total_dwell_us"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q209 — discrete survival / hazard table over user lifetimes.
# ---------------------------------------------------------------------------
@query(
    "q209_survival_hazard",
    oracle="""
WITH life AS (
    SELECT user_id,
           CAST(FLOOR(datediff('day', MIN(ts), MAX(ts)) / 7.0) AS INTEGER)
             AS lifetime_weeks
    FROM events GROUP BY user_id
),
ended AS (
    SELECT lifetime_weeks AS week, COUNT(*) AS n_ended
    FROM life GROUP BY lifetime_weeks
)
SELECT week,
       CAST(n_ended AS BIGINT) AS n_ended,
       CAST(SUM(n_ended) OVER (ORDER BY week DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_risk,
       CAST(n_ended AS DOUBLE)
         / SUM(n_ended) OVER (ORDER BY week DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS hazard
FROM ended ORDER BY week
""",
)
def q209_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival analysis (life-table / Kaplan-Meier grid): user
    lifetime = weeks between first and last event; for each week k, the
    users whose lifetime ended at k and the users still at risk (lifetime
    >= k, a reverse-cumulative window over the bounded week domain);
    hazard(k) = ended / at-risk — a single division of exact integers,
    so cross-engine parity is structural (the memory-bank integer-ratio
    rule; no ln, no cumulative float product).

    Scale: per-user min/max is one shuffle on user_id; everything after
    operates on the bounded week domain (dozens of rows at any SF)."""
    ev = load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.floor(
            F.datediff(F.max("ts"), F.min("ts")) / F.lit(7.0)
        )
        .cast("int")
        .alias("lifetime_weeks")
    )
    ended = life.groupBy(F.col("lifetime_weeks").alias("week")).agg(
        F.count("*").alias("n_ended")
    )
    w = (
        W.orderBy(F.col("week").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    at_risk = F.sum("n_ended").over(w)
    return ended.select(
        "week",
        F.col("n_ended").cast("bigint").alias("n_ended"),
        at_risk.cast("bigint").alias("n_at_risk"),
        (F.col("n_ended").cast("double") / at_risk).alias("hazard"),
    ).orderBy("week")


# ---------------------------------------------------------------------------
# q223 — longest consecutive-day activity streak per user.
# ---------------------------------------------------------------------------
@query(
    "q223_activity_streaks",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id,
           datediff('day', DATE '1970-01-01', ts) AS d
    FROM events
),
islands AS (
    SELECT user_id, d,
           d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island
    FROM days
),
runs AS (
    SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS run_len
    FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(run_len) AS BIGINT) AS n_active_days,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY user_id ORDER BY user_id
""",
)
def q223_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the engagement
    metric behind every retention dashboard, and the day-granular
    gaps-and-islands complement to q208's intra-day sessions. The
    classic island key day - row_number(day) is constant exactly over a
    consecutive run; all arithmetic is integer days since epoch.

    Scale: the distinct (user, day) projection collapses the fact before
    any window; one shuffle on user_id serves the row_number and both
    aggregations."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "d"
        ),
    ).distinct()
    islands = days.select(
        "user_id",
        "d",
        (
            F.col("d")
            - F.row_number().over(W.partitionBy("user_id").orderBy("d"))
        ).alias("island"),
    )
    runs = islands.groupBy("user_id", "island").agg(F.count("*").alias("run_len"))
    return (
        runs.groupBy("user_id")
        .agg(
            F.sum("run_len").cast("bigint").alias("n_active_days"),
            F.max("run_len").cast("bigint").alias("longest_streak"),
            F.count("*").cast("bigint").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q224 — event-transition latency percentiles.
# ---------------------------------------------------------------------------
@query(
    "q224_transition_latency",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type, epoch_us(ts) AS us,
           lag(event_type) OVER w AS from_type,
           lag(epoch_us(ts)) OVER w AS from_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gaps AS (
    SELECT from_type, event_type AS to_type, us - from_us AS gap_us
    FROM seq WHERE from_type IS NOT NULL
)
SELECT from_type, to_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(gap_us, 0.5) AS p50_gap_us,
       quantile_cont(gap_us, 0.9) AS p90_gap_us
FROM gaps GROUP BY from_type, to_type
ORDER BY from_type, to_type
""",
)
def q224_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-next-event percentiles per (from, to) event-type
    transition — q141 mines *which* transitions happen, this measures
    *how fast* (the view->purchase latency a conversion team actually
    tracks). Gaps are exact integer microseconds (unix_micros ≡ DuckDB
    epoch_us); percentiles interpolate identical integers (Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share one linear rule).
    Column names avoid DuckDB's reserved word `prior` (the q200 lesson).

    Scale: one shuffle on user_id for the lag window, then a bounded
    (type x type) aggregate — percentile state is per-transition-pair
    sorted gaps, bounded domain at 25 pairs."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        us.alias("us"),
        F.lag("event_type").over(w).alias("from_type"),
        F.lag(us).over(w).alias("from_us"),
    )
    gaps = seq.filter(F.col("from_type").isNotNull()).select(
        "from_type", "to_type", (F.col("us") - F.col("from_us")).alias("gap_us")
    )
    return (
        gaps.groupBy("from_type", "to_type")
        .agg(
            F.count("*").alias("n"),
            F.expr("percentile(gap_us, 0.5D)").alias("p50_gap_us"),
            F.expr("percentile(gap_us, 0.9D)").alias("p90_gap_us"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# q229 — RFM segmentation (recency / frequency / monetary quintiles).
# ---------------------------------------------------------------------------
@query(
    "q229_rfm_segmentation",
    oracle=f"""
WITH maxd AS (SELECT MAX(o_orderdate) AS d FROM orders),
per_cust AS (
    SELECT o_custkey,
           datediff('day', MAX(o_orderdate), (SELECT d FROM maxd)) AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey, monetary,
           ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_q,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
           ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
    FROM per_cust
)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_double('SUM(monetary)')} AS total_monetary
FROM scored GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
""",
)
def q229_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics staple: per customer,
    recency (days since last order, vs the corpus max date so the query
    is reproducible), frequency (order count) and monetary (exact
    decimal revenue), each cut into quintiles (ntile over a fully
    tie-broken order, so bucket assignment is deterministic on both
    engines), then the (R,F,Q) cell census. Best cells (1,1,1) are the
    champions; (5,5,*) the churned.

    Scale: one shuffle to per-customer aggregates; the three ntile
    windows are global sorts over the *customer* relation (dim-sized,
    not fact-sized) — at extreme customer counts swap ntile for
    percentile-bracket joins (q212's bridge shape); the cell census is
    125 rows max."""
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("d"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(dec("o_totalprice")).alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("d"), F.col("last_order")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5).over(W.orderBy("recency_days", "o_custkey")).alias("r_q"),
        F.ntile(5).over(W.orderBy(F.col("frequency").desc(), "o_custkey")).alias("f_q"),
        F.ntile(5).over(W.orderBy(F.col("monetary").desc(), "o_custkey")).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# q236 — new vs returning daily active users.
# ---------------------------------------------------------------------------
@query(
    "q236_new_vs_returning",
    oracle="""
WITH ud AS (
    SELECT DISTINCT user_id,
           datediff('day', DATE '1970-01-01', ts) AS d
    FROM events
),
first_day AS (
    SELECT user_id, MIN(d) AS f FROM ud GROUP BY user_id
)
SELECT d AS day_idx,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN d = f THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN d > f THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
FROM ud JOIN first_day USING (user_id)
GROUP BY d ORDER BY d
""",
)
def q236_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily active user census — the growth-accounting
    view product analytics leads with (the cohort retention triangle
    collapsed to its diagonal readout): per day, actives split by whether it is
    the user's first-ever active day. Pure integer day arithmetic; the
    first-seen relation is user-dimension-sized.

    Scale: distinct (user, day) collapses the fact; first-seen is one
    user-keyed aggregate that joins back on the same key (one shuffle,
    reused), and the daily census is bounded by the date domain."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "d"
        ),
    ).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("d").alias("f"))
    return (
        ud.join(first_day, "user_id")
        .groupBy(F.col("d").alias("day_idx"))
        .agg(
            F.count("*").alias("active_users"),
            F.sum(F.when(F.col("d") == F.col("f"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("d") > F.col("f"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# q239 — session conversion rate by entry event type.
# ---------------------------------------------------------------------------
@query(
    "q239_session_conversion",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_id, event_type, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
                  OR lag(epoch_us(ts)) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
marked AS (
    SELECT user_id, event_id, event_type, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
    FROM seq
),
sessions AS (
    SELECT user_id, session_id,
           MIN(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                     ORDER BY ts, event_id) AS rn
        FROM marked
    ) t GROUP BY user_id, session_id
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conversion_rate
FROM sessions GROUP BY entry_type ORDER BY entry_type
""",
)
def q239_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session conversion rate keyed by ENTRY event type — the landing-
    page analysis: of sessions that OPEN with a given event, how many
    contain a purchase before the 30-minute inactivity break. Composes
    q208's gaps-and-islands sessionization with a session-level argfirst
    (tie-broken row_number) and a containment flag; the rate is one
    division of exact counts.

    Scale: the same single user_id shuffle as q208 carries the gap
    window, the session numbering, and the in-session rank; the final
    aggregate is bounded by event-type cardinality."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(gap > _SESSION_GAP_US, 1)
        .when(F.lag(us).over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    marked = seq.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    ranked = marked.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        ),
    )
    sessions = ranked.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("event_type"))).alias("entry_type"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    return (
        sessions.groupBy("entry_type")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            (F.sum("converted").cast("double") / F.count("*")).alias(
                "conversion_rate"
            ),
        )
        .orderBy("entry_type")
    )
