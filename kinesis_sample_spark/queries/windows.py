"""Window-function operators — SURVEY.md §2 Table B ("Window functions",
"Sorts / limits / top-k": absent in the reference, required of the engine).

Scale notes: every window here partitions by a key (customer/user) so state
is bounded per partition and Spark distributes partitions across executors.
Window aggregates over money use the exact-decimal scheme so segment-tree
vs streaming accumulation order (DuckDB vs Spark) cannot change the value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import dec
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q14 — ranking family: top-3 orders per customer.
# ---------------------------------------------------------------------------
@query(
    "q14_top_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def q14_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank with a unique tie-break (orderkey) so the
    top-3 set is deterministic. Scale: one shuffle on o_custkey; per-group
    state is a sort of that customer's orders only."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# q15 — running totals + lag/lead per customer order history.
# ---------------------------------------------------------------------------
@query(
    "q15_running_order_totals",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total,
       LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def q15_running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running decimal sum (exact under any accumulation strategy) plus
    lag/lead passthrough. Frame is ROWS-based with a unique ordering."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(dec("o_totalprice"))
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double")
            .alias("running_total"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q137 — curriculum bins: ntile deciles over a lexical-diversity score.
# ---------------------------------------------------------------------------
@query(
    "q137_curriculum_bins",
    oracle="""
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS score
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, score,
         ntile(10) OVER (ORDER BY score DESC, doc_id) AS bin
  FROM s
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(score) AS min_score,
       max(score) AS max_score
FROM b
GROUP BY bin
ORDER BY bin
""",
)
def q137_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: split the corpus into 10 equal-population
    quality deciles (lexical-diversity score, doc_id tie-broken so the
    total order — and therefore every ntile edge — is deterministic in
    both engines) with per-bin token budgets. Exact division of two ints
    is a correctly-rounded IEEE op, identical across engines.

    Scale note: a global ntile is a total sort — fine for the gate, but
    at 100 TB you'd compute decile *boundaries* (approx_percentile),
    broadcast them, and bucket map-side; identical bins whenever scores
    are distinct. Same trade q48 documents for global percentiles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    s = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)).alias("score"),
    )
    b = s.withColumn(
        "bin", F.ntile(10).over(W.orderBy(F.desc("score"), "doc_id"))
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q139 — SCD2: build a slowly-changing dimension from the event change log.
# ---------------------------------------------------------------------------
@query(
    "q139_scd2_intervals",
    oracle="""
WITH chg AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_id
  FROM events
),
starts AS (
  SELECT user_id, ts AS valid_from, event_type, event_id
  FROM chg
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from, event_id,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
         AS valid_to,
       (lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
         IS NULL) AS is_current
FROM starts
ORDER BY user_id, valid_from, event_id
""",
)
def q139_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from a change log: collapse
    consecutive identical states per user (lag), then close each surviving
    state with the next state's start (lead) — open interval = current
    row. The standard warehouse transform from CDC feed to queryable
    dimension; q27's as-of join is its read-side counterpart. Ties on ts
    are ordered by event_id so both engines see one total order.

    Scale: two window passes over the same (user_id × time) ordering —
    Catalyst reuses the sort; state per key is O(1). The dimension builds
    incrementally in production via foreachBatch upsert (operators/
    upsert.py) with identical per-key logic."""
    w_ord = [F.col("ts").asc(), F.col("event_id").asc()]
    chg = W.partitionBy("user_id").orderBy(*w_ord)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    starts = (
        ev.withColumn("prev_type", F.lag("event_type").over(chg))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = W.partitionBy("user_id").orderBy(F.col("valid_from").asc(), F.col("event_id").asc())
    return (
        starts.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "valid_from", "event_id")
    )


# ---------------------------------------------------------------------------
# q234 — semi-additive end-of-day rollup (last value per user per day).
# ---------------------------------------------------------------------------
@query(
    "q234_semiadditive_eod",
    oracle="""
WITH ranked AS (
    SELECT user_id,
           datediff('day', DATE '1970-01-01', ts) AS d,
           value,
           ROW_NUMBER() OVER (PARTITION BY user_id,
                                           datediff('day', DATE '1970-01-01', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
),
eod AS (
    SELECT user_id, d,
           CAST(round(value, 6) AS DECIMAL(18,6)) AS eod_value
    FROM ranked WHERE rn = 1
)
SELECT d AS day_idx,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(CAST(SUM(eod_value) AS VARCHAR) AS DOUBLE) AS eod_total
FROM eod GROUP BY d ORDER BY d
""",
)
def q234_semiadditive_eod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure rollup — the balance-sheet pattern every
    warehouse needs and naive SUM gets wrong: a user's ``value`` is a
    level, not a flow, so per day you take each user's LAST observation
    (row_number over a fully tie-broken descending order) and only then
    sum across users. Values are quantized round(.,6) -> DECIMAL before
    the cross-user sum, so the total is exact in any partition order;
    the day key is integer days-since-epoch.

    Scale: one shuffle on user_id serves the per-(user, day) top-1
    window; the per-day aggregate is bounded by the date domain. This is
    the batch shape of the streaming last-state queries (q171/q82) —
    same semantics, no state store."""
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    ranked = ev.select(
        "user_id",
        d.alias("d"),
        "value",
        F.row_number()
        .over(
            W.partitionBy("user_id", d.alias("d2")).orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn"),
    )
    eod = ranked.filter(F.col("rn") == 1).select(
        "user_id",
        "d",
        F.round("value", 6).cast("decimal(18,6)").alias("eod_value"),
    )
    return (
        eod.groupBy(F.col("d").alias("day_idx"))
        .agg(
            F.count("*").alias("n_users"),
            F.sum("eod_value").cast("double").alias("eod_total"),
        )
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# q235 — OHLC downsampling bars (open/high/low/close per day).
# ---------------------------------------------------------------------------
@query(
    "q235_ohlc_bars",
    oracle="""
WITH seq AS (
    SELECT datediff('day', DATE '1970-01-01', ts) AS d,
           value,
           ROW_NUMBER() OVER (PARTITION BY datediff('day', DATE '1970-01-01', ts)
                              ORDER BY ts, event_id) AS rn_open,
           ROW_NUMBER() OVER (PARTITION BY datediff('day', DATE '1970-01-01', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_close
    FROM events
)
SELECT d AS day_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(CAST(round(MIN(CASE WHEN rn_open = 1 THEN value END), 6)
            AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS open,
       CAST(CAST(CAST(round(MAX(value), 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS high,
       CAST(CAST(CAST(round(MIN(value), 6) AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS low,
       CAST(CAST(CAST(round(MIN(CASE WHEN rn_close = 1 THEN value END), 6)
            AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS close
FROM seq GROUP BY d ORDER BY d
""",
)
def q235_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the time-series bar aggregation every metrics
    store needs: per day, the first (open), max (high), min (low) and
    last (close) observation of ``value``. First/last are pinned by
    fully tie-broken row_number windows in BOTH directions (never
    first_value over an unspecified frame, never min_by with
    nondeterministic ties); outputs are round(.,6) -> DECIMAL so the
    hash is rendering-stable.

    Scale: the two windows share one shuffle on the day key; the bar
    aggregate is bounded by the date domain. Per-symbol bars at 100 TB
    partition by (symbol, day) the same way."""
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    wd = W.partitionBy(d)
    seq = ev.select(
        d.alias("d"),
        "value",
        F.row_number().over(wd.orderBy("ts", "event_id")).alias("rn_open"),
        F.row_number()
        .over(wd.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn_close"),
    )

    def dec6(col):
        # quantize for rendering stability, then surface as double (the
        # dtype gate compares pandas dtypes; DECIMAL arrives as object)
        return F.round(col, 6).cast("decimal(18,6)").cast("double")

    return (
        seq.groupBy(F.col("d").alias("day_idx"))
        .agg(
            F.count("*").alias("n_events"),
            dec6(F.min(F.when(F.col("rn_open") == 1, F.col("value")))).alias("open"),
            dec6(F.max("value")).alias("high"),
            dec6(F.min("value")).alias("low"),
            dec6(F.min(F.when(F.col("rn_close") == 1, F.col("value")))).alias("close"),
        )
        .orderBy("day_idx")
    )
