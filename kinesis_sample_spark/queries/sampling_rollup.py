"""Sampling and continuous-aggregate (hypertable-style) rollup operators.

Training-data pipelines subsample constantly — per-source quotas, quality-
weighted keeps, experiment holdouts — and the one property they need that
``df.sample`` cannot give is *reproducibility across engines, runs, retries
and repartitioning*. Every sampler here is a pure function of the row key
via the portable md5-derived hash (`functions/hashing.py`), so Spark and
the DuckDB oracle select byte-identical samples, and a 1000-executor rerun
selects the same rows a laptop did.

The rollup query implements the TimescaleDB/Druid "continuous aggregate"
pattern: a fine-grained (hourly) materialization whose partials are
*mergeable* (count, exact-decimal sum, min, max), re-aggregated to coarser
buckets. At 100 TB you never re-scan raw events for a daily dashboard —
you fold 24 hourly partials per day; the oracle checks the fold is exactly
lossless by computing daily straight from raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.hashing import md5_long, md5_long_sql
from kinesis_sample_spark.functions.numeric import dec, dsum, sql_dsum
from kinesis_sample_spark.queries import query

#: per-stratum keep-rates out of 1000 (q93)
_STRATUM_RATES = {"error": 500, "purchase": 200, "signup": 200}
_DEFAULT_RATE = 50


# ---------------------------------------------------------------------------
# q93 — stratified sampling: different deterministic rate per stratum.
# ---------------------------------------------------------------------------
_RATE_SQL = " ".join(
    f"WHEN event_type = '{k}' THEN {v}" for k, v in _STRATUM_RATES.items()
)


@query(
    "q93_stratified_sample",
    oracle=f"""
SELECT event_id, event_type, user_id
FROM events
WHERE {md5_long_sql("CAST(event_id AS VARCHAR)")} % 1000
      < (CASE {_RATE_SQL} ELSE {_DEFAULT_RATE} END)
""",
)
def q93_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum keep rates (error 50%, purchase/signup 20%, rest 5%) —
    the class-rebalancing sampler. Pure map-side filter: no shuffle, no
    state, embarrassingly parallel at any scale (a plan test asserts zero
    exchanges — hence no presentation sort here; the gate's value-hash is
    order-insensitive), and the kept set is a function of event_id alone
    so retries/replays keep identical rows."""
    ev = load_table(spark, sf_dir, "events")
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_STRATUM_RATES.items()):
        rate = F.when(F.col("event_type") == k, v).otherwise(rate)
    return ev.filter(
        md5_long(F.col("event_id").cast("string")) % 1000 < rate
    ).select("event_id", "event_type", "user_id")


# ---------------------------------------------------------------------------
# q95 — weighted sampling: keep-probability proportional to a per-row
# weight (document length), still fully deterministic.
# ---------------------------------------------------------------------------
@query(
    "q95_weighted_sample",
    oracle=f"""
WITH mx AS (SELECT CAST(MAX(n_chars) AS DOUBLE) AS max_chars FROM documents)
SELECT doc_id, lang, n_chars
FROM documents, mx
WHERE CAST({md5_long_sql("CAST(doc_id AS VARCHAR)")} % 100000 AS DOUBLE)
      < 100000.0 * 0.3 * (CAST(n_chars AS DOUBLE) / max_chars)
ORDER BY doc_id
""",
)
def q95_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted keep: p(doc) = 0.3 · n_chars/max(n_chars) — the
    shape of quality-weighted corpus subsampling. hash%100000 gives a
    uniform u∈[0,1e5); comparing against weight·1e5 implements a
    deterministic Bernoulli(weight) draw. The global max is a 1-row
    broadcast; the filter itself stays map-side. Both engines evaluate
    the identical double expression, so the kept set is bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").cast("double").alias("max_chars"))
    u = (md5_long(F.col("doc_id").cast("string")) % 100000).cast("double")
    return (
        docs.join(F.broadcast(mx))
        .filter(
            u < 100000.0 * 0.3 * (F.col("n_chars").cast("double") / F.col("max_chars"))
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q96 — hypertable rollup: hourly continuous aggregate folded to daily.
# ---------------------------------------------------------------------------
@query(
    "q96_hypertable_rollup",
    oracle=f"""
SELECT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_events,
       {sql_dsum("CAST(value AS DECIMAL(12,2))", "total_value")},
       min(value) AS min_value,
       max(value) AS max_value
FROM events
WHERE user_id < 30
GROUP BY user_id, date_trunc('day', ts)
ORDER BY user_id, day
""",
)
def q96_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate fold: aggregate raw events to HOURLY partials
    (count / exact-decimal sum / min / max — all mergeable), then
    re-aggregate 24 partials per day; the oracle computes daily straight
    from raw, proving the fold is lossless. This is the hypertable rollup
    pattern: at 100 TB the hourly materialization is what you store and
    every coarser resolution (day/week/month) folds from it instead of
    re-scanning raw. One shuffle on (user_id, hour); the day-level
    re-aggregation reuses that partitioning (day is a function of hour,
    user_id prefix unchanged) so AQE coalesces rather than re-exchanges."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("p_count"),
        F.sum(dec("value")).alias("p_sum"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    )
    return (
        hourly.groupBy("user_id", F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.sum("p_count").alias("n_events"),
            dsum(F.col("p_sum"), "total_value"),
            F.min("p_min").alias("min_value"),
            F.max("p_max").alias("max_value"),
        )
        .orderBy("user_id", "day")
    )
