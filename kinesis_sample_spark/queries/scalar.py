"""Scalar function surface — string/date/math/JSON (SURVEY.md §2 Table B).

The reference's only scalar work is string concat + ISO timestamp formatting
(producer record construction, AmazonKinesisRecordProducerSample.java:126-130)
and UTF-8 decode (processor, AmazonKinesisApplicationSampleRecordProcessor
.java:102-103). The engine exposes the full built-in surface; everything here
is JVM-side / whole-stage-codegen — no Python in the row path.

Oracle-parity notes: functions are chosen so both engines are bit-exact —
sqrt (IEEE correctly rounded), abs/floor/ceil, round (both round half away
from zero for doubles), integer epoch math (both floor). Transcendentals
(ln/exp/pow) are deliberately excluded from oracle-checked outputs: JVM
Math.log and libm can legally differ by 1 ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q166 — try_* error-tolerant functions (A11/A12's skip-malformed semantics),
# and the date arithmetic over the tolerantly parsed date.
# ---------------------------------------------------------------------------
@query(
    "q166_try_functions",
    oracle="""
WITH t AS (
    SELECT *,
           TRY_CAST('2024-' || lpad(CAST(event_id % 20 AS VARCHAR), 2, '0') || '-15'
                    AS DATE) AS d
    FROM events
)
SELECT event_id,
       TRY_CAST(event_type AS INTEGER) AS bad_int,
       TRY_CAST(props->>'k' AS INTEGER) AS good_int,
       CASE WHEN user_id % 3 = 0 THEN NULL ELSE value / (user_id % 3) END AS safe_div,
       CAST(d AS TIMESTAMP) AS maybe_date,
       CASE WHEN TRY_CAST(event_type AS DOUBLE) IS NULL THEN 'malformed'
            ELSE 'ok' END AS decode_status,
       CAST(last_day(d) AS TIMESTAMP) AS month_end,
       CAST(last_day(d) + INTERVAL 1 MONTH AS TIMESTAMP) AS month_end_plus1m,
       CAST(d + 45 AS TIMESTAMP) AS plus45d,
       date_diff('day', d, DATE '2026-01-01') AS days_until_2026,
       weekofyear(d) AS week_of_year,
       dayofweek(d) + 1 AS dow_sunday1,
       date_trunc('month', d)::TIMESTAMP AS month_start,
       quarter(d) AS qtr,
       CAST(d + CAST(CASE WHEN (8 - isodow(d)) % 7 = 0 THEN 7
                          ELSE (8 - isodow(d)) % 7 END AS INTEGER)
            AS TIMESTAMP) AS next_monday
FROM t
ORDER BY event_id
""",
)
def q166_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's malformed-record semantics (NumberFormatException →
    "does not match sample record format, ignoring", Proc:105-106;
    CharacterCodingException → malformed-bytes log, Proc:107-108) as
    declarative expressions: try_cast / try_divide return NULL instead of
    raising, so the poison rows flow to a status column (→ the DLQ split
    in streaming/dlq.py) rather than killing the task — Spark's ANSI-mode
    answer to per-record try/catch. Every probe here is deterministic:
    event_type never parses, props->k always does, division by
    user_id%3 is null exactly on multiples of 3.

    The tolerantly parsed date then feeds the date-arithmetic surface, so
    a null from a malformed field propagates through each function:
    last_day, add_months from a month end (clamped: Jan 31 + 1 month is
    Feb 29), date_add, datediff, weekofyear (ISO on both engines),
    dayofweek (Spark counts Sunday=1, DuckDB Sunday=0 — the oracle
    shifts), trunc-to-month, quarter and next_day (DuckDB has no
    built-in; the oracle derives it from isodow modular arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    d = F.try_to_date(
        F.concat(
            F.lit("2024-"),
            F.lpad((F.col("event_id") % 20).cast("string"), 2, "0"),
            F.lit("-15"),
        ),
        "yyyy-MM-dd",
    )
    return (
        ev.select(
            "event_id",
            F.col("event_type").try_cast("int").alias("bad_int"),
            F.get_json_object("props", "$.k").try_cast("int").alias("good_int"),
            F.try_divide("value", F.col("user_id") % 3).alias("safe_div"),
            # surfaced as midnight TIMESTAMP, not DATE: Spark DateType
            # reaches pandas as object(datetime.date) while DuckDB DATE
            # arrives as datetime64 — an unproven pair under the driver's
            # pandas canonicalizer (the r01/r02 hash-artifact class).
            # Timestamp-vs-timestamp is the pair every green temporal
            # query already uses (q20/q55/q139). Every date output below
            # is surfaced the same way.
            d.cast("timestamp").alias("maybe_date"),
            F.when(F.col("event_type").try_cast("double").isNull(), "malformed")
            .otherwise("ok")
            .alias("decode_status"),
            F.last_day(d).cast("timestamp").alias("month_end"),
            F.add_months(F.last_day(d), 1).cast("timestamp").alias("month_end_plus1m"),
            F.date_add(d, 45).cast("timestamp").alias("plus45d"),
            F.datediff(F.lit("2026-01-01").cast("date"), d).alias("days_until_2026"),
            F.weekofyear(d).alias("week_of_year"),
            F.dayofweek(d).alias("dow_sunday1"),
            F.trunc(d, "month").cast("timestamp").alias("month_start"),
            F.quarter(d).alias("qtr"),
            F.next_day(d, "Mon").cast("timestamp").alias("next_monday"),
        )
        # persist before the terminal global sort (optimization r16, the
        # q152/q60 rule): the range-partitioner's sample pass otherwise
        # re-executes the full projection — including get_json_object
        # over every props payload — a second time (A/B at sf0.1:
        # median 4.3 s -> 2.7 s). The persisted relation is the narrow
        # computed result, not the raw props column.
        # DELIBERATE LEAK (r17 adjudication, same convention as graph.py's
        # session-hygiene note): the DataFrame returns lazily, so this
        # query cannot unpersist before its caller materializes. Long-
        # lived sessions reclaim it via session.release_checkpoints —
        # guarded registry-wide by tests/test_r17_optimizations.py::
        # test_release_checkpoints_reclaims_every_persisting_query.
        .persist()
        .orderBy("event_id")
    )
