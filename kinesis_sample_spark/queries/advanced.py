"""Advanced relational surface — pivot/unpivot, grouping sets, correlated
subqueries, full outer joins, exact percentiles, regex tokenization, and a
grouped-map pandas UDF (SURVEY.md §2 Table B rows "Aggregations", "Set
ops", "UDF/UDAF/UDTF").
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table, register_views
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q45 — explicit GROUPING SETS + grouping() markers.
# ---------------------------------------------------------------------------
@query(
    "q45_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q45_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping-set lattice with grouping() disambiguators (so
    a NULL group value is distinguishable from the ALL bucket)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""
    )


# ---------------------------------------------------------------------------
# q46 — correlated scalar subquery (TPC-H Q17 shape).
# ---------------------------------------------------------------------------
@query(
    "q46_small_quantity_revenue",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 5
  AND l_quantity < (
      SELECT 0.2 * (CAST(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
                    / COUNT(l2.l_quantity))
      FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)
def q46_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (no per-row re-execution, which is what makes the
    pattern survive scale). Expressed in SQL to exercise the SQL surface."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 5
  AND l_quantity < (
      SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                    / COUNT(l2.l_quantity))
      FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""
    )


# ---------------------------------------------------------------------------
# q47 — full outer join with coalesced keys.
# ---------------------------------------------------------------------------
@query(
    "q47_full_outer_activity",
    oracle="""
WITH buyers AS (
    SELECT user_id, COUNT(*) AS n_purchases FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
),
raters AS (
    SELECT user_id, COUNT(*) AS n_errors FROM events
    WHERE event_type = 'error' GROUP BY user_id
)
SELECT COALESCE(b.user_id, r.user_id) AS user_id,
       COALESCE(n_purchases, 0) AS n_purchases,
       COALESCE(n_errors, 0) AS n_errors
FROM buyers b FULL OUTER JOIN raters r ON b.user_id = r.user_id
ORDER BY user_id
""",
)
def q47_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER between two aggregated views of the same stream, with
    COALESCE key recovery — the missing-side null handling Table B's join
    row demands."""
    ev = load_table(spark, sf_dir, "events")
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )
    raters = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.col("user_id").alias("r_user_id"))
        .agg(F.count("*").alias("n_errors"))
    )
    return (
        buyers.join(raters, buyers.user_id == raters.r_user_id, "full_outer")
        .select(
            F.coalesce("user_id", "r_user_id").alias("user_id"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q48 — exact percentiles (linear interpolation) per group.
# ---------------------------------------------------------------------------
@query(
    "q48_quantity_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q48_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    both linear-interpolating). Fine at any scale for *grouped* percentiles;
    for a global percentile over 100 TB prefer approx_percentile
    (see q61) — exact requires a per-group sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.25).alias("p25"),
            F.percentile("l_quantity", 0.50).alias("p50"),
            F.percentile("l_quantity", 0.75).alias("p75"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q49 — unpivot / melt.
# ---------------------------------------------------------------------------
@query(
    "q49_unpivot_balances",
    oracle="""
SELECT c_custkey, metric, val FROM (
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
) t
ORDER BY c_custkey, metric
""",
)
def q49_unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long via DataFrame.unpivot (Expand under the hood — one pass,
    no join)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", F.col("c_acctbal"), F.col("c_nationkey").cast("double"))
        .withColumnsRenamed({"c_acctbal": "acctbal", "c_nationkey": "nationkey"})
        .unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")
        .orderBy("c_custkey", "metric")
    )


# ---------------------------------------------------------------------------
# q60 — grouped-map pandas UDF (applyInPandas) with exact-integer output.
# ---------------------------------------------------------------------------
def _order_seq(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["o_orderdate", "o_orderkey"]).reset_index(drop=True)
    out = pd.DataFrame(
        {
            "o_custkey": pdf["o_custkey"],
            "o_orderkey": pdf["o_orderkey"],
            "seq": range(1, len(pdf) + 1),
            "gap_days": pdf["o_orderdate"].diff().dt.days.astype("Int64"),
        }
    )
    return out


@query(
    "q60_pandas_order_seq",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER w AS seq,
       date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS gap_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, seq
""",
)
def q60_pandas_order_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (Arrow exchange, one group per call): order
    sequencing + inter-order gaps per customer. Output is all integers, so
    the oracle (window functions) matches exactly — the UDF *path* is what
    is under test. Scale: groups are per-customer (bounded); for giant
    groups prefer the window-function form (q15), which streams."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_custkey", "o_orderkey", "o_orderdate")
        .groupBy("o_custkey")
        .applyInPandas(
            _order_seq, "o_custkey long, o_orderkey long, seq bigint, gap_days bigint"
        )
        # persist before the global sort: the range-partitioner's sample
        # pass otherwise pushes a second full Arrow round-trip through
        # the pandas UDF
        .persist()
        .orderBy("o_custkey", "seq")
    )


# ---------------------------------------------------------------------------
# q61 — approximate aggregates, gated by deterministic error bounds.
# ---------------------------------------------------------------------------
@query(
    "q61_approx_stats",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS parts_ok, TRUE AS orders_ok, TRUE AS median_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q61_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct + GK percentile sketches — the 100 TB
    workhorses (single pass, mergeable, bounded memory). Sketch estimates
    are implementation-defined, so the raw values can't be hash-compared;
    instead the query emits the EXACT counts (oracle-recomputable) plus
    ``within-error-bound`` booleans: HLL with default rsd 0.05 must land
    within 15% of the exact distinct count, and the approx median (rank
    error 1/1000) must fall inside the exact [p45, p55] value band. The
    oracle asserts TRUE for each bound, so a sketch drifting out of its
    published error envelope hash-fails the driver gate."""
    # single-file scan = 3 row groups = 3 map tasks for the Expand that
    # multi-distinct aggregation plans; spread it first (r08/r09 lesson),
    # and evaluate both exact percentiles in ONE shared sort buffer via
    # the array form. Combined: 11.4 s -> ~3 s at sf0.1 (A/B'd, values
    # bit-identical).
    li = load_table(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism
    )
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
        F.expr("percentile(l_extendedprice, array(0.45D, 0.55D))").alias("pband"),
    )
    rel_ok = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) / F.col(exact) <= 0.15
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        rel_ok("approx_parts", "exact_parts").alias("parts_ok"),
        rel_ok("approx_orders", "exact_orders").alias("orders_ok"),
        F.col("approx_median")
        .between(F.col("pband")[0], F.col("pband")[1])
        .alias("median_ok"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q62 — collection aggregates: ordered collect_list / collect_set.
# ---------------------------------------------------------------------------
@query(
    "q62_collect_aggregates",
    oracle="""
SELECT user_id,
       COALESCE(array_to_string(list(event_type ORDER BY event_id) FILTER (WHERE event_id % 100 < 5), ','), '') AS first_types,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS type_set,
       COUNT(*) AS n
FROM events
WHERE user_id < 10
GROUP BY user_id
ORDER BY user_id
""",
)
def q62_collect_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list with deterministic order (sort by a carried key —
    Spark's collect_list has no ORDER BY, so collect structs and sort) and
    collect_set (sorted: set order is engine-internal on both sides).
    Output columns are ','-joined strings (Spark array_join ≡ DuckDB
    array_to_string) so the driver's pandas canonicalizer — which cannot
    sort/hash ndarray cells — gets scalar columns on both engines.
    Collection aggregates are bounded-group tools — never collect an
    unbounded group at scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("event_id") % 100 < 5,
                                F.struct("event_id", "event_type"),
                            )
                        )
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ",",
            ).alias("first_types"),
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("type_set"),
            F.count("*").alias("n"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q115 — grouped-AGGREGATE pandas UDF (Arrow UDAF path).
# ---------------------------------------------------------------------------
@query(
    "q115_pandas_group_range",
    oracle="""
SELECT user_id,
       MAX(value) - MIN(value) AS value_range
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q115_pandas_group_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF — the custom-UDAF surface (distinct
    from q60's grouped-map and q65's scalar paths): one Arrow batch per
    group in, one scalar out, usable inside a regular ``agg``. The
    statistic (max - min) is order-independent in float, so the Python
    aggregation is value-exact against the SQL oracle — the UDAF
    *plumbing* is what's under test. Scale: Catalyst cannot partial-agg a
    Python UDAF (whole groups ship to Python), so reserve this path for
    logic SQL can't express — and note the oracle shows this one could
    have been two built-ins. (Spark also refuses to mix a pandas UDAF
    with built-in aggregates in one agg — a real API constraint this
    query documents by construction.)"""
    import pandas as pd  # noqa: F401  (Arrow path)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def value_range(v: pd.Series) -> float:
        return float(v.max() - v.min())

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(value_range("value").alias("value_range"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q116 — Python UDTF (table function, lateral-joined).
# ---------------------------------------------------------------------------
@query(
    "q116_udtf_fixed_chunks",
    oracle="""
SELECT doc_id, i AS chunk_idx,
       array_to_string(string_split(text, ' ')[i * 50 + 1 : i * 50 + 50], ' ') AS chunk
FROM (
    SELECT doc_id, text,
           unnest(range(0, CAST(ceil(len(string_split(text, ' ')) / 50.0) AS INT))) AS i
    FROM documents
)
ORDER BY doc_id, chunk_idx
""",
)
def q116_udtf_fixed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table-function API): one input row → N chunk
    rows, lateral-joined in SQL — the generator-shaped extension point
    the reference's processSingleRecord hook (Proc:68-70) would become
    when one record legitimately expands into many. Fixed 50-token
    non-overlapping chunks (q63 is the sliding-window DataFrame form; this
    exercises the UDTF execution path). Arrow-batched per partition; no
    driver involvement."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string")
    class FixedChunks:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), 50):
                yield i // 50, " ".join(toks[i : i + 50])

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("q116_docs")
    spark.udtf.register("q116_fixed_chunks", FixedChunks)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk
        FROM q116_docs d, LATERAL q116_fixed_chunks(d.text) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


# ---------------------------------------------------------------------------
# q151 — Python UDTF over a partitioned TABLE argument.
# ---------------------------------------------------------------------------
@query(
    "q151_udtf_user_sessions",
    oracle="""
WITH g AS (
  SELECT user_id, ts, event_type,
         CAST(epoch_ms(ts) - epoch_ms(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_ms,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       max(CASE WHEN rn = 1 THEN event_type END) AS first_type,
       max(CASE WHEN rn = n_events THEN event_type END) AS last_type,
       COALESCE(max(gap_ms), 0) AS max_gap_ms
FROM g
GROUP BY user_id, n_events
ORDER BY user_id
""",
)
def q151_udtf_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a PARTITION BY table argument (Spark 4
    polymorphic table-function API): the engine hash-partitions events by
    user and feeds each user's rows — ordered by the WITH ORDERING we
    request — to one UDTF instance, which streams them and emits a
    single journey-summary row (count, first/last event type, max
    inter-event gap). This is the table-in/table-out extension point the
    reference's per-shard processor
    (AmazonKinesisApplicationSampleRecordProcessor.java:63-91) maps to
    when the per-key logic genuinely needs imperative state; the state
    here is O(1) per partition key, and rows stream through Arrow
    batches — nothing accumulates.

    The events table stores ts as raw nanos (parquet TIMESTAMP(NANOS) →
    long under nanosAsLong), so gaps are computed in integer
    milliseconds — exact on both engines."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, n_events bigint, first_type string, "
        "last_type string, max_gap_ms bigint"
    )
    class UserJourney:
        def __init__(self):
            self.user_id = None
            self.n = 0
            self.first = None
            self.last = None
            self.prev_ms = None
            self.max_gap = 0

        def eval(self, row):
            self.user_id = row["user_id"]
            self.n += 1
            if self.first is None:
                self.first = row["event_type"]
            self.last = row["event_type"]
            ts_ms = row["ts_ms"]
            if self.prev_ms is not None:
                self.max_gap = max(self.max_gap, ts_ms - self.prev_ms)
            self.prev_ms = ts_ms

        def terminate(self):
            if self.n:
                yield self.user_id, self.n, self.first, self.last, self.max_gap

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        "event_id",
    )
    ev.createOrReplaceTempView("q151_events")
    spark.udtf.register("q151_user_journey", UserJourney)
    return spark.sql(
        """
        SELECT j.user_id, j.n_events, j.first_type, j.last_type, j.max_gap_ms
        FROM q151_user_journey(
          TABLE(SELECT user_id, ts_ms, event_type, event_id FROM q151_events)
          PARTITION BY user_id
          ORDER BY (ts_ms, event_id)
        ) j
        ORDER BY j.user_id
        """
    )


# ---------------------------------------------------------------------------
# q342 — Arrow-optimized scalar Python UDF (useArrow=True).
# ---------------------------------------------------------------------------
@query(
    "q342_arrow_udf_digit_census",
    oracle="""
WITH d AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         (SELECT CAST(sum((o_orderkey // CAST(power(10, i) AS BIGINT)) % 10)
                 AS BIGINT)
          FROM generate_series(0, 18) t(i)) AS dsum
  FROM orders
)
SELECT dsum AS digit_sum,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS cents
FROM d
GROUP BY dsum
ORDER BY digit_sum
""",
)
def q342_arrow_udf_digit_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (``udf(..., useArrow=True)``,
    Spark 4) — the LAST Python-interop surface the registry hadn't
    exercised: row-semantics UDF, Arrow-batched transport (vs q65's
    pandas_udf with Series semantics, q334's mapInArrow with iterator
    semantics, and the pickled row-at-a-time path this flag replaces).
    The plan carries an ArrowEvalPython node (asserted in
    tests/test_round16_ops.py — if the flag ever silently degrades to
    BatchEvalPython, the guard catches the 10-100x serialization
    regression). Digit-sum of the order key is deliberately pure-integer
    so the Python hop is value-exact; the oracle recomputes it with
    arithmetic digit extraction (no string round-trip on either side).

    Scale, stated honestly: even Arrow-batched, a Python scalar UDF
    pays a serialize-compute-deserialize hop per batch that q337's
    inlined SQL UDF does not — this query exists to prove the transport
    surface, and its docstring exists to tell you to prefer q337's
    mechanism when the logic is SQL-expressible."""
    from pyspark.sql.functions import col, udf

    @udf("bigint", useArrow=True)
    def digit_sum(k: int) -> int:
        s = 0
        while k > 0:
            s += k % 10
            k //= 10
        return s

    return (
        load_table(spark, sf_dir, "orders")
        .select(
            digit_sum(col("o_orderkey")).alias("digit_sum"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("digit_sum")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("c").cast("bigint").alias("cents"),
        )
        .orderBy("digit_sum")
    )


# ---------------------------------------------------------------------------
# q343 — Arrow-optimized Python UDTF (bit-plane expansion).
# ---------------------------------------------------------------------------
@query(
    "q343_arrow_udtf_bit_census",
    oracle="""
SELECT i AS bit,
       count(*) AS n_set
FROM orders, generate_series(0, 31) t(i)
WHERE (CAST(round(o_totalprice * 100) AS BIGINT) >> i) & 1 = 1
GROUP BY i
ORDER BY bit
""",
)
def q343_arrow_udtf_bit_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDTF (``@udtf(useArrow=True)``, Spark 4):
    the table-function sibling of q342 — q116/q151 exercise the UDTF
    API through the default pickle transport; this pins the Arrow batch
    path for generators. Each order's integer cents expands to one row
    per SET BIT (a bit-plane decomposition — the per-plane population
    counts a bitmap index or bit-sliced aggregate maintains), then a
    plain aggregate collapses the expansion; the oracle spells the same
    expansion as a range join on generate_series. Pure-integer
    throughout, so the Python generator is value-exact.

    Scale: the UDTF is a narrow map (no shuffle to expand — expansion
    happens inside the task), and the census aggregate partial-combines
    map-side onto <= 32 groups; the expansion factor (popcount <= 26
    here) is the operator's cost model, same as any explode."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bit int", useArrow=True)
    class SetBits:
        def eval(self, cents: int):
            b = 0
            while cents:
                if cents & 1:
                    yield (b,)
                cents >>= 1
                b += 1

    load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents"
    ).createOrReplaceTempView("q343_cents")
    spark.udtf.register("q343_set_bits", SetBits)
    return spark.sql(
        """
        SELECT b.bit, count(*) AS n_set
        FROM q343_cents c, LATERAL q343_set_bits(c.cents) b
        GROUP BY b.bit
        ORDER BY b.bit
        """
    )
