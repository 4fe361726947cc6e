"""Batch relational core — SURVEY.md §2 Table B.

The reference (aditragh/kinesis-sample) contains no relational operators at
all (SURVEY.md §2 Table B: every category "absent"); this module supplies
them Spark-first, per the north star. Every query is pure DataFrame/SQL API
— Catalyst owns the physical plan (broadcast vs SMJ, partial aggregation,
pushdown). Scale notes per query explain why the plan survives 100 TB.

Numeric aggregates use the exact-decimal scheme from
``kinesis_sample_spark.functions.numeric`` so values are bit-identical to
the DuckDB oracle under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import (
    RATE,
    davg,
    dec,
    dsum,
    one_minus,
    one_plus,
    sql_davg,
    sql_dec,
    sql_dsum,
    sql_one_minus,
    sql_one_plus,
)
from kinesis_sample_spark.queries import query

# shared sub-expressions (Spark + SQL renderings kept adjacent)
_DISC_PRICE = lambda: dec("l_extendedprice") * one_minus("l_discount")
_SQL_DISC_PRICE = f"{sql_dec('l_extendedprice')} * {sql_one_minus('l_discount')}"
_CHARGE = lambda: dec("l_extendedprice") * (one_minus("l_discount") * one_plus("l_tax"))
_SQL_CHARGE = (
    f"{sql_dec('l_extendedprice')} * ({sql_one_minus('l_discount')} * {sql_one_plus('l_tax')})"
)


# ---------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape): filter → groupBy → 8 aggregates.
# ---------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum(sql_dec('l_quantity'), 'sum_qty')},
       {sql_dsum(sql_dec('l_extendedprice'), 'sum_base_price')},
       {sql_dsum(_SQL_DISC_PRICE, 'sum_disc_price')},
       {sql_dsum(_SQL_CHARGE, 'sum_charge')},
       {sql_davg(sql_dec('l_quantity'), 'l_quantity', 'avg_qty')},
       {sql_davg(sql_dec('l_extendedprice'), 'l_extendedprice', 'avg_price')},
       {sql_davg(sql_dec('l_discount', 'DECIMAL(6,4)'), 'l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→hash-agg→sort. Scale: Catalyst pushes the shipdate filter
    into the parquet scan and does map-side partial aggregation; the shuffle
    carries only 6 groups × 8 numeric states, so the plan is scan-bound at
    any scale factor."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec("l_quantity"), "sum_qty"),
            dsum(dec("l_extendedprice"), "sum_base_price"),
            dsum(_DISC_PRICE(), "sum_disc_price"),
            dsum(_CHARGE(), "sum_charge"),
            davg(dec("l_quantity"), "l_quantity", "avg_qty"),
            davg(dec("l_extendedprice"), "l_extendedprice", "avg_price"),
            davg(dec("l_discount", RATE), "l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q06 — selective filter + single aggregate (TPC-H Q6 shape).
# ---------------------------------------------------------------------------
@query(
    "q06_forecast_revenue",
    oracle=f"""
SELECT {sql_dsum(f"{sql_dec('l_extendedprice')} * {sql_dec('l_discount', 'DECIMAL(6,4)')}", 'revenue')},
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four predicates push into the parquet scan (min/max row-group
    skipping on l_shipdate); result is a single row — no shuffle beyond the
    final 1-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(dec("l_extendedprice") * dec("l_discount", RATE), "revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q03 — shipping priority: 3-way join → agg → deterministic top-k.
# ---------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {sql_dsum(_SQL_DISC_PRICE, 'revenue')},
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈orders⋈lineitem. Scale: filters push below the joins;
    customer(filtered) is small relative to lineitem so AQE turns the first
    join broadcast at low SF and SMJ at high SF — we leave the choice to the
    planner. Top-k is a TakeOrderedAndProject (per-partition heap, no global
    sort). The extra l_orderkey sort key makes the limit deterministic."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_DISC_PRICE(), "revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q05 — local supplier volume: 6-way join with broadcast dims (TPC-H Q5).
# ---------------------------------------------------------------------------
@query(
    "q05_local_supplier_volume",
    oracle=f"""
SELECT n_name, {sql_dsum(_SQL_DISC_PRICE, 'revenue')}
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join. Scale: nation/region are fixed-cardinality → explicit
    ``F.broadcast`` (no shuffle for those edges at any SF); supplier joins by
    key+nation equi-pair; the fact-side joins shuffle on their keys and AQE
    handles skew. Group-by output is ≤ nations, trivially small."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(_DISC_PRICE(), "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# q04 — order priority check: EXISTS → left-semi join (TPC-H Q4 shape).
# ---------------------------------------------------------------------------
@query(
    "q04_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join — Spark never materializes the probe side's
    matches, and the semi join degenerates to one boolean per orders row.
    Scale: both sides shuffle on orderkey once; lineitem is pre-filtered by
    the correlated predicate before the shuffle."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q07 — anti join: customers with no orders in a window.
# ---------------------------------------------------------------------------
@query(
    "q07_inactive_customers",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_inactive, CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_acctbal
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q07_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join; the orders side is filtered before the
    shuffle so the anti join probes only the relevant slice."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_inactive"),
            dsum(dec("c_acctbal"), "sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q08 — outer join + null handling: order counts per customer incl. zero.
# ---------------------------------------------------------------------------
@query(
    "q08_customer_order_counts",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'F'
    GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q08_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with an ON-clause residual predicate,
    double aggregation. COUNT(col) (null-skipping) preserves zero-order
    customers. Scale: first agg keys on c_custkey (pre-shuffled by the join),
    second agg output is tiny."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# q09 — set operations: union / intersect / except on customer key sets.
# ---------------------------------------------------------------------------
@query(
    "q09_set_ops",
    oracle="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     bigbal   AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT c_custkey FROM building UNION SELECT c_custkey FROM bigbal) u
UNION ALL
SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM bigbal) i
UNION ALL
SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM bigbal) e
ORDER BY op
""",
)
def q09_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union/intersect/except each shuffle on the full row as key; at scale
    prefer keyed aggregation, but the operators themselves must exist —
    this exercises all three."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bigbal = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        count_of(building.union(bigbal).distinct(), "union")
        .unionByName(count_of(building.intersect(bigbal), "intersect"))
        .unionByName(count_of(building.exceptAll(bigbal.distinct()).distinct(), "except"))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# q10 — distinct aggregation.
# ---------------------------------------------------------------------------
@query(
    "q10_distinct_counts",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q10_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst expands to a two-phase aggregate (distinct
    keys shuffled once, then counted); stays scalable because the distinct
    shuffle is on (group, custkey) pairs, not a global set."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            dsum(dec("o_totalprice"), "sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q11 — rollup (hierarchical grouping sets).
# ---------------------------------------------------------------------------
@query(
    "q11_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP = grouping-sets expansion; Spark computes all sets in one
    pass with partial aggregation (Expand operator), no extra scans."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), dsum(dec("l_quantity"), "sum_qty"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# q13 — theta (non-equi band) join: parts priced within a band of the
# average price of their type.
# ---------------------------------------------------------------------------
@query(
    "q13_band_join",
    oracle="""
WITH type_avg AS (
    SELECT p_type AS t_type,
           CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(p_retailprice) AS t_avg
    FROM part GROUP BY p_type
)
SELECT p.p_type, COUNT(*) AS n_in_band
FROM part p JOIN type_avg ON p.p_type = t_type
WHERE p.p_retailprice > t_avg * 0.9 AND p.p_retailprice < t_avg * 1.1
GROUP BY p.p_type
ORDER BY p.p_type
""",
)
def q13_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on type carrying a non-equi band residual — the planner
    keeps the equi part as the join key and evaluates the band as a post-join
    filter, which is the scalable shape (pure theta joins are O(n·m);
    always anchor them on an equi key when one exists)."""
    part = load_table(spark, sf_dir, "part")
    type_avg = (
        part.groupBy(F.col("p_type").alias("t_type"))
        .agg(davg(dec("p_retailprice"), "p_retailprice", "t_avg"))
    )
    return (
        part.join(
            F.broadcast(type_avg),
            (part.p_type == type_avg.t_type)
            & (part.p_retailprice > type_avg.t_avg * 0.9)
            & (part.p_retailprice < type_avg.t_avg * 1.1),
        )
        .groupBy("p_type")
        .agg(F.count("*").alias("n_in_band"))
        .orderBy("p_type")
    )
