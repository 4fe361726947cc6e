"""TPC-H deepest cuts (Q8/Q16/Q17/Q20/Q21 analogs adapted to the fixture
schema — no partsupp / shipmode / commitdate / receiptdate columns exist,
see FIXTURES.md, so cost uses p_retailprice and "late" is defined against
o_orderdate). Together with relational.py and tpch_more.py these cover
the TPC-H shapes: market-share ratio-of-sums, NOT IN anti-join under
count-distinct, correlated-average predicates, and the Q21 EXISTS/NOT
EXISTS pair expressed as semi/anti joins.

Scale notes (100 TB): every fact-side join here shuffles once on its key
and dims are broadcast; the Q21 exists/anti pair self-joins lineitem on
l_orderkey so all three legs co-partition on the same key (one exchange
each, no replays); the Q17 per-part average is a partial-agg shuffle on
l_partkey reused by the subsequent co-partitioned join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import dec, sql_double
from kinesis_sample_spark.queries import query

_SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(6,4)))"
)


def _disc_price():
    from kinesis_sample_spark.functions.numeric import one_minus

    return dec("l_extendedprice") * one_minus("l_discount")


# ---------------------------------------------------------------------------
# q84 — national market share (TPC-H Q8 shape): ratio-of-sums per year.
# ---------------------------------------------------------------------------
@query(
    "q84_market_share",
    oracle=f"""
SELECT o_year,
       {sql_double("SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume END)")}
       / {sql_double("SUM(volume)")} AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         {_SQL_DISC_PRICE} AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def q84_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio of two exact-decimal sums per group; numerator NULL (not 0)
    for years with no NATION_1 supplier volume, matching SQL CASE-without-
    ELSE semantics. Dims (part filter, nation x2, region) broadcast; the
    fact chain shuffles once per join key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n1 = F.broadcast(load_table(spark, sf_dir, "nation")).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = F.broadcast(load_table(spark, sf_dir, "nation")).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    vol = _disc_price()
    return (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(region, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# q89 — supplier-count by part attribute (TPC-H Q16 shape; lineitem stands
# in for the missing partsupp, s_acctbal < 0 for the complaints filter).
# ---------------------------------------------------------------------------
@query(
    "q89_parts_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q89_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a never-NULL key column → plain broadcast anti-join
    (the general NOT IN needs null-aware anti; s_suppkey is a PK so the
    simple form is exactly equivalent). count(DISTINCT) shuffles on the
    full grouping key with distinct-local pre-aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").like("PROMO%"))
            & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        )
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q90 — small-quantity-order revenue (TPC-H Q17 shape: correlated average
# as a co-partitioned self-join).
# ---------------------------------------------------------------------------
@query(
    "q90_small_quantity_revenue",
    oracle=f"""
WITH pq AS (
  SELECT l_partkey AS pq_partkey,
         {sql_double("SUM(CAST(l_quantity AS DECIMAL(12,2)))")} / COUNT(l_quantity)
           AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_double("SUM(CAST(l_extendedprice AS DECIMAL(12,2)))")} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pq   ON pq_partkey = l_partkey
WHERE p_brand = 'Brand#13' AND l_quantity < 0.5 * avg_qty
""",
)
def q90_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated AVG subquery of Q17 decorrelated into a per-part
    aggregate + self-join on l_partkey: both legs hash-partition on the
    same key, so the join adds no extra exchange beyond the aggregate's.
    The average is exact-decimal-sum / count (deterministic double), so
    the `qty < 0.5*avg` predicate bit-agrees with the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    )
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity")).alias(
            "avg_qty"
        )
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(pq, F.col("pq_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# q91 — promotion-candidate suppliers (TPC-H Q20 shape: nested IN
# subqueries as semi-join chain).
# ---------------------------------------------------------------------------
@query(
    "q91_promotion_suppliers",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 40
)
ORDER BY s_suppkey
""",
)
def q91_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's nested-IN chain: per (supplier, part) shipped-quantity
    aggregate with a HAVING threshold (exact decimal, so the >40 cut is
    engine-independent), collapsed to a supplier semi-join. The aggregate
    shuffles on the composite key; the final semi-join broadcasts the
    distinct supplier set."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    )
    qualified = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    return (
        supp.join(
            F.broadcast(qualified),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q92 — suppliers who kept orders waiting (TPC-H Q21 shape: EXISTS +
# NOT EXISTS as co-partitioned semi/anti joins).
# ---------------------------------------------------------------------------
@query(
    "q92_waiting_suppliers",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
)
def q92_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's EXISTS/NOT-EXISTS pair computed as a per-order supplier
    census instead of semi/anti self-joins (optimization r16, guide
    §2.3/§2.4): a late line l1 qualifies iff its order has >1 distinct
    supplier (EXISTS l2) and exactly 1 distinct LATE supplier — l1's own
    (NOT EXISTS l3). Both facts come from one two-level aggregate over a
    single lineitem scan: per (orderkey, suppkey) count this supplier's
    late lines, then per orderkey count suppliers / late suppliers and
    carry the unique late supplier's key + late-line count. numwait is
    then the sum of late-line counts per supplier name — identical to
    counting the qualifying l1 rows.

    The r15 shape scanned lineitem 3× and built the FULL 2-column
    lineitem into a broadcast hash relation for the semi leg (fits only
    below the 64 MB threshold — at 100 TB it degrades to two extra
    full-fact shuffles); this shape scans lineitem once and shuffles
    only aggregate states. "Late" stays the exact integer-interval
    comparison against o_orderdate (the fixture has no receipt dates)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .cast("int")
        .alias("is_late"),
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("is_late").alias("n_late_lines")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(F.when(F.col("n_late_lines") > 0, F.lit(1))).alias("n_late_supp"),
        F.max(F.when(F.col("n_late_lines") > 0, F.col("l_suppkey"))).alias(
            "late_suppkey"
        ),
        F.sum("n_late_lines").alias("n_late"),
    )
    waited = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    return (
        waited.join(supp, F.col("s_suppkey") == F.col("late_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )
