"""Deeper TPC-H-shaped coverage (Q2/Q7/Q18/Q19/Q22 analogs adapted
to the fixture schema — no partsupp/shipmode columns exist, see
FIXTURES.md). These exercise the join/aggregate patterns the lighter
queries don't: multi-dim join trees with disjunctive residuals, having-
style post-aggregation filters, per-group argmax, and anti-join +
uncorrelated scalar subquery combos.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import dec, dsum
from kinesis_sample_spark.queries import query

_SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(6,4)))"
)


def _disc_price():
    from kinesis_sample_spark.functions.numeric import one_minus

    return dec("l_extendedprice") * one_minus("l_discount")


# ---------------------------------------------------------------------------
# q70 — volume shipping between two nations by year (TPC-H Q7 shape).
# ---------------------------------------------------------------------------
@query(
    "q70_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(CAST(SUM({_SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q70_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two broadcast copies of nation with a disjunctive cross-nation
    residual; fact-side joins shuffle once each on their keys."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = F.broadcast(load_table(spark, sf_dir, "nation")).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = F.broadcast(load_table(spark, sf_dir, "nation")).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(_disc_price(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# q73 — large-quantity orders (TPC-H Q18 shape: HAVING over a join-back).
# ---------------------------------------------------------------------------
@query(
    "q73_large_orders",
    oracle="""
WITH big AS (
    SELECT l_orderkey, CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
""",
)
def q73_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join-back: the HAVING filter shrinks the fact side
    *before* the dimension joins — ordering the tree this way is the scale
    win (never join first and aggregate later when the filter is on the
    aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q74 — disjunctive multi-clause predicate revenue (TPC-H Q19 shape).
# ---------------------------------------------------------------------------
@query(
    "q74_disjunctive_revenue",
    oracle=f"""
SELECT CAST(CAST(SUM({_SQL_DISC_PRICE}) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
""",
)
def q74_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides — Catalyst extracts the common
    per-side disjuncts for pushdown and keeps the cross-side residual on
    the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & q.between(10, 30))
        | ((F.col("p_type") == "PROMO") & F.col("p_size").between(20, 50) & q.between(20, 40))
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(_disc_price(), "revenue"), F.count("*").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# q75 — best supplier per part (TPC-H Q2 spirit: per-group argmax).
# ---------------------------------------------------------------------------
@query(
    "q75_best_supplier_per_part",
    oracle="""
WITH shipped AS (
    SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
ranked AS (
    SELECT l_partkey AS p_key, s_suppkey, s_name, s_acctbal,
           ROW_NUMBER() OVER (PARTITION BY l_partkey
                              ORDER BY s_acctbal DESC, s_suppkey) AS rn
    FROM shipped JOIN supplier ON s_suppkey = l_suppkey
)
SELECT p_key AS l_partkey, s_suppkey, s_name, s_acctbal
FROM ranked WHERE rn = 1
ORDER BY l_partkey
""",
)
def q75_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax via window rank over a deduped association —
    the scalable replacement for the correlated MIN subquery in TPC-H Q2
    (one shuffle on partkey; no per-row subquery execution)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    shipped = li.select("l_partkey", "l_suppkey").distinct()
    w = W.partitionBy("l_partkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return (
        shipped.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# q76 — rich-but-inactive customers (TPC-H Q22 shape).
# ---------------------------------------------------------------------------
@query(
    "q76_rich_inactive_customers",
    oracle="""
WITH avg_bal AS (
    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
           / COUNT(c_acctbal) AS a
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, COUNT(*) AS n_cust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q76_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (broadcast single row) + anti join +
    aggregate — TPC-H Q22's plan shape."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(dec("c_acctbal")).cast("double") / F.count("c_acctbal")).alias("a"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust"), dsum(dec("c_acctbal"), "total_bal"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q192 — Pareto skyline of parts (size vs price dominance).
# ---------------------------------------------------------------------------
@query(
    "q192_skyline_parts",
    oracle="""
WITH per_size AS (
    SELECT p_size, MIN(p_retailprice) AS best_at_size FROM part GROUP BY p_size
),
frontier AS (
    SELECT p_size, best_at_size,
           MIN(best_at_size) OVER (ORDER BY p_size DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_larger
    FROM per_size
)
SELECT p.p_partkey, p.p_size, p.p_retailprice
FROM part p JOIN frontier f ON f.p_size = p.p_size
WHERE p.p_retailprice <= f.best_at_size
  AND (f.best_larger IS NULL OR p.p_retailprice < f.best_larger)
ORDER BY p.p_partkey
""",
)
def q192_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier operator: parts not dominated on
    (size max-better, price min-better), with the textbook dominance
    relation — q dominates p iff q is >= on both dimensions and
    strictly better on at least one. The classic quadratic NOT EXISTS
    self-join collapses to a sort + prefix-min because 2-D dominance is
    monotone: pre-aggregate min price per size (the only data-sized
    shuffle), take the running min over strictly larger sizes via a
    RANGE frame that excludes size ties (descending order, offset 1 —
    exact on the integer key). A part survives iff it matches its own
    size's min price (no same-size strictly-cheaper part) AND is
    strictly cheaper than every larger size's best (a larger part at
    equal price dominates). test_round9_ops.py checks this against the
    brute-force quadratic definition on randomized inputs. Raw parquet
    doubles are only compared, never combined, so the hash match is
    trivially exact.

    Scale: the window runs over one row per distinct size (bounded
    domain), broadcast back onto parts — no all-pairs join at any scale.
    The same prefix-min trick is the standard distributed skyline
    building block for d=2; higher dimensions would block on one
    dimension and skyline the rest per block."""
    part = load_table(spark, sf_dir, "part")
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("best_at_size"))
    wlarger = W.orderBy(F.desc("p_size")).rangeBetween(W.unboundedPreceding, -1)
    frontier = per_size.select(
        "p_size",
        "best_at_size",
        F.min("best_at_size").over(wlarger).alias("best_larger"),
    )
    return (
        part.join(F.broadcast(frontier), "p_size")
        .where(
            (F.col("p_retailprice") <= F.col("best_at_size"))
            & (
                F.col("best_larger").isNull()
                | (F.col("p_retailprice") < F.col("best_larger"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# q205 — referential-integrity audit across the star schema.
# ---------------------------------------------------------------------------
@query(
    "q205_referential_integrity",
    oracle="""
SELECT 'lineitem->orders' AS fk, (SELECT COUNT(*) FROM lineitem) AS n_child,
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL) AS n_orphans,
       (SELECT COUNT(*) FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey IS NULL) AS n_childless_parents
UNION ALL
SELECT 'lineitem->part', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_partkey IS NULL),
       (SELECT COUNT(*) FROM part p LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE l.l_partkey IS NULL)
UNION ALL
SELECT 'lineitem->supplier', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE s.s_suppkey IS NULL),
       (SELECT COUNT(*) FROM supplier s LEFT JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        WHERE l.l_suppkey IS NULL)
UNION ALL
SELECT 'orders->customer', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_custkey IS NULL),
       (SELECT COUNT(*) FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey IS NULL)
ORDER BY fk
""",
)
def q205_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the data-quality contract check a
    lakehouse ingestion runs per snapshot, since parquet enforces no
    foreign keys: for each FK edge of the star schema, the child row
    count, orphaned children (FK points nowhere — broken join results),
    and childless parents (legit, but the number feeding dim-table
    pruning decisions). Anti-join counts in both directions; on the
    consistent fixture orphans are zero and childless parents are not —
    both sides recompute them independently, so a regression in either
    generator or engine joins surfaces as a hash mismatch.

    Scale: each direction is one left-anti join on the FK key — the dim
    side broadcasts (supplier/part/customer), the fact-fact edge
    (lineitem->orders) co-shuffles on orderkey once. The four audits
    are independent and share the fact scan via the cache Spark keeps
    for the repeated subtree."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")

    def audit(fk, child, ckey, parent, pkey, broadcast_parent=True):
        # three single-row aggregates crossJoined lazily — no driver-side
        # collect; the whole audit stays one DataFrame program
        n_child = child.agg(F.count("*").alias("n_child"))
        # dim-table parents broadcast; a fact-table parent (orders for the
        # lineitem edge) must co-shuffle on the key instead — broadcasting
        # a fact risks executor OOM at scale
        parent_side = F.broadcast(parent) if broadcast_parent else parent
        orphans = (
            child.join(parent_side, child[ckey] == parent[pkey], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        childless = (
            parent.join(child, child[ckey] == parent[pkey], "left_anti")
            .agg(F.count("*").alias("n_childless_parents"))
        )
        return (
            n_child.crossJoin(orphans)
            .crossJoin(childless)
            .select(
                F.lit(fk).alias("fk"), "n_child", "n_orphans", "n_childless_parents"
            )
        )

    out = (
        audit("lineitem->orders", li, "l_orderkey", orders, "o_orderkey",
              broadcast_parent=False)
        .unionByName(audit("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionByName(audit("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"))
        .unionByName(audit("orders->customer", orders, "o_custkey", cust, "c_custkey"))
    )
    return out.orderBy("fk")


# ---------------------------------------------------------------------------
# q206 — small-quantity-vs-part-average revenue (TPC-H Q17 shape).
# ---------------------------------------------------------------------------
@query(
    "q206_correlated_avg_quantity",
    oracle="""
WITH t AS (
    SELECT l_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
),
th AS (
    SELECT l_partkey,
           SUM(l_quantity) / COUNT(l_quantity) / 5.0 AS qty_threshold
    FROM t GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         / 7.0 AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small_lines
FROM t JOIN th USING (l_partkey)
WHERE l_quantity < qty_threshold
""",
)
def q206_correlated_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 at its published parameters: revenue lost to
    small-quantity ("fragmented") orders — lineitems of ONE BRAND whose
    quantity is below 20% of that part's average, summed and annualized
    (/7). Third member of the deliberate Q17 family, each pinning a
    different engine path: q46 keeps the correlated scalar subquery in
    SQL (exercises Catalyst's decorrelation itself), q90 decorrelates by
    hand over the UNFILTERED fact at a 50% threshold (the heavy-hitter
    variant), and this one adds the selective dim prefilter — the plan
    property under test is that the brand filter BROADCASTS into the
    fact scan before any aggregation (asserted in
    tests/test_plans_round10.py), which neither sibling exhibits.

    Determinism: quantities are integer-valued doubles, so SUM/COUNT is
    exact in any order; /5.0 and /7.0 are single IEEE ops; revenue sums
    as DECIMAL(12,2) and crosses to double via the correctly-rounded
    VARCHAR path.

    Scale: the brand filter broadcasts through the part join, the
    per-part average and the join back co-shuffle on l_partkey once
    (same key, reused exchange); no row ever holds more than its own
    part's scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    target = F.broadcast(
        part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    )
    t = li.join(target, li.l_partkey == target.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    th = t.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count("l_quantity") / F.lit(5.0)).alias(
            "qty_threshold"
        )
    )
    return (
        t.join(th, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_small_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q207 — nested semi-join chain (TPC-H Q20 shape, partsupp-free variant).
# ---------------------------------------------------------------------------
@query(
    "q207_nested_semi_chain",
    oracle="""
SELECT s_name, n_name, s_acctbal
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'red %'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(l_quantity) > 90
)
ORDER BY s_name
""",
)
def q207_nested_semi_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp table in the fixture, see
    FIXTURES.md): suppliers who moved a large volume (> 90 units) of any
    'red'-named part — the nested IN-subquery-with-HAVING chain,
    decorrelated to filter -> aggregate -> semi-join. Differs from q91
    (the same chain collapsed to its minimal form) in what it pins:
    here the semi-join target is the supplier DIM enriched through a
    broadcast nation join, and the plan contract is LeftSemi — supplier
    rows must be provably un-duplicatable (asserted in
    tests/test_plans_round10.py); q91 gates the aggregate-threshold
    arithmetic instead.

    Scale: the part-name filter broadcasts into the fact scan; the
    (supplier, part) volume aggregate shuffles the filtered fact once;
    the surviving supplier keys are a tiny relation that semi-joins the
    supplier dim (left_semi, so supplier rows never duplicate), and the
    nation name is a broadcast lookup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    red = F.broadcast(
        part.filter(F.col("p_name").like("red %")).select("p_partkey")
    )
    big_movers = (
        li.join(red, li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 90)
        .select("l_suppkey")
    )
    return (
        supp.join(big_movers, supp.s_suppkey == big_movers.l_suppkey, "left_semi")
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# q231 — percent-of-parent hierarchical revenue shares (region > nation).
# ---------------------------------------------------------------------------
@query(
    "q231_percent_of_parent",
    oracle=f"""
WITH nat AS (
    SELECT r_name, n_name,
           SUM({_SQL_DISC_PRICE}) AS rev
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(rev) OVER (PARTITION BY r_name) AS VARCHAR) AS DOUBLE)
         AS share_of_region,
       CAST(CAST(rev AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(rev) OVER () AS VARCHAR) AS DOUBLE)
         AS share_of_total
FROM nat
ORDER BY r_name, n_name
""",
)
def q231_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchical shares — the BI drill-down
    companion to q11's rollup: each nation's discounted supplier revenue
    as a share of its region and of the world, via two windows at
    different grouping levels over one aggregate (never a second scan).
    Sums are exact decimals; each share is one division of
    VARCHAR-path doubles.

    Scale: the fact co-shuffles once on the nation grain (dims
    broadcast); both percent windows run over the nation-cardinality
    relation."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    nat = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(region, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(_disc_price()).alias("rev"))
    )
    rev_d = F.col("rev").cast("double")
    region_total = F.sum("rev").over(W.partitionBy("r_name")).cast("double")
    grand_total = F.sum("rev").over(W.partitionBy()).cast("double")
    return nat.select(
        "r_name",
        "n_name",
        rev_d.alias("revenue"),
        (rev_d / region_total).alias("share_of_region"),
        (rev_d / grand_total).alias("share_of_total"),
    ).orderBy("r_name", "n_name")


# ---------------------------------------------------------------------------
# q238 — join-cardinality estimator audit per FK edge.
# ---------------------------------------------------------------------------
@query(
    "q238_join_cardinality_audit",
    oracle="""
SELECT 'lineitem->orders' AS edge,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_parent,
       (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS ndv_child,
       (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS ndv_parent,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS actual_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) * CAST((SELECT COUNT(*) FROM orders) AS DOUBLE)
         / GREATEST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
                    (SELECT COUNT(DISTINCT o_orderkey) FROM orders)) AS est_rows
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem), (SELECT COUNT(*) FROM part),
       (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
       (SELECT COUNT(DISTINCT p_partkey) FROM part),
       (SELECT COUNT(*) FROM lineitem JOIN part ON l_partkey = p_partkey),
       (SELECT COUNT(*) FROM lineitem) * CAST((SELECT COUNT(*) FROM part) AS DOUBLE)
         / GREATEST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
                    (SELECT COUNT(DISTINCT p_partkey) FROM part))
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM customer),
       (SELECT COUNT(DISTINCT o_custkey) FROM orders),
       (SELECT COUNT(DISTINCT c_custkey) FROM customer),
       (SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey),
       (SELECT COUNT(*) FROM orders) * CAST((SELECT COUNT(*) FROM customer) AS DOUBLE)
         / GREATEST((SELECT COUNT(DISTINCT o_custkey) FROM orders),
                    (SELECT COUNT(DISTINCT c_custkey) FROM customer))
ORDER BY edge
""",
)
def q238_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimator audit: for each star-schema edge, the
    textbook equi-join estimate |A|*|B| / max(ndv_A, ndv_B) next to the
    ACTUAL join cardinality — the optimizer-diagnostics query a platform
    team runs when CBO row estimates drift from reality (q147 audits the
    *distribution* of a join key; this audits the *size model*). q205
    checks the same edges for orphans; here the contract under test is
    the uniformity assumption behind every cost-based join reorder.
    Counts and NDVs are exact integers; the estimate is one double
    division.

    Scale: each edge is one co-shuffled count join plus scalar
    aggregates composed lazily (broadcast single-row relations, no
    driver collect); NDV is exact here because it doubles as the
    estimate's input — swap approx_count_distinct at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")

    def audit(edge, child, ckey, parent, pkey):
        stats_c = child.agg(
            F.count("*").alias("n_child"),
            F.countDistinct(ckey).alias("ndv_child"),
        )
        stats_p = parent.agg(
            F.count("*").alias("n_parent"),
            F.countDistinct(pkey).alias("ndv_parent"),
        )
        actual = child.join(parent, child[ckey] == parent[pkey]).agg(
            F.count("*").alias("actual_rows")
        )
        est = (
            F.col("n_child")
            * F.col("n_parent").cast("double")
            / F.greatest("ndv_child", "ndv_parent")
        )
        return (
            stats_c.crossJoin(stats_p)
            .crossJoin(actual)
            .select(
                F.lit(edge).alias("edge"),
                "n_child",
                "n_parent",
                "ndv_child",
                "ndv_parent",
                "actual_rows",
                est.alias("est_rows"),
            )
        )

    return (
        audit("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionByName(audit("orders->customer", orders, "o_custkey", cust, "c_custkey"))
        .orderBy("edge")
    )
