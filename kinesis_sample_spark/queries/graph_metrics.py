"""Graph-structure metrics over the co-purchase graph — round-12 additions
next to q125 (PageRank), q150 (triangles), q198/q230 (pairs/lift).

Three operators the earlier graph family did not cover:

- q241: community extraction — connected components of the
  support-thresholded co-purchase graph, summarized per community. The
  Spark side runs the engine's pointer-jumping CC operator
  (operators/components.py); the oracle recomputes components with a
  recursive-CTE min-label closure, so the iterative operator is checked
  against a genuinely different algorithm.
- q246: degree distribution (power-of-two binned) — the first question
  anyone asks of a graph before choosing a partitioning strategy.
- q247: degree assortativity — do high-degree parts co-purchase with
  high-degree parts? (Pearson correlation of endpoint degrees over the
  symmetrized edge list.)

All three ride the bounded-basket pair projection from queries/graph.py
(MAX_BASKET cap riding the l_orderkey shuffle), so a single mega-basket
can never explode the edge list — the property that makes the family
100 TB-viable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.operators.components import connected_components
from kinesis_sample_spark.queries import query
from kinesis_sample_spark.queries.graph import MAX_BASKET, copurchase_pairs

#: minimum co-purchase support for an edge to enter the COMMUNITY graph.
#: Deliberately high: thresholding is what keeps components small and
#: meaningful (support-1 edges are mostly coincidence), and it also bounds
#: the oracle's recursive closure (rows = Σ|C|² over components).
COMMUNITY_MIN_SUPPORT = 3

#: shared pair projection (distinct (order, part) edges, MAX_BASKET cap,
#: pair counts) — textually identical to the q198 oracle so both families
#: audit the same relation.
_SQL_PAIRS = f"""op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
bounded AS (
    SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS basket_size
        FROM op
    ) s WHERE basket_size <= {MAX_BASKET}
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS sup
    FROM bounded a
    JOIN bounded b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, sup) co-purchase counts — the Spark twin of the
    ``pairs`` CTE above."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    return copurchase_pairs(op, "l_orderkey", "l_partkey").withColumnRenamed(
        "n_orders", "sup"
    )


# ---------------------------------------------------------------------------
# q241 — co-purchase communities (CC of the thresholded graph).
# ---------------------------------------------------------------------------
@query(
    "q241_copurchase_communities",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS},
edges AS (SELECT part_a, part_b, sup FROM pairs WHERE sup >= {COMMUNITY_MIN_SUPPORT}),
bidir AS (
    SELECT part_a AS a, part_b AS b FROM edges
    UNION ALL
    SELECT part_b, part_a FROM edges
),
reach(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) n
    UNION
    SELECT e.b, r.lbl FROM bidir e JOIN reach r ON e.a = r.node
),
lbl AS (SELECT node, MIN(lbl) AS community FROM reach GROUP BY node),
node_stats AS (
    SELECT community, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM lbl GROUP BY community
),
edge_stats AS (
    SELECT l.community, CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(e.sup) AS BIGINT) AS total_support
    FROM edges e JOIN lbl l ON l.node = e.part_a
    GROUP BY l.community
)
SELECT n.community, n.n_parts, e.n_edges, e.total_support
FROM node_stats n JOIN edge_stats e ON e.community = n.community
ORDER BY n.community
""",
)
def q241_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities = connected components of the co-purchase graph at
    support >= 3: the product-affinity clusters a recommender or
    assortment planner actually consumes, summarized per community
    (member count, internal edges, total support). Community id = min
    part id, matching the engine's min-label CC exactly.

    Cross-algorithm check: Spark runs pointer-jumping label propagation
    (O(log diameter) rounds, eager localCheckpoint per round); the
    DuckDB oracle runs a recursive-CTE reachability closure — two
    independent algorithms must produce identical partitions.

    Scale: the support threshold (>= 3) is the load-bearing choice —
    it prunes the edge list to the statistically meaningful core BEFORE
    the iterative stage, so CC runs on a graph orders of magnitude
    smaller than the raw pair projection; the pair projection itself is
    MAX_BASKET-capped. The oracle's closure is quadratic per component,
    which the same pruning keeps trivially small; the Spark operator has
    no such limit."""
    # materialize the thresholded edge list ONCE: it feeds both the CC
    # iteration (which would otherwise re-run the quadratic pair
    # projection to build its own checkpoint) and the edge_stats join.
    # Post-threshold it is tiny by construction; blocks are freed by
    # session.release_checkpoints between jobs.
    edges = (
        _edges(spark, sf_dir)
        .filter(F.col("sup") >= COMMUNITY_MIN_SUPPORT)
        .localCheckpoint(eager=True)
    )
    cc = connected_components(edges, "part_a", "part_b")
    node_stats = cc.groupBy("component").agg(F.count("*").alias("n_parts"))
    edge_stats = (
        edges.join(cc, edges.part_a == cc.node)
        .groupBy("component")
        .agg(F.count("*").alias("n_edges"), F.sum("sup").alias("total_support"))
    )
    return (
        node_stats.join(edge_stats, "component")
        .select(
            F.col("component").alias("community"),
            "n_parts",
            "n_edges",
            "total_support",
        )
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# q246 — degree distribution (power-of-two bins).
# ---------------------------------------------------------------------------
_MAX_EXP = 20


def _bucket_case(col: str) -> str:
    """Power-of-two bin index as a pure integer CASE ladder — shared SQL
    text for both engines, so there is no float log2 to disagree on
    (log2(8) is not reliably 3.0 across libm implementations)."""
    cases = " ".join(
        f"WHEN {col} >= {1 << e} THEN {e}" for e in range(_MAX_EXP, 0, -1)
    )
    return f"(CASE {cases} ELSE 0 END)"


@query(
    "q246_degree_distribution",
    oracle=f"""
WITH {_SQL_PAIRS},
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT part_a AS node FROM pairs
        UNION ALL
        SELECT part_b FROM pairs
    ) t GROUP BY node
)
SELECT {_bucket_case('d')} AS bucket,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM deg GROUP BY 1 ORDER BY bucket
""",
)
def q246_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the (unthresholded) co-purchase graph in
    power-of-two bins — the heavy-tail diagnostic that decides whether a
    downstream graph job needs skew handling (a part in the 2^10 bucket
    is a hub that will dominate any degree-keyed shuffle).

    The bin index is an integer CASE ladder, not floor(log2(d)): log2 of
    an exact power of two is not reliably exact across engines/libm.

    Scale: degrees are one count per node over the capped pair
    projection (each distinct pair contributes one endpoint row each
    way); output is <= {_MAX_EXP + 1} rows."""
    pairs = _edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("part_a").alias("node"))
        .unionByName(pairs.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return (
        deg.groupBy(F.expr(_bucket_case("d")).alias("bucket"))
        .agg(
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
            F.count("*").alias("n_parts"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q247 — degree assortativity (endpoint-degree Pearson r).
# ---------------------------------------------------------------------------
@query(
    "q247_degree_assortativity",
    oracle=f"""
WITH {_SQL_PAIRS},
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT part_a AS node FROM pairs
        UNION ALL
        SELECT part_b FROM pairs
    ) t GROUP BY node
),
sym AS (
    SELECT da.d AS x, db.d AS y
    FROM pairs p JOIN deg da ON da.node = p.part_a JOIN deg db ON db.node = p.part_b
    UNION ALL
    SELECT db.d, da.d
    FROM pairs p JOIN deg da ON da.node = p.part_a JOIN deg db ON db.node = p.part_b
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
    FROM sym
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       {sql_double(
           "CAST(round("
           "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
           " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
           "  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
           ", 6) AS DECIMAL(18,6))"
       )} AS assortativity
FROM s
""",
)
def q247_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity: Pearson r of (deg(a), deg(b)) over the
    symmetrized edge list. Negative r (hubs attach to leaves) predicts a
    very different join-skew profile than positive r (hub-hub cliques) —
    the scalar that tells you whether q246's tail nodes cluster.

    Determinism: every moment is an exact BIGINT sum; the single r
    expression is evaluated over exact inputs in IEEE doubles with
    identical operation order in both engines, then quantized
    round(.,6) -> DECIMAL -> double (the ln/log10 rule applied to a
    compound expression).

    Scale: two hash joins of the pair list against the (node, degree)
    relation, one global moment aggregation — no per-node state beyond
    the degree count. The Spark side folds the symmetrization into the
    moment algebra (one pass over the joined edges) instead of the
    oracle's explicit (x,y)+(y,x) union, which would re-execute the
    projection+join subtree per branch; the moments are the same exact
    integers either way (round-13 rewrite, outputs bit-identical)."""
    pairs = _edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("part_a").alias("node"))
        .unionByName(pairs.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("part_a"), F.col("d").alias("xa"))
    db = deg.select(F.col("node").alias("part_b"), F.col("d").alias("xb"))
    joined = pairs.join(da, "part_a").join(db, "part_b")
    # The symmetrized moments are computed algebraically from ONE pass
    # over `joined` instead of materializing the (x,y)+(y,x) union the
    # oracle spells out: over the mirrored list, n = 2·|E|,
    # sum x = sum y = Σ(xa+xb), sum xy = 2·Σ xa·xb, and
    # sum x² = sum y² = Σ(xa²+xb²). The union form re-executed the
    # pair-projection + degree-join subtree in both branches (measured
    # 10.9 s cold / 2.3 s steady at sf0.1 vs 3.7 / 1.9 for this form);
    # every moment is the SAME exact BIGINT either way, so the final
    # double is bit-identical to the oracle's union evaluation.
    s = joined.agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("xa") + F.col("xb")).alias("s1"),
        F.sum(F.col("xa") * F.col("xb")).alias("sp"),
        F.sum(F.col("xa") * F.col("xa") + F.col("xb") * F.col("xb")).alias("sq"),
    ).select(
        (F.col("cnt") * 2).alias("n"),
        F.col("s1").alias("sx"),
        F.col("s1").alias("sy"),
        (F.col("sp") * 2).alias("sxy"),
        F.col("sq").alias("sxx"),
        F.col("sq").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    r = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return s.select(
        (F.col("n") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.round(r, 6).cast("decimal(18,6)").cast("double").alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Round-14 family C — the part↔supplier BIPARTITE graph from lineitem.
# The co-purchase family projects order→part; these three work the other
# bipartite relation the fact carries (distinct (l_partkey, l_suppkey)
# edges): projection onto either side, plus the two-sided degree audit
# that justifies each side's fan-out cap.
# ---------------------------------------------------------------------------

#: part-side fan-out cap for the supplier-supplier projection: a part
#: supplied by thousands of suppliers would contribute C(fanout, 2) pairs.
#: 64 is cap-free at sf <= 0.1 (measured max suppliers/part: 41 at sf0.01,
#: 52 at sf0.1) while still bounding the quadratic at any scale.
MAX_FANOUT = 64

#: supplier-side cap for the part-part projection. Unlike MAX_FANOUT this
#: one BINDS by design (suppliers carry ~500+ parts even at sf0.01, 682 max
#: at sf0.1): dropping whole groups MAX_BASKET-style would empty the graph,
#: so the cap is a deterministic rank truncation instead — each supplier
#: contributes its first SUPP_CAP parts by key, identically in both engines.
SUPP_CAP = 64

_SQL_PS = """ps AS (
    SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)"""


def _ps_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_partkey, l_suppkey) bipartite edges — the Spark twin
    of the ``ps`` CTE above."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_partkey", "l_suppkey").distinct()


@query(
    "q298_supplier_projection",
    oracle=f"""
WITH {_SQL_PS},
bounded AS (
    SELECT l_partkey, l_suppkey FROM (
        SELECT l_partkey, l_suppkey,
               COUNT(*) OVER (PARTITION BY l_partkey) AS fanout
        FROM ps
    ) s WHERE fanout <= {MAX_FANOUT}
),
pairs AS (
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS shared_parts
    FROM bounded a
    JOIN bounded b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
),
deg AS (
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS d
    FROM bounded GROUP BY 1
)
SELECT p.supp_a, p.supp_b, p.shared_parts,
       p.shared_parts / (da.d + db.d - p.shared_parts) AS jaccard
FROM pairs p
JOIN deg da ON da.l_suppkey = p.supp_a
JOIN deg db ON db.l_suppkey = p.supp_b
WHERE p.shared_parts >= 2
ORDER BY jaccard DESC, supp_a, supp_b
LIMIT 20
""",
)
def q298_supplier_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-supplier projection of the part↔supplier bipartite graph:
    suppliers sharing >= 2 distinct parts, weighted by shared-part count
    and Jaccard similarity of their (capped) part sets — the
    supplier-substitutability graph a sourcing planner consumes. Top-20
    pairs by Jaccard with a deterministic key tiebreak.

    Jaccard = shared / (deg_a + deg_b - shared) is a single division of
    exact BIGINTs — identical doubles in both engines, no quantization
    needed (SCALING.md ratio rule). Degrees are computed over the SAME
    capped relation the pairs come from, so the ratio is internally
    consistent.

    Scale: the part-side fan-out cap (<= {MAX_FANOUT} suppliers/part,
    a window count riding the l_partkey shuffle the self-join needs
    anyway) bounds pair generation at C({MAX_FANOUT},2) per part —
    the MAX_BASKET recipe applied to the other bipartite axis. Cap-free
    at sf <= 0.1 (max measured fan-out 52), so the driver check runs the
    uncapped semantics while the bound still holds at 1000×."""
    from kinesis_sample_spark.queries.graph import bounded_baskets, pair_counts

    bounded = bounded_baskets(
        _ps_edges(spark, sf_dir), "l_partkey", MAX_FANOUT
    )
    pairs = (
        pair_counts(bounded, "l_partkey", "l_suppkey")
        .withColumnRenamed("part_a", "supp_a")
        .withColumnRenamed("part_b", "supp_b")
        .withColumnRenamed("n_orders", "shared_parts")
        .filter(F.col("shared_parts") >= 2)
    )
    deg = bounded.groupBy("l_suppkey").agg(F.count("*").alias("d"))
    da = deg.select(F.col("l_suppkey").alias("supp_a"), F.col("d").alias("da"))
    db = deg.select(F.col("l_suppkey").alias("supp_b"), F.col("d").alias("db"))
    return (
        pairs.join(da, "supp_a")
        .join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "shared_parts",
            (
                F.col("shared_parts")
                / (F.col("da") + F.col("db") - F.col("shared_parts"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "supp_a", "supp_b")
        .limit(20)
    )


@query(
    "q299_part_projection_density",
    oracle=f"""
WITH {_SQL_PS},
capped AS (
    SELECT l_partkey, l_suppkey FROM (
        SELECT l_partkey, l_suppkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY l_partkey) AS rk
        FROM ps
    ) s WHERE rk <= {SUPP_CAP}
),
proj AS (
    SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM capped a
    JOIN capped b
      ON a.l_suppkey = b.l_suppkey AND a.l_partkey < b.l_partkey
),
nodes AS (
    SELECT p.p_brand, CAST(COUNT(DISTINCT c.l_partkey) AS BIGINT) AS n_nodes
    FROM capped c JOIN part p ON p.p_partkey = c.l_partkey
    GROUP BY 1
),
intra AS (
    SELECT pa.p_brand, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM proj e
    JOIN part pa ON pa.p_partkey = e.part_a
    JOIN part pb ON pb.p_partkey = e.part_b
    WHERE pa.p_brand = pb.p_brand
    GROUP BY 1
)
SELECT n.p_brand AS brand, n.n_nodes,
       COALESCE(i.n_edges, 0) AS n_edges,
       CAST(n.n_nodes * (n.n_nodes - 1) / 2 AS BIGINT) AS clique_bound,
       COALESCE(i.n_edges, 0) / CAST(n.n_nodes * (n.n_nodes - 1) / 2 AS BIGINT)
         AS density
FROM nodes n LEFT JOIN intra i ON i.p_brand = n.p_brand
WHERE n.n_nodes >= 2
ORDER BY brand
""",
)
def q299_part_projection_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-explosion diagnostic: how dense would the part-part
    graph (parts sharing a supplier) be, summarized per brand against
    the theoretical clique bound — the number a planner needs BEFORE
    materializing any bipartite projection at 100 TB (a density near 1
    means the projection is a clique blow-up, not a graph).

    The supplier side is rank-capped (first {SUPP_CAP} parts per
    supplier by key): suppliers carry ~500+ parts even at sf0.01, so a
    MAX_BASKET-style drop-cap would empty the graph — truncation keeps
    every supplier with a bounded C({SUPP_CAP},2) pair contribution,
    applied as the same ROW_NUMBER text in both engines. The cap is part
    of the query's declared semantics, not an approximation of an
    uncapped ideal.

    Scale: pair generation is bounded per supplier; the projection is
    deduplicated (DISTINCT pair) before the brand join; density is a
    single division of exact BIGINTs."""
    from pyspark.sql import Window as W

    ps = _ps_edges(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rk = F.row_number().over(
        W.partitionBy("l_suppkey").orderBy("l_partkey")
    )
    capped = (
        ps.withColumn("rk", rk).filter(F.col("rk") <= SUPP_CAP).drop("rk")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    proj = (
        a.join(
            b,
            (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .distinct()
    )
    nodes = (
        capped.join(
            F.broadcast(part), capped.l_partkey == part.p_partkey
        )
        .groupBy("p_brand")
        .agg(F.countDistinct("l_partkey").alias("n_nodes"))
    )
    pa = part.select(
        F.col("p_partkey").alias("part_a"), F.col("p_brand").alias("brand_a")
    )
    pb = part.select(
        F.col("p_partkey").alias("part_b"), F.col("p_brand").alias("brand_b")
    )
    intra = (
        proj.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("p_brand"))
        .agg(F.count("*").alias("n_edges"))
    )
    clique = (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2).cast("bigint")
    return (
        nodes.join(intra, "p_brand", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            F.col("p_brand").alias("brand"),
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
            clique.alias("clique_bound"),
            (F.coalesce(F.col("n_edges"), F.lit(0)) / clique).alias("density"),
        )
        .orderBy("brand")
    )


@query(
    "q300_bipartite_degree_balance",
    oracle=f"""
WITH {_SQL_PS},
part_deg AS (
    SELECT l_partkey AS node, CAST(COUNT(*) AS BIGINT) AS d
    FROM ps GROUP BY 1
),
supp_deg AS (
    SELECT l_suppkey AS node, CAST(COUNT(*) AS BIGINT) AS d
    FROM ps GROUP BY 1
),
both_sides AS (
    SELECT 'part' AS side, d FROM part_deg
    UNION ALL
    SELECT 'supplier' AS side, d FROM supp_deg
)
SELECT side, {_bucket_case('d')} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree
FROM both_sides
GROUP BY side, bucket
ORDER BY side, bucket
""",
)
def q300_bipartite_degree_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided degree audit of the part↔supplier bipartite graph:
    power-of-two-binned histograms of suppliers-per-part and
    parts-per-supplier in one table with a ``side`` column. This is the
    measurement behind the family's cap choices — the part side's max
    fan-out justifies MAX_FANOUT={MAX_FANOUT} being cap-free at test
    scale, while the supplier side's ~2^9 tail is why q299 needs a
    rank truncation rather than a drop-cap. q246 audits one projected
    side of one bipartite graph; this audits BOTH raw sides, which is
    what a planner reads before choosing a projection direction at all.

    The bin index is the shared integer CASE ladder (no float log2).

    Scale: two counts over the distinct edge relation (each one shuffle
    keyed on its side), binned to <= 2·{_MAX_EXP + 1} output rows."""
    ps = _ps_edges(spark, sf_dir)
    part_deg = ps.groupBy(F.col("l_partkey").alias("node")).agg(
        F.count("*").alias("d")
    )
    supp_deg = ps.groupBy(F.col("l_suppkey").alias("node")).agg(
        F.count("*").alias("d")
    )
    both = part_deg.select(F.lit("part").alias("side"), "d").unionByName(
        supp_deg.select(F.lit("supplier").alias("side"), "d")
    )
    return (
        both.groupBy("side", F.expr(_bucket_case("d")).alias("bucket"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
        )
        .orderBy("side", "bucket")
    )


# ---------------------------------------------------------------------------
# Round-14 family D — INCREMENTAL graph maintenance. q182 maintains
# signatures incrementally; these maintain graph STRUCTURE: the full
# co-purchase communities recomputed the streaming way (contract old
# components, solve only the delta) and the change audit a pipeline
# needs to invalidate downstream caches.
# ---------------------------------------------------------------------------

#: edges whose support was already >= threshold using only shipments
#: before this date form the "old" accumulated graph; everything the
#: FULL fact adds beyond them is the delta. Late cut so old carries most
#: of the graph (shipdates span 1992-1998).
DELTA_CUT = "1998-01-01"


def _sql_pairs_suffixed(suffix: str, where: str = "") -> str:
    """The _SQL_PAIRS projection with suffixed CTE names and an optional
    fact predicate — lets one oracle hold the full-fact and old-fact
    closures side by side."""
    wh = f" WHERE {where}" if where else ""
    return f"""op{suffix} AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem{wh}
),
bounded{suffix} AS (
    SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS basket_size
        FROM op{suffix}
    ) s WHERE basket_size <= {MAX_BASKET}
),
pairs{suffix} AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS sup
    FROM bounded{suffix} a
    JOIN bounded{suffix} b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)"""


def _old_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded co-purchase edges using only pre-cut shipments —
    support recomputed on the OLD fact (support is NOT additive across a
    date cut: an order's basket spans it), so old ⊆ full by monotonicity."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit(DELTA_CUT).cast("date")
    )
    op = li.select("l_orderkey", "l_partkey").distinct()
    return (
        copurchase_pairs(op, "l_orderkey", "l_partkey")
        .withColumnRenamed("n_orders", "sup")
        .filter(F.col("sup") >= COMMUNITY_MIN_SUPPORT)
    )


@query(
    "q301_incremental_components",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS},
edges AS (SELECT part_a, part_b FROM pairs WHERE sup >= {COMMUNITY_MIN_SUPPORT}),
bidir AS (
    SELECT part_a AS a, part_b AS b FROM edges
    UNION ALL
    SELECT part_b, part_a FROM edges
),
reach(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) n
    UNION
    SELECT e.b, r.lbl FROM bidir e JOIN reach r ON e.a = r.node
),
lbl AS (SELECT node, MIN(lbl) AS community FROM reach GROUP BY node),
node_stats AS (
    SELECT community, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM lbl GROUP BY community
),
edge_stats AS (
    SELECT l.community, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM edges e JOIN lbl l ON l.node = e.part_a
    GROUP BY l.community
)
SELECT n.community, n.n_parts, e.n_edges
FROM node_stats n JOIN edge_stats e ON e.community = n.community
ORDER BY n.community
""",
)
def q301_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q241's communities computed the INCREMENTAL way: CC on the
    pre-1998-01-01 graph, contract each old component to its label, map the
    delta edges (full-graph edges minus old edges, an anti-join — edge
    support must be recomputed on the full fact because a basket spans
    the cut) through the contraction, re-solve only contracted+delta,
    expand back. The oracle is the full-graph recursive closure, so the
    driver gate asserts the maintenance path is EXACTLY the batch
    answer — the property that lets an accumulated 10^9-node graph
    absorb a day's edges without a full recompute (the re-solved graph
    is |communities| + |delta|, not |V|).

    Labels agree exactly, not just partition-wise: contracted ids are
    old min-member labels, so min-label CC over the contraction yields
    the global min per merged component (operators/components.py
    ``incremental_components``; pinned against a full recompute on a
    synthetic graph in tests/test_round14_ops.py).

    Scale: both CC runs ride the support threshold (>= 3) and the
    MAX_BASKET-capped pair projection; the delta anti-join is one
    shuffle on the edge key."""
    from kinesis_sample_spark.operators.components import incremental_components
    from kinesis_sample_spark.session import checkpoint_df

    full_edges = checkpoint_df(
        _edges(spark, sf_dir).filter(F.col("sup") >= COMMUNITY_MIN_SUPPORT),
        eager=True,
    )
    # Optimization r16 (guide §7.2 duplicated subtrees): old_edges feeds
    # the old-graph CC, the delta anti-join AND the node-expansion union
    # (×2) inside incremental_components — without truncation the
    # distinct→window→pair-self-join subtree re-executes ~4× (measured:
    # 16 lineitem scans in the final plan). Lazy checkpoint: the first
    # action inside connected_components materializes it once.
    old_edges = checkpoint_df(_old_edges(spark, sf_dir), eager=False)
    delta = full_edges.join(old_edges, ["part_a", "part_b"], "left_anti")
    # cc is consumed by BOTH node_stats and edge_stats — same rule.
    cc = checkpoint_df(
        incremental_components(old_edges, delta, "part_a", "part_b"), eager=False
    )
    node_stats = cc.groupBy("component").agg(F.count("*").alias("n_parts"))
    edge_stats = (
        full_edges.join(cc, full_edges.part_a == cc.node)
        .groupBy("component")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        node_stats.join(edge_stats, "component")
        .select(F.col("component").alias("community"), "n_parts", "n_edges")
        .orderBy("community")
    )


@query(
    "q302_affected_community_delta",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIRS},
{_sql_pairs_suffixed("_o", f"l_shipdate < DATE '{DELTA_CUT}'")},
edges_n AS (SELECT part_a, part_b FROM pairs WHERE sup >= {COMMUNITY_MIN_SUPPORT}),
edges_o AS (SELECT part_a, part_b FROM pairs_o WHERE sup >= {COMMUNITY_MIN_SUPPORT}),
bidir_n AS (
    SELECT part_a AS a, part_b AS b FROM edges_n
    UNION ALL SELECT part_b, part_a FROM edges_n
),
bidir_o AS (
    SELECT part_a AS a, part_b AS b FROM edges_o
    UNION ALL SELECT part_b, part_a FROM edges_o
),
reach_n(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir_n) n
    UNION
    SELECT e.b, r.lbl FROM bidir_n e JOIN reach_n r ON e.a = r.node
),
reach_o(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir_o) n
    UNION
    SELECT e.b, r.lbl FROM bidir_o e JOIN reach_o r ON e.a = r.node
),
lbl_n AS (SELECT node, MIN(lbl) AS c FROM reach_n GROUP BY node),
lbl_o AS (SELECT node, MIN(lbl) AS c FROM reach_o GROUP BY node),
joined AS (
    SELECT n.node, n.c AS new_c, o.c AS old_c
    FROM lbl_n n LEFT JOIN lbl_o o ON o.node = n.node
),
agg AS (
    SELECT new_c AS community,
           CAST(SUM(CASE WHEN old_c IS NOT NULL AND old_c <> new_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes_moved,
           CAST(SUM(CASE WHEN old_c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new_nodes,
           CAST(COUNT(DISTINCT old_c) AS BIGINT) AS merged_from
    FROM joined GROUP BY 1
)
SELECT community, n_nodes_moved, n_new_nodes, merged_from
FROM agg
WHERE n_nodes_moved > 0 OR n_new_nodes > 0
ORDER BY community
""",
)
def q302_affected_community_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which communities CHANGED when the delta arrived — the cache-
    invalidation audit that makes q301's incremental maintenance usable:
    downstream per-community artifacts (recommendation lists, rollups)
    only need rebuilding for communities this table names. Per changed
    new-graph community: members whose label moved, members that are new
    to the graph, and how many old communities collapsed into it
    (``merged_from``). Unchanged communities are filtered out, so the
    output IS the invalidation work-list.

    Old labels come from CC on the pre-1998-01-01 thresholded graph (support
    recomputed on the old fact), new labels from CC on the full graph;
    the oracle runs both recursive closures and diffs them identically.

    Scale: two thresholded CC runs plus one node-keyed join; the output
    is bounded by |changed communities|, which is what makes delta-
    driven invalidation cheaper than rebuild-the-world."""
    full_edges = _edges(spark, sf_dir).filter(
        F.col("sup") >= COMMUNITY_MIN_SUPPORT
    )
    cc_new = connected_components(full_edges, "part_a", "part_b")
    cc_old = connected_components(_old_edges(spark, sf_dir), "part_a", "part_b")
    joined = cc_new.select(
        "node", F.col("component").alias("new_c")
    ).join(
        cc_old.select("node", F.col("component").alias("old_c")), "node", "left"
    )
    moved = (F.col("old_c").isNotNull() & (F.col("old_c") != F.col("new_c"))).cast(
        "long"
    )
    return (
        joined.groupBy(F.col("new_c").alias("community"))
        .agg(
            F.sum(moved).alias("n_nodes_moved"),
            F.sum(F.col("old_c").isNull().cast("long")).alias("n_new_nodes"),
            F.countDistinct("old_c").alias("merged_from"),
        )
        .filter((F.col("n_nodes_moved") > 0) | (F.col("n_new_nodes") > 0))
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# q304 — percolation curve: component structure vs support threshold.
# ---------------------------------------------------------------------------
_PERC_TS = (3, 4, 5, 6)


def _perc_oracle() -> str:
    blocks = []
    selects = []
    for t in _PERC_TS:
        blocks.append(f"""bidir{t} AS (
    SELECT part_a AS a, part_b AS b FROM pairs WHERE sup >= {t}
    UNION ALL
    SELECT part_b, part_a FROM pairs WHERE sup >= {t}
),
reach{t}(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir{t}) n
    UNION
    SELECT e.b, r.lbl FROM bidir{t} e JOIN reach{t} r ON e.a = r.node
),
sizes{t} AS (
    SELECT lbl AS c, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT node, MIN(lbl) AS lbl FROM reach{t} GROUP BY node) l
    GROUP BY 1
)""")
        selects.append(f"""SELECT CAST({t} AS BIGINT) AS support_t,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       COALESCE(CAST(MAX(cnt) AS BIGINT), 0) AS max_component_size,
       (SELECT COUNT(*) FROM u) - COALESCE(CAST(SUM(cnt) AS BIGINT), 0)
         AS n_singletons
FROM sizes{t}""")
    return (
        "WITH RECURSIVE " + _SQL_PAIRS + ",\n"
        + f"e3 AS (SELECT part_a, part_b FROM pairs WHERE sup >= {_PERC_TS[0]}),\n"
        + "u AS (SELECT DISTINCT node FROM (SELECT part_a AS node FROM e3 "
        + "UNION ALL SELECT part_b FROM e3) t),\n"
        + ",\n".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY support_t"
    )


@query("q304_percolation_threshold_sweep", oracle=_perc_oracle())
def q304_percolation_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percolation curve that justifies COMMUNITY_MIN_SUPPORT: for
    support thresholds (3, 4, 5, 6), the component count, giant-component size
    and number of stranded nodes (nodes of the threshold-3 universe
    with no surviving edge). Reading the curve tells a planner where the
    graph fractures — below the percolation point a single giant
    component makes per-community processing meaningless; above it the
    graph is all singletons. Threshold 2 is deliberately outside the
    sweep: its giant component (1860 nodes at sf0.01) makes the oracle's
    quadratic closure infeasible at sf0.1 — the same scale cliff the
    threshold exists to avoid.

    Spark runs four thresholded CC passes over ONE materialized pair
    projection (the expensive MAX_BASKET-capped self-join runs once;
    each pass filters it); the oracle runs four recursive closures.

    Scale: each CC rides a monotonically smaller edge set; the curve's
    cost is dominated by the shared projection, so sweeping thresholds
    is cheap once the graph is built — which is why this audit is
    WORTH running before committing to a threshold at 100 TB."""
    pairs = (
        _edges(spark, sf_dir)
        .filter(F.col("sup") >= _PERC_TS[0])
        .localCheckpoint(eager=True)
    )
    universe = (
        pairs.select(F.col("part_a").alias("node"))
        .unionByName(pairs.select(F.col("part_b").alias("node")))
        .distinct()
        .agg(F.count("*").alias("n_universe"))
    )
    out = None
    for t in _PERC_TS:
        et = pairs.filter(F.col("sup") >= t)
        cc = connected_components(et, "part_a", "part_b")
        sizes = cc.groupBy("component").agg(F.count("*").alias("sz"))
        stats = sizes.agg(
            F.count("*").alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).alias("max_component_size"),
            F.coalesce(F.sum("sz"), F.lit(0)).alias("n_nodes_t"),
        )
        row = (
            stats.crossJoin(F.broadcast(universe))
            .select(
                F.lit(t).cast("long").alias("support_t"),
                F.col("n_components").cast("long").alias("n_components"),
                F.col("max_component_size")
                .cast("long")
                .alias("max_component_size"),
                (F.col("n_universe") - F.col("n_nodes_t"))
                .cast("long")
                .alias("n_singletons"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("support_t")


# ---------------------------------------------------------------------------
# q311 — k-core decomposition by iterative peeling (round 14, batch 3).
# ---------------------------------------------------------------------------
_KCORE_KS = (2, 3)
_KCORE_SUPPORT = 2  # support >= 3 leaves a near-empty graph; the k-core
# structure lives in the support-2 band (measured: sf0.01 k=3 peels 11
# rounds over 3108 -> 1970 edges; sf0.1's support-2 graph is tiny —
# co-purchase support DILUTES with scale because the part space grows)
_KCORE_UNROLL = 14  # >= measured max peel rounds (11) + margin; the
# Spark side RAISES if it hasn't converged within this many rounds, so
# the unrolled oracle text can never silently diverge from the engine


def _kcore_oracle() -> str:
    # every unrolled CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    # each peel round references its predecessor three times (two degree
    # arms + the semi-join), so un-materialized the expansion is 3^rounds
    # scans of the base pair projection — found as an EMFILE "too many
    # open files" on the parquet source at unroll depth 14
    blocks = [
        f"e2_0 AS MATERIALIZED (SELECT part_a, part_b FROM pairs WHERE sup >= {_KCORE_SUPPORT})"
    ]
    selects = []
    for k in _KCORE_KS:
        prev = "e2_0"
        for r in range(1, _KCORE_UNROLL + 1):
            cur = f"e{k}_{r}"
            blocks.append(f"""n{k}_{r} AS MATERIALIZED (
    SELECT node FROM (
        SELECT node, COUNT(*) AS d FROM (
            SELECT part_a AS node FROM {prev}
            UNION ALL SELECT part_b FROM {prev}
        ) t GROUP BY node
    ) s WHERE d >= {k}
),
{cur} AS MATERIALIZED (
    SELECT e.part_a, e.part_b FROM {prev} e
    JOIN n{k}_{r} a ON a.node = e.part_a
    JOIN n{k}_{r} b ON b.node = e.part_b
)""")
            prev = cur
        selects.append(f"""SELECT CAST({k} AS BIGINT) AS k,
       COALESCE(CAST((SELECT COUNT(*) FROM (
           SELECT part_a AS node FROM {prev} UNION SELECT part_b FROM {prev}
       ) u) AS BIGINT), 0) AS n_core_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_core_edges,
       COALESCE(CAST((SELECT MAX(d) FROM (
           SELECT COUNT(*) AS d FROM (
               SELECT part_a AS node FROM {prev}
               UNION ALL SELECT part_b FROM {prev}
           ) t GROUP BY node
       ) dd) AS BIGINT), 0) AS max_core_degree
FROM {prev}""")
    return (
        "WITH " + _SQL_PAIRS + ",\n"
        + ",\n".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY k"
    )


@query("q311_kcore_census", oracle=_kcore_oracle())
def q311_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph (support >=
    2): repeatedly peel nodes of degree < k until the graph stops
    shrinking; what survives is the maximal subgraph where EVERY node
    keeps >= k neighbors — the standard cohesion core (k-cores seed
    community detection, measure engagement durability, and bound the
    clique number). Census per k in (2, 3): core nodes, core edges, max
    in-core degree.

    This is a NEW fixpoint shape for the engine: the iterate SHRINKS the
    edge relation each round (CC relabels a fixed node set; PageRank
    re-weights a fixed edge set). Same iterative discipline as
    components.py — lazy localCheckpoint per round, the convergence
    count materializes it, and the loop RAISES if the peel hasn't
    converged within 14 rounds, so the oracle's 14-round unrolled CTE
    chain can never silently disagree with a deeper engine run
    (measured max 11 rounds at sf0.01 k=3).

    Scale: each round is one degree aggregation + one semi-join, both
    keyed on node, over a monotonically shrinking relation; rounds are
    bounded by the peel depth (typically <= tens on real graphs), and
    the support threshold bounds the starting edge list exactly as in
    q241."""
    pairs = (
        _edges(spark, sf_dir)
        .filter(F.col("sup") >= _KCORE_SUPPORT)
        .select("part_a", "part_b")
        .localCheckpoint(eager=True)
    )
    out = None
    for k in _KCORE_KS:
        edges = pairs
        n_edges = edges.count()
        converged = False
        for _ in range(_KCORE_UNROLL):
            deg = (
                edges.select(F.col("part_a").alias("node"))
                .unionByName(edges.select(F.col("part_b").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("node")
            nxt = (
                edges.join(keep.withColumnRenamed("node", "part_a"), "part_a")
                .join(keep.withColumnRenamed("node", "part_b"), "part_b")
                .select("part_a", "part_b")
                .localCheckpoint(eager=False)
            )
            n_next = nxt.count()  # materializes the lazy checkpoint
            edges = nxt
            if n_next == n_edges:
                converged = True
                break
            n_edges = n_next
        if not converged:
            raise RuntimeError(
                f"k-core peel for k={k} did not converge within "
                f"{_KCORE_UNROLL} rounds — the unrolled oracle would be "
                f"wrong; raise _KCORE_UNROLL (and regenerate the oracle)"
            )
        deg_final = (
            edges.select(F.col("part_a").alias("node"))
            .unionByName(edges.select(F.col("part_b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        row = (
            edges.agg(F.count("*").alias("n_core_edges"))
            .crossJoin(
                deg_final.agg(
                    F.coalesce(F.count("*"), F.lit(0)).alias("n_core_nodes"),
                    F.coalesce(F.max("d"), F.lit(0)).alias("max_core_degree"),
                )
            )
            .select(
                F.lit(k).cast("long").alias("k"),
                F.col("n_core_nodes").cast("long").alias("n_core_nodes"),
                F.col("n_core_edges").cast("long").alias("n_core_edges"),
                F.col("max_core_degree").cast("long").alias("max_core_degree"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# q325 — BFS hop-distance histogram from the hub node (round 14).
# ---------------------------------------------------------------------------
_BFS_SUPPORT = 2  # same band as q311: support >= 3 leaves a near-empty graph
_BFS_HOPS = 8


def _bfs_oracle() -> str:
    # every unrolled CTE is MATERIALIZED (the q311 lesson): each hop
    # references its predecessor three times (carry-forward, frontier
    # expansion, NOT IN visited-set) — un-materialized that's 3^hops
    # scans of the pair projection.
    blocks = [
        f"e2 AS MATERIALIZED (SELECT part_a, part_b FROM pairs WHERE sup >= {_BFS_SUPPORT})",
        """edges AS MATERIALIZED (
  SELECT part_a AS u, part_b AS v FROM e2
  UNION ALL SELECT part_b, part_a FROM e2
)""",
        "deg AS (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY u)",
        "src AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1)",
        "d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM src)",
    ]
    for k in range(1, _BFS_HOPS + 1):
        blocks.append(f"""d{k} AS MATERIALIZED (
  SELECT node, dist FROM d{k - 1}
  UNION ALL
  SELECT nd.node, {k} AS dist FROM (
    SELECT DISTINCT e.v AS node
    FROM edges e JOIN d{k - 1} f ON f.node = e.u AND f.dist = {k - 1}
  ) nd
  WHERE nd.node NOT IN (SELECT node FROM d{k - 1})
)""")
    return (
        "WITH " + _SQL_PAIRS + ",\n" + ",\n".join(blocks) + f""",
nodes AS (SELECT COUNT(DISTINCT u) AS n FROM edges),
hist AS (
  SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d{_BFS_HOPS} GROUP BY dist
),
grid AS (SELECT unnest(range(0, {_BFS_HOPS + 1})) AS dist)
SELECT CAST(g.dist AS BIGINT) AS dist, COALESCE(h.n_nodes, 0) AS n_nodes,
       (SELECT CAST(n AS BIGINT) FROM nodes)
         - COALESCE((SELECT CAST(SUM(n_nodes) AS BIGINT) FROM hist), 0)
         AS n_unreached,
       (SELECT CAST(MAX(dist) AS BIGINT) FROM d{_BFS_HOPS}) AS max_dist
FROM grid g LEFT JOIN hist h ON h.dist = g.dist
ORDER BY g.dist
"""
    )


@query("q325_bfs_hop_histogram", oracle=_bfs_oracle())
def q325_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop-distance histogram from the co-purchase
    graph's hub (highest-degree node, ties to the smallest id): how
    many parts sit 1, 2, ... 8 co-purchase hops from the most
    connected part, how many are beyond hop 8 or disconnected
    (n_unreached), and the observed eccentricity-at-8. The graph
    shelf measures cohesion (q311 k-core), triangles (q150),
    components (q241), and centrality (q125 PageRank) — this is the
    missing TRAVERSAL primitive, the expanding-frontier BFS every
    "how far is everything from X" question compiles to.

    Semantics are deliberately bounded: distances are computed to
    exactly 8 hops (the histogram + n_unreached is well-defined
    whatever the diameter), so unlike q311 there is no convergence
    assertion to carry — the unrolled oracle and the engine loop run
    the SAME fixed hop count by construction. Visited-set dedup keys
    the whole thing: a node enters at its FIRST frontier (anti-join
    against the accumulated distance relation), which is what makes
    BFS distances, not walk counts.

    Scale: each hop is one frontier⋈edges equi-join + one distinct +
    one anti-join against the visited set, all keyed on node — the
    standard Pregel-free relational BFS; the frontier relation is
    localCheckpointed lazily per hop (components.py discipline) so the
    plan never re-expands earlier hops. Hop count bounds the rounds;
    the support threshold bounds the edge list (q241's knob)."""
    pairs = (
        _edges(spark, sf_dir)
        .filter(F.col("sup") >= _BFS_SUPPORT)
        .select("part_a", "part_b")
    )
    edges = (
        pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .unionByName(
            pairs.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
        )
        .localCheckpoint(eager=True)
    )
    src = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("d"))
        .orderBy(F.col("d").desc(), "node")
        .limit(1)
        .select("node")
    )
    dist = src.select("node", F.lit(0).alias("dist")).localCheckpoint(eager=True)
    frontier = dist
    for k in range(1, _BFS_HOPS + 1):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(k).alias("dist"))
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    n_nodes = edges.select("u").distinct().count()
    hist = dist.groupBy("dist").agg(F.count("*").alias("n_nodes"))
    reached, mx = dist.agg(
        F.count("*").alias("n"), F.max("dist").alias("mx")
    ).collect()[0]
    grid = spark.range(_BFS_HOPS + 1).select(F.col("id").alias("dist"))
    return (
        grid.join(F.broadcast(hist), "dist", "left")
        .select(
            "dist",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
            F.lit(n_nodes - reached).cast("bigint").alias("n_unreached"),
            F.lit(mx).cast("bigint").alias("max_dist"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# q329 — weighted shortest-distance histogram (Bellman-Ford, round 14).
# ---------------------------------------------------------------------------
_BF_ROUNDS = 8  # relaxation rounds == q325's hop bound

#: integer nano-unit edge weight: round-half-up of 1e9/sup, computed as
#: pure BIGINT floor division so both engines produce the identical
#: integer — no float/decimal enters any distance.
_BF_W_SQL = "(2000000000 + sup) // (2 * sup)"


def _bf_oracle() -> str:
    # unrolled K-round Bellman-Ford; every round references its
    # predecessor twice (carry-forward + relaxation), so each CTE is
    # MATERIALIZED (the q311/q325 lesson — un-materialized this is
    # 2^rounds scans of the edge relation).
    blocks = [
        f"""e2 AS MATERIALIZED (
  SELECT part_a, part_b, {_BF_W_SQL} AS w
  FROM pairs WHERE sup >= {_BFS_SUPPORT}
)""",
        """edges AS MATERIALIZED (
  SELECT part_a AS u, part_b AS v, w FROM e2
  UNION ALL SELECT part_b, part_a, w FROM e2
)""",
        "deg AS (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY u)",
        "src AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1)",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM src)",
    ]
    for k in range(1, _BF_ROUNDS + 1):
        blocks.append(f"""d{k} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e.v AS node, f.dist + e.w AS dist
    FROM edges e JOIN d{k - 1} f ON f.node = e.u
  ) rel GROUP BY node
)""")
    return (
        "WITH " + _SQL_PAIRS + ",\n" + ",\n".join(blocks) + f""",
nodes AS (SELECT COUNT(DISTINCT u) AS n FROM edges),
hist AS (
  SELECT dist AS dist_nano, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM d{_BF_ROUNDS} GROUP BY dist
)
SELECT h.dist_nano, h.n_nodes,
       (SELECT CAST(n AS BIGINT) FROM nodes)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM d{_BF_ROUNDS}) AS n_unreached,
       (SELECT CAST(MAX(dist) AS BIGINT) FROM d{_BF_ROUNDS}) AS max_dist_nano
FROM hist h
ORDER BY h.dist_nano
"""
    )


@query("q329_bellman_ford_distances", oracle=_bf_oracle())
def q329_bellman_ford_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest distances from the co-purchase hub — the
    weighted complement to q325's hop BFS, and it genuinely differs:
    edge weight 1/sup makes strong ties short, and on the thresholded
    graph the weighted distance disagrees with the hop count at >99% of
    reached nodes (199/200 at sf0.001, 1859/1860 at sf0.01) with a 4-6x
    richer distance spectrum (18 vs 4 distinct values) — the gate
    round-15 design note required before spending a slot.

    Distances are exact integers end to end: the weight is the
    round-half-up of 1e9/sup computed by BIGINT floor division
    ((2e9 + sup) div (2*sup)), path sums add BIGINTs, MIN over paths
    compares BIGINTs — no float ordering ambiguity on either engine.
    Both engines run the SAME bounded relaxation: K=8 Bellman-Ford
    rounds (best distance using <=8 edges), the Spark side as an
    SPFA-style frontier loop (relax only from nodes improved last
    round — pointwise identical to full relaxation after every round),
    the oracle as the K-times-unrolled MATERIALIZED min-union. Early
    exit when no node improves is sound: further rounds are no-ops.

    Scale: per round one frontier⋈edges equi-join + groupBy-min +
    left-anti improvement check, all keyed on node; frontier and dist
    are localCheckpointed lazily (components.py discipline) so the plan
    stays one round deep. Support threshold + MAX_BASKET bound the edge
    list exactly as q241/q325."""
    pairs = _edges(spark, sf_dir).filter(F.col("sup") >= _BFS_SUPPORT)
    e2 = pairs.select(
        "part_a", "part_b", F.expr(f"{_BF_W_SQL.replace('//', 'div')}").alias("w")
    )
    edges = (
        e2.select(F.col("part_a").alias("u"), F.col("part_b").alias("v"), "w")
        .unionByName(
            e2.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"), "w")
        )
        .localCheckpoint(eager=True)
    )
    src = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("d"))
        .orderBy(F.col("d").desc(), "node")
        .limit(1)
        .select("node")
    )
    dist = src.select(
        "node", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(_BF_ROUNDS):
        cand = (
            edges.join(
                frontier.select(F.col("node").alias("u"), F.col("dist").alias("du")),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min(F.col("du") + F.col("w")).alias("nd"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if improved.isEmpty():
            break
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=False)
        )
        frontier = improved
    n_nodes = edges.select("u").distinct().count()
    reached, mx = dist.agg(F.count("*").alias("n"), F.max("dist").alias("mx")).collect()[0]
    return (
        dist.groupBy(F.col("dist").alias("dist_nano"))
        .agg(F.count("*").alias("n_nodes"))
        .select(
            "dist_nano",
            "n_nodes",
            F.lit(n_nodes - reached).cast("bigint").alias("n_unreached"),
            F.lit(mx).cast("bigint").alias("max_dist_nano"),
        )
        .orderBy("dist_nano")
    )


# ---------------------------------------------------------------------------
# q332 — density-peak basins via NATIVE recursive CTE (round 14).
# ---------------------------------------------------------------------------
_BASIN_MAX_DEPTH = 63

#: hill-climb parent: the neighbor with the maximal (degree, -id) key,
#: restricted to neighbors whose key strictly exceeds the node's own —
#: strict increase makes every climb acyclic and depth-bounded.
_BASIN_PARENT_SQL = """
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
nb AS (
  SELECT e.u, e.v, du.d AS du, dv.d AS dv
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
parent AS (
  SELECT u AS node, v AS parent FROM (
    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY dv DESC, v ASC) AS rk
    FROM nb WHERE dv > du OR (dv = du AND v < u)
  ) t WHERE rk = 1
)"""

_BASIN_WALK_SQL = """
WITH RECURSIVE walk(node, cur, depth) AS (
  SELECT node, node, 0 FROM {nodes}
  UNION ALL
  SELECT w.node, p.parent, w.depth + 1
  FROM walk w JOIN {parent} p ON p.node = w.cur
  WHERE w.depth < {max_depth}
),
term AS (
  SELECT node, cur AS peak, depth FROM (
    SELECT walk.*, ROW_NUMBER() OVER (PARTITION BY node ORDER BY depth DESC) AS rk
    FROM walk
  ) t WHERE rk = 1
)
SELECT peak, CAST(COUNT(*) AS BIGINT) AS n_members, CAST(MAX(depth) AS BIGINT) AS max_depth
FROM term GROUP BY peak ORDER BY peak
"""


def _basin_oracle() -> str:
    walk = _BASIN_WALK_SQL.format(
        nodes="nodes", parent="parent", max_depth=_BASIN_MAX_DEPTH
    )
    return (
        "WITH " + _SQL_PAIRS + f""",
e2 AS (SELECT part_a, part_b FROM pairs WHERE sup >= {_BFS_SUPPORT}),
edges AS (
  SELECT part_a AS u, part_b AS v FROM e2
  UNION ALL SELECT part_b, part_a FROM e2
),{_BASIN_PARENT_SQL},
nodes AS (SELECT node FROM deg)
SELECT * FROM ({walk}) fin
"""
    )


@query("q332_peak_basin_clusters", oracle=_basin_oracle())
def q332_peak_basin_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-peak basin clustering of the co-purchase graph, executed
    by Spark 4.1's NATIVE recursive CTE — the first registry query whose
    iteration runs inside Catalyst (a UnionLoop plan) instead of a
    driver-side Python loop (components.py / q325 / q329 style). Every
    node hill-climbs to its best neighbor by the strict key
    (degree DESC, id ASC) until it reaches a local density peak; basins
    (peak, member count, longest climb) are the mode-seeking clusters
    density-peaks methods compute (Rodriguez-Laio style, on graph
    degree instead of kernel density).

    Why this recursion is explosion-free where BFS is not (Spark's
    recursive CTEs support UNION ALL only): the parent relation is a
    FUNCTION — at most one parent per node, chosen by ROW_NUMBER over
    the strictly-greater (deg, -id) key — so each recursion level has
    at most one successor row per node and the per-level row count
    SHRINKS as chains reach peaks. Strict key increase makes climbs
    acyclic; the depth cap (63, mirrored verbatim in the oracle) is a
    safety bound both engines share, and the terminal row per node is
    selected by max depth, so even a hypothetical truncation diverges
    identically. The anchor is the FULL node set (from deg), not just
    parent-relation endpoints — a local maximum nobody climbs into
    still owns its singleton basin.

    The parent relation is localCheckpointed before the recursive SQL:
    recursion re-executes its referenced views once per level, so an
    un-materialized parent would rerun the pair projection + degree
    join per level (measured 21 s -> 2.1 s at sf0.1). Scale: each
    level is one keyed equi-join against the checkpointed
    single-parent relation; levels are bounded by the longest strictly-
    increasing degree chain (max climb depth 7 across fixtures)."""
    pairs = _edges(spark, sf_dir).filter(F.col("sup") >= _BFS_SUPPORT)
    edges = pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v")).unionByName(
        pairs.select(F.col("part_b").alias("u"), F.col("part_a").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    nb = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    w_rk = W.partitionBy("u").orderBy(F.col("dv").desc(), F.col("v").asc())
    parent = (
        nb.filter(
            (F.col("dv") > F.col("du"))
            | ((F.col("dv") == F.col("du")) & (F.col("v") < F.col("u")))
        )
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
        .select(F.col("u").alias("node"), F.col("v").alias("parent"))
        .localCheckpoint(eager=True)
    )
    nodes = deg.select("node").localCheckpoint(eager=True)
    # fixed view names: spark.sql analyzes eagerly, so the returned plan
    # is bound to THIS invocation's checkpointed relations — a later
    # createOrReplaceTempView replaces the catalog entry without growing
    # it (uuid-suffixed names would accumulate one view + pinned
    # checkpoint per invocation across a full-registry sweep).
    # SINGLE-THREADED ASSUMPTION: two concurrent q332 invocations in one
    # SparkSession could race between createOrReplaceTempView and the
    # eager spark.sql analysis and silently mix relations. All registry
    # execution (driver, sweeps, tests) is serial per session; if
    # concurrent execution is ever introduced, guard this with a lock or
    # switch to uuid names and accept the view/checkpoint accumulation.
    pv, nv = "q332_parent", "q332_nodes"
    parent.createOrReplaceTempView(pv)
    nodes.createOrReplaceTempView(nv)
    return spark.sql(
        _BASIN_WALK_SQL.format(nodes=nv, parent=pv, max_depth=_BASIN_MAX_DEPTH)
    )
