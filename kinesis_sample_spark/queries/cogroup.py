"""Cogrouped-map pandas UDF: the two-sided grouped Arrow exchange.

``df1.groupBy(k).cogroup(df2.groupBy(k)).applyInPandas(fn, schema)`` is the
one pandas-UDF shape the registry did not yet gate: each key's rows from
BOTH inputs arrive as two pandas frames in the same task (a co-partitioned
shuffle on the key, exactly like a join, but handing the merge logic to
Python). It is the idiomatic home for per-entity reconciliation that SQL
expresses awkwardly — custom merge_asof, per-key model scoring against a
feature table, entity resolution.

Scale: one shuffle per side on the cogroup key (identical to a shuffle
join); per-task memory is one key group at a time via Arrow streaming. The
Python work here is deliberately O(group size) with integer/ordered-fold
arithmetic so the result is engine-exact.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.queries import query

COGROUP_SCHEMA = (
    "custkey bigint, acctbal double, n_orders bigint, "
    "cents_total bigint, max_price double"
)


def _reconcile(key, cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
    """Merge one customer's dimension row with their order history.

    Totals accumulate in integer cents (the fixture's doubles carry
    2-decimal semantics), so the sum is associative and deterministic on
    any engine; max is order-independent by nature.
    """
    (custkey,) = key
    acctbal = float(cust["c_acctbal"].iloc[0]) if len(cust) else None
    n = len(orders)
    if n:
        cents = sum(int(round(float(p) * 100)) for p in orders["o_totalprice"])
        mx = float(orders["o_totalprice"].max())
    else:
        cents, mx = 0, None
    return pd.DataFrame(
        [
            {
                "custkey": custkey,
                "acctbal": acctbal,
                "n_orders": n,
                "cents_total": cents,
                "max_price": mx,
            }
        ]
    )


@query(
    "q157_cogroup_reconcile",
    oracle="""
WITH agg AS (
  SELECT o_custkey,
         count(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total,
         max(o_totalprice) AS max_price
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey AS custkey,
       c.c_acctbal AS acctbal,
       coalesce(agg.n_orders, 0) AS n_orders,
       coalesce(agg.cents_total, 0) AS cents_total,
       agg.max_price AS max_price
FROM customer c LEFT JOIN agg ON agg.o_custkey = c.c_custkey
ORDER BY custkey
""",
)
def q157_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer↔orders reconciliation through the cogrouped-map exchange.
    Every fixture order references an existing customer, so cogroup's
    key-union equals the customer key set and the oracle is a LEFT JOIN
    against the grouped order roll-up. Value-hashing the result proves the
    two-sided Arrow transport (group alignment, empty-side frames, schema
    projection) end-to-end — not just that it runs."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    out = (
        cust.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(_reconcile, COGROUP_SCHEMA)
    )
    # persist before the global sort: the range-partitioner's sample pass
    # otherwise pushes a second full two-sided Arrow exchange through the
    # cogrouped pandas UDF
    return out.persist().orderBy("custkey")


# ---------------------------------------------------------------------------
# q336 — per-customer exact Wasserstein-1 drift via cogrouped applyInArrow
# (round 15).
# ---------------------------------------------------------------------------
#: one constant drives BOTH engines (oracle interpolation + Spark filter)
_W1_SPLIT_TS = "1995-06-17 00:00:00"  # ~median of the order span
_W1_SPLIT = f"TIMESTAMP '{_W1_SPLIT_TS}'"


def _w1_cogroup(left, right):
    """One customer's early-period and late-period order values as two
    pyarrow.Tables -> the exact integer-scaled Wasserstein-1 distance.

    W1 between two empirical distributions is the area between their
    CDFs: sum over merged distinct values x_i of
    |F_a(x_i) - F_b(x_i)| * (x_{i+1} - x_i). Scaling by n_a*n_b turns
    every term into integers (cum_a*n_b - cum_b*n_a), so the statistic
    is exact on both engines; the true W1 is w1_num / (n_a*n_b) cents.
    Keys present on only one side carry no defined distance -> empty
    output (the oracle's inner join on both count relations mirrors it)."""
    import numpy as np
    import pyarrow as pa

    def cents(t):
        v = t.column("o_totalprice").to_numpy(zero_copy_only=False)
        return np.sort(np.floor(v * 100.0 + 0.5).astype(np.int64))

    a, b = cents(left), cents(right)
    out_schema = pa.schema(
        [
            ("custkey", pa.int64()),
            ("n_a", pa.int64()),
            ("n_b", pa.int64()),
            ("w1_num", pa.int64()),
        ]
    )
    if len(a) == 0 or len(b) == 0:
        return pa.Table.from_arrays([pa.array([], t) for t in
                                     [pa.int64()] * 4], schema=out_schema)
    k = left.column("o_custkey")[0].as_py()  # left is non-empty here
    xs = np.union1d(a, b)  # sorted distinct merged values
    # int64 headroom, in PYTHON ints before the int64 fold can wrap:
    # every term |ca*n_b - cb*n_a|*dx is <= n_a*n_b*dx, so the whole sum
    # is <= n_a*n_b*(max-min). A group too hot for int64 raises loudly —
    # mirroring the oracle, whose HUGEINT sum errors on its BIGINT cast.
    if int(len(a)) * int(len(b)) * int(xs[-1] - xs[0]) >= 2**63:
        raise ValueError("q336: int64 headroom exceeded for this key")
    ca = np.searchsorted(a, xs, side="right")  # #a <= x, right-continuous
    cb = np.searchsorted(b, xs, side="right")
    dx = np.diff(xs)
    w1 = int(np.abs(ca[:-1] * len(b) - cb[:-1] * len(a)) @ dx)
    return pa.Table.from_arrays(
        [
            pa.array([int(k)], pa.int64()),
            pa.array([len(a)], pa.int64()),
            pa.array([len(b)], pa.int64()),
            pa.array([w1], pa.int64()),
        ],
        schema=out_schema,
    )


@query(
    "q336_wasserstein_drift",
    oracle=f"""
WITH a AS (
  SELECT o_custkey AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < {_W1_SPLIT}
),
b AS (
  SELECT o_custkey AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= {_W1_SPLIT}
),
na AS (SELECT k, CAST(count(*) AS BIGINT) AS n_a FROM a GROUP BY k),
nb AS (SELECT k, CAST(count(*) AS BIGINT) AS n_b FROM b GROUP BY k),
m AS (
  SELECT k, v,
         CAST(count(*) FILTER (WHERE side = 'a') AS BIGINT) AS da,
         CAST(count(*) FILTER (WHERE side = 'b') AS BIGINT) AS db
  FROM (SELECT k, v, 'a' AS side FROM a
        UNION ALL SELECT k, v, 'b' FROM b)
  GROUP BY k, v
),
c AS (
  SELECT k, v,
         sum(da) OVER (PARTITION BY k ORDER BY v) AS ca,
         sum(db) OVER (PARTITION BY k ORDER BY v) AS cb,
         lead(v) OVER (PARTITION BY k ORDER BY v) AS nx
  FROM m
)
SELECT c.k AS custkey, na.n_a, nb.n_b,
       CAST(sum(CASE WHEN nx IS NULL THEN 0
                     ELSE abs(ca * nb.n_b - cb * na.n_a) * (nx - v) END)
            AS BIGINT) AS w1_num
FROM c JOIN na ON na.k = c.k JOIN nb ON nb.k = c.k
GROUP BY c.k, na.n_a, nb.n_b
ORDER BY custkey
""",
)
def q336_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer EXACT Wasserstein-1 (earth-mover) distance between the
    early-period and late-period order-value distributions — the per-key
    sibling the drift shelf lacked (a two-sample KS is one GLOBAL statistic;
    q240/q286 are categorical/quantile mixes). W1 is the curation-grade
    drift statistic: unlike KS's sup-norm it weighs HOW FAR mass moved,
    which is what decides whether a source's distribution shift matters
    for mixing weights. Integer-exact: values in cents, the CDF-area sum
    scaled by n_a*n_b so every term is |cum_a*n_b - cum_b*n_a| * dx in
    BIGINT; true W1 = w1_num/(n_a*n_b) cents, left rational on purpose.

    ENGINE SURFACE (new in round 15): cogrouped ``applyInArrow`` — the
    two-sided grouped Arrow exchange (q334 maps, q335 groups one input;
    this is the Arrow cogroup, previously exercised only through pandas
    in q157). Each key's rows from BOTH relations arrive as two
    pyarrow.Tables in one task; numpy's union1d/searchsorted do the
    merged-ECDF fold. Keys with either side empty are dropped on both
    engines (no defined distance).

    Scale: a cogroup is two co-partitioned shuffles on the key (the
    topology of a shuffle join); per-task state is one customer's orders.
    At 100 TB the same fold runs per SOURCE rather than per customer —
    thousands of groups of millions of rows — and the integer CDF-area
    form keeps it a single sort + linear pass per group."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    from pyspark.sql import functions as F

    split = F.to_timestamp(F.lit(_W1_SPLIT_TS))
    early = orders.filter(F.col("o_orderdate") < split)
    late = orders.filter(F.col("o_orderdate") >= split)
    out = (
        early.groupBy("o_custkey")
        .cogroup(late.groupBy("o_custkey"))
        .applyInArrow(
            _w1_cogroup,
            "custkey bigint, n_a bigint, n_b bigint, w1_num bigint",
        )
        # SPARK HAZARD (round-15 catch): column pruning pushes THROUGH
        # FlatMapCoGroupsInArrow — a consumer that reads none of the
        # output columns (df.count()) prunes the child relations down to
        # the grouping key, and the UDF dies on the missing
        # o_totalprice field (the pandas cogroup node, q157, is not
        # pruned this way). The persist materializes the full output
        # schema once, so every consumption shape works; 4 BIGINTs per
        # surviving key, trivially cacheable at any scale.
        .persist()
    )
    return out.orderBy("custkey")
