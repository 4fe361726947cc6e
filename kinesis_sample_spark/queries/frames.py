"""Window-frame gallery.

One surface-completeness query: q155 exercises every window function and
frame clause not already load-bearing elsewhere in the registry
(nth_value, percent_rank, cume_dist, ntile, lead-with-default, lag offset,
IGNORE NULLS first_value, a CURRENT ROW → UNBOUNDED FOLLOWING frame). It
is map-only plus one window exchange — nothing here shuffles more than
the window partitioning itself, at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.queries import query

# ---------------------------------------------------------------------------
# q155 — window-function frame gallery over orders.
# ---------------------------------------------------------------------------


@query(
    "q155_window_frame_gallery",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS closed_price
  FROM orders
)
SELECT o_custkey, o_orderkey,
       lead(o_totalprice, 1, -1.0) OVER w AS next_price,
       lag(o_totalprice, 2) OVER w AS prev2_price,
       nth_value(o_totalprice, 2) OVER w AS second_price,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       ntile(4) OVER w AS quartile,
       first_value(closed_price IGNORE NULLS) OVER w AS first_closed,
       last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         AS final_price
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
)
def q155_window_frame_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions that no other registry query gates: offset
    functions with explicit defaults, nth_value (default frame: RANGE
    UNBOUNDED PRECEDING → CURRENT ROW, identical in DuckDB; o_orderkey is
    unique so RANGE ≡ ROWS), the rank-family ratios percent_rank /
    cume_dist (exact rationals of identical integers), ntile buckets, an
    IGNORE NULLS first_value, and a forward-looking frame. One exchange on
    o_custkey serves every function — Catalyst collapses all nine into a
    single Window operator over one sort."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_totalprice"))
        .alias("closed_price"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    w_range = w.rangeBetween(W.unboundedPreceding, W.currentRow)
    w_fwd = w.rowsBetween(W.currentRow, W.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_totalprice", 1, -1.0).over(w).alias("next_price"),
            F.lag("o_totalprice", 2).over(w).alias("prev2_price"),
            F.nth_value("o_totalprice", 2).over(w_range).alias("second_price"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
            F.first("closed_price", ignorenulls=True).over(w_range).alias(
                "first_closed"
            ),
            F.last("o_totalprice").over(w_fwd).alias("final_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )
