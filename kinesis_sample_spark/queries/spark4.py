"""Spark 4 SQL-surface addition: pipe syntax.

SQL pipe syntax (q170), which the Spark 4 line added to the engine's
declarative surface: the |> operator-chain spelling compiles to the same
logical plan as the classical query, which the identical-result hash
proves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_sample_spark.catalog import register_views
from kinesis_sample_spark.queries import query


# ---------------------------------------------------------------------------
# q170 — SQL pipe syntax (|>) compiling to the classical plan.
# ---------------------------------------------------------------------------
_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
|> AGGREGATE count(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
   GROUP BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus, n_rows, sum_qty
|> ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q170_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q170_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipe-operator spelling of a Q1-shape aggregation. Pipe syntax
    is sugar over the same Catalyst plan — filters still push down,
    aggregates still split partial/final — which the value hash against
    the classical oracle demonstrates. Exact-decimal quantity sums keep
    the float-order determinism contract of functions/numeric.py."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_PIPE_SQL)


# ---------------------------------------------------------------------------
# q174 — SQL sugar: GROUP BY ALL / ORDER BY ALL / SELECT * EXCEPT.
# ---------------------------------------------------------------------------
#: one template, one differing token: Spark spells column exclusion
#: `* EXCEPT (c)`, DuckDB `* EXCLUDE (c)` — same semantics.
_SUGAR_TEMPLATE = """
SELECT * {EXCLUDE} (max_price)
FROM (
  SELECT o_orderstatus, o_orderpriority,
         count(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
         max(o_totalprice) AS max_price
  FROM orders
  GROUP BY ALL
)
ORDER BY ALL
"""
_SUGAR_SQL = _SUGAR_TEMPLATE.format(EXCLUDE="EXCEPT")


@query("q174_sql_sugar", oracle=_SUGAR_TEMPLATE.format(EXCLUDE="EXCLUDE"))
def q174_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyst-ergonomics sugar shared by both engines, one text: GROUP BY
    ALL (group on every non-aggregate select item), ORDER BY ALL (sort by
    every output column left-to-right), SELECT * EXCEPT — DuckDB's
    EXCLUDE — (project away a
    column post-aggregation — the column-pruning rule then drops its
    computation where possible). Sugar desugars in the analyzer; this
    gates that both engines desugar to the same query."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_SUGAR_SQL)
