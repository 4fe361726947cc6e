"""``plans.inspect.operator_set`` on recorded ``explain("formatted")`` text.

No Spark session: the plan below is an executed AQE plan of this engine,
trimmed to a few nodes per section, with its detail section kept in the
shape Spark prints it.
"""

from __future__ import annotations

from kinesis_sample_spark.plans.inspect import operator_set

AQE_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (30)
+- == Final Plan ==
   ResultQueryStage (19)
   +- TakeOrderedAndProject (18)
      +- * HashAggregate (17)
         +- AQEShuffleRead (16)
            +- ShuffleQueryStage (15), Statistics(sizeInBytes=88.8 KiB, rowCount=1.24E+3)
               +- Exchange (14)
                  +- * HashAggregate (13)
                     +- * BroadcastHashJoin Inner BuildRight (12)
                        :- * Filter (3)
                        :  +- * ColumnarToRow (2)
                        :     +- Scan parquet  (1)
                        +- BroadcastQueryStage (11), Statistics(sizeInBytes=2.1 MiB, rowCount=3.17E+4)
                           +- BroadcastExchange (10)
                              +- InMemoryTableScan (8) (columnarIn=false, columnarOut=true)
                                    +- InMemoryRelation (9)
                                          +- Scan parquet  (4)
+- == Initial Plan ==
   TakeOrderedAndProject (29)
   +- HashAggregate (28)
      +- Exchange (27)
         +- HashAggregate (26)
            +- SortMergeJoin Inner (25)
               :- Sort (22)
               :  +- Filter (21)
               :     +- Scan parquet  (1)
               +- Sort (24)
                  +- InMemoryTableScan (23) (columnarIn=false, columnarOut=true)


(1) Scan parquet
Output [2]: [c_custkey#0L, c_mktsegment#4]
Batched: true
Location: InMemoryFileIndex [file:/data/sf0.01/customer.parquet]
PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]
ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>

(2) ColumnarToRow [codegen id : 1]
Input [2]: [c_custkey#0L, c_mktsegment#4]

(12) BroadcastHashJoin [codegen id : 3]
Left keys [1]: [c_custkey#0L]
Right keys [1]: [o_custkey#7L]
Join type: Inner
Join condition: None

(30) AdaptiveSparkPlan
Output [2]: [c_custkey#0L, revenue#40]
Arguments: isFinalPlan=true

===== Subqueries =====

Subquery:1 Hosting operator id = 3 Hosting Expression = Subquery subquery#54, [id=#212]
AdaptiveSparkPlan (36)
+- == Final Plan ==
   ResultQueryStage (33)
   +- ShuffleQueryStage (32), Statistics(sizeInBytes=16.0 B, rowCount=1)
      +- ReusedExchange (31)
+- == Initial Plan ==
   HashAggregate (35)
   +- LocalTableScan (34)


(31) ReusedExchange [Reuses operator id: 14]
Output [1]: [prev#55]

(34) LocalTableScan
Output [1]: [prev#55]
Arguments: [prev#55]
"""

FINAL = {
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "TakeOrderedAndProject",
    "HashAggregate",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "Exchange",
    "BroadcastHashJoin Inner",
    "Filter",
    "ColumnarToRow",
    "Scan parquet",
    "BroadcastQueryStage",
    "BroadcastExchange",
    "InMemoryTableScan",
    "InMemoryRelation",
}
INITIAL_ONLY = {"SortMergeJoin Inner", "Sort"}
SUBQUERY_ONLY = {"ReusedExchange", "LocalTableScan"}


def test_operator_set_reads_final_initial_and_subquery_trees():
    assert operator_set(AQE_PLAN) == FINAL | INITIAL_ONLY | SUBQUERY_ONLY


def test_operator_set_normalizes_node_lines():
    ops = operator_set(AQE_PLAN)
    # "Scan parquet  (1)": two spaces before the id, one name
    assert "Scan parquet" in ops and not any(o.endswith(" ") for o in ops)
    # the "* " codegen mark and the ":-"/"+-" rails are not part of a name
    assert not any(o.startswith(("*", ":", "+", "-")) for o in ops)
    # suffixes after the id (Statistics, columnarIn) are dropped
    assert not any("Statistics" in o or "columnar" in o for o in ops)


def test_operator_set_ignores_the_detail_section():
    tree, _, _ = AQE_PLAN.partition("\n\n\n(1) Scan parquet")
    assert operator_set(tree) == FINAL | INITIAL_ONLY
    detail_only = AQE_PLAN[AQE_PLAN.index("(1) Scan parquet") : AQE_PLAN.index("===== Subqueries")]
    assert operator_set(detail_only) == frozenset()
    # a tree line that follows a blank line is detail text, not tree
    assert operator_set("== Physical Plan ==\nFilter (2)\n\n   +- Window (7)\n") == {"Filter"}


def test_operator_set_keeps_join_type_and_drops_run_specific_text():
    # AQE's build side, expression ids and checkpoint paths change from
    # one run of a query to the next, and a scan's table names no operator;
    # the join type stays
    plan = (
        "== Physical Plan ==\n"
        "* BroadcastHashJoin ExistenceJoin(exists#10271) BuildRight (6)\n"
        ":- * BroadcastHashJoin LeftSemi BuildLeft (4)\n"
        ":  :- Scan parquet spark_catalog.default.q345_orders (1)\n"
        ":  +- BroadcastExchange (3)\n"
        ":     +- Scan csv  (2)\n"
        "+- BatchScan StateTable [stateCkptLocation=file:/tmp/ck/state][batchId=4] (5)\n"
    )
    assert operator_set(plan) == {
        "BroadcastHashJoin ExistenceJoin(exists)",
        "BroadcastHashJoin LeftSemi",
        "Scan parquet",
        "BroadcastExchange",
        "Scan csv",
        "BatchScan StateTable",
    }
