"""Bucketed co-located join: a join over two tables that ``write_bucketed``
laid out on the same key must plan without a shuffle exchange (the 100 TB
fact⋈fact strategy)."""

from __future__ import annotations

import pytest

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.plans.inspect import exchange_count, formatted_plan
from kinesis_sample_spark.sources.bucketed import write_bucketed

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # warehouse dir is tmp-based via session.py (static conf)
    orders = load_table(spark, SF, "orders").withColumnRenamed("o_orderkey", "orderkey")
    li = load_table(spark, SF, "lineitem").withColumnRenamed("l_orderkey", "orderkey")
    write_bucketed(orders, "b_orders", "orderkey", 8)
    write_bucketed(li, "b_lineitem", "orderkey", 8)
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """With broadcast off (at real scale neither fact side broadcasts),
    the bucketed join must be a shuffle-free sort-merge join."""
    lt, rt = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(lt).join(spark.table(rt), "orderkey")
        plan = formatted_plan(joined)
        assert exchange_count(joined) == 0, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    lt, rt = bucketed_tables
    plain = (
        load_table(spark, SF, "orders")
        .withColumnRenamed("o_orderkey", "orderkey")
        .join(
            load_table(spark, SF, "lineitem").withColumnRenamed("l_orderkey", "orderkey"),
            "orderkey",
        )
    )
    assert spark.table(lt).join(spark.table(rt), "orderkey").count() == plain.count()