from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_sample_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    yield get_spark("tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="module")
def duck(oracle_sf_dir):
    """Per-module DuckDB connection with the fixture tables as views —
    shared by every oracle-comparison test module."""
    from tests.oracle_harness import duck_connection

    con = duck_connection(oracle_sf_dir)
    yield con
    con.close()


def _jvm_warmup(spark, sf_dir):
    """Absorb one-time JVM costs (codegen JIT, executor thread spin-up,
    whole-stage compilation of the scan/join/window paths) BEFORE any
    budget timer starts. Without this the alphabetically-first queries
    (q01, q03, q05...) pay ~4-6 s of warmup that has nothing to do with
    their plans, which is exactly the slack the 10 s floor existed to
    hide — warming up here is what let round 13 cut the floor to 6 s."""
    from kinesis_sample_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ord_ = load_table(spark, sf_dir, "orders")
    (
        li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        .groupBy("l_returnflag")
        .count()
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    (
        li.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("l_returnflag").orderBy("l_extendedprice")
            ),
        )
        .filter(F.col("rn") <= 3)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


@pytest.fixture(scope="session")
def registry_check(spark, oracle_sf_dir):
    """``registry_check(name)`` -> the ``Checked`` record of the query's one
    run at sf0.01. test_latency_budget and test_oracle_parity gate the
    same execution: whichever reaches a query first runs it, the other
    reads the record. A query that raised raises again for each reader."""
    from kinesis_sample_spark.queries import load_registry
    from tests.oracle_harness import check_query, duck_connection

    _jvm_warmup(spark, oracle_sf_dir)
    registry = load_registry()
    con = duck_connection(oracle_sf_dir)
    done: dict = {}

    def get(name):
        if name not in done:
            try:
                done[name] = check_query(registry[name], spark, oracle_sf_dir, con)
            except Exception as exc:  # noqa: BLE001 — re-raised to every reader
                done[name] = exc
        if isinstance(done[name], Exception):
            raise done[name]
        return done[name]

    yield get
    con.close()
