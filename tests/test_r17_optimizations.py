"""Guards for the round-17 optimization changes.

Same contract as tests/test_r16_optimizations.py: each test pins the
STRUCTURAL property an optimization bought (plan shape, persist
lifecycle, config posture) so regressions fail loudly; value
correctness is separately gated by the oracle parity suite.
"""

from __future__ import annotations

import os

from kinesis_sample_spark.plans.inspect import formatted_plan
from kinesis_sample_spark.queries import load_registry

REGISTRY = load_registry()
SF = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def test_q341_bisects_over_histogram(spark, monkeypatch):
    """The scripted threshold counts must aggregate the persisted GROUP BY
    cents histogram, not the raw fact: the registered view's plan is one
    orders scan feeding an aggregate, and the script still returns the
    exact order statistic. The view is captured as it is registered,
    because the query drops it before returning."""
    views = {}
    frame_cls = type(spark.range(1))
    register = frame_cls.createOrReplaceTempView

    def capture(self, name):
        views[name] = self
        return register(self, name)

    monkeypatch.setattr(frame_cls, "createOrReplaceTempView", capture)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    df = REGISTRY["q341_scripting_bisection_quantile"].fn(spark, SF)
    assert df.count() == 1
    assert not spark.catalog.tableExists("q341_cents_hist"), "q341 leaked its view"
    hist_plan = formatted_plan(views["q341_cents_hist"])
    assert hist_plan.count("orders.parquet") == 1, hist_plan.count("orders.parquet")
    assert "Aggregate" in hist_plan or "HashAggregate" in hist_plan
    # the r16 leak-free contract still holds on the histogram persist
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert not (after - before), f"q341 leaked RDD ids {sorted(after - before)}"


def test_q341_histogram_matches_direct_quantile(spark):
    """Belt and braces on the rewrite's algebra: the scripted bisection
    over the histogram returns the same (p90, rank, n) as the direct
    ORDER BY / OFFSET order statistic computed on the raw projection."""
    row = REGISTRY["q341_scripting_bisection_quantile"].fn(spark, SF).collect()[0]
    from kinesis_sample_spark.catalog import load_table

    import math

    cents = sorted(
        r[0]
        for r in load_table(spark, SF, "orders")
        .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT) AS c")
        .collect()
    )
    n = len(cents)
    target = math.ceil(0.9 * n)
    assert row.n_rows == n
    assert row.target_rank == target
    assert row.p90_cents == cents[target - 1]


def test_bare_session_shuffle_retune_fires(spark):
    """Round-16 ADVICE: conf.get(key, default) bypasses the registered
    static default, so the bare-session retune in ensure_session_confs
    never fired. Reproduce the bare state with unset() (the conf falls
    back to Spark's static 200) and assert the retune now lands."""
    from kinesis_sample_spark.catalog import ensure_session_confs

    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    try:
        spark.conf.unset(key)  # effective value: the static default, 200
        assert spark.conf.get(key) == "200"
        ensure_session_confs(spark)
        assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(key, original)


def test_explicit_shuffle_partitions_200_survives(spark):
    """Only an unset key is retuned: a session that set
    spark.sql.shuffle.partitions=200 on purpose keeps it, although the
    value equals Spark's static default."""
    from kinesis_sample_spark.catalog import ensure_session_confs

    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        ensure_session_confs(spark)
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, original)


def test_q255_empty_events_raises_cleanly(spark, tmp_path):
    """An empty transition matrix must fail with the descriptive guard,
    not a VALUES-literal parse error (round-16 ADVICE)."""
    import pytest

    from kinesis_sample_spark.catalog import load_table

    empty = load_table(spark, SF_SMOKE, "events").limit(0)
    empty.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(RuntimeError, match="zero transition rows"):
        REGISTRY["q255_markov_stationary"].fn(spark, str(tmp_path))


def test_q255_values_literal_escapes_backslash(spark, tmp_path):
    """The VALUES-literal builder must survive backslashes and quotes:
    Spark string literals treat backslash as an escape character
    (escapedStringLiterals=false), so an un-doubled one would silently
    change the embedded state name (round-16 ADVICE). Full parity run on
    a synthetic events fixture whose event types contain both."""
    import datetime

    from tests.oracle_harness import value_hash

    import duckdb

    types = ["back\\slash", "qu'ote", "pla\\in'mix"]
    rows = []
    ts0 = datetime.datetime(2024, 1, 1)
    eid = 0
    for user in range(3):
        for k in range(12):  # a 3-state chain per user
            rows.append(
                (
                    eid,
                    user,
                    ts0 + datetime.timedelta(minutes=eid),
                    types[(user + k) % 3],
                )
            )
            eid += 1
    spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = REGISTRY["q255_markov_stationary"].fn(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}/*.parquet'"
    )
    want = con.execute(REGISTRY["q255_markov_stationary"].oracle).fetchall()
    cols = ["state", "stationary_prob"]
    assert value_hash([tuple(r) for r in got], cols) == value_hash(want, cols)
    assert any("\\" in r.state for r in got)  # the hazard was exercised


def test_reliable_checkpoint_path(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT=1 switches the iterative operators
    to reliable checkpoint(): same answer, and the checkpoint directory
    actually receives RDD material (i.e. the switch is not a no-op)."""
    from pyspark.sql import functions as F

    from kinesis_sample_spark.operators.components import connected_components

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["s", "d"]
    )
    out = {
        (r.node, r.component)
        for r in connected_components(edges, "s", "d").collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    written = [p for p, _, files in os.walk(ckpt) if files for p in [p]]
    assert written, "reliable checkpoint wrote nothing to the checkpoint dir"
