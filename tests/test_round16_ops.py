"""Round-16 additions (q337-q344): SQL programmability surfaces and the
Arrow-optimized Python UDF/UDTF transports — plan guards pinning the
compilation path each query exists to exercise, plus third
implementations independent of the shared Spark/DuckDB formulations."""

from __future__ import annotations

import pandas as pd

from kinesis_sample_spark.plans import formatted_plan
from kinesis_sample_spark.queries import load_registry

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return load_registry()[name].fn(spark, SF)


# ---------------------------------------------------------------------------
# q337 — the SQL UDF must be INLINED: no Python eval node, body visible
# in the plan, aggregation still partial+final codegen.
# ---------------------------------------------------------------------------
def test_q337_sql_udf_is_inlined_not_python(spark):
    df = _run(spark, "q337_sql_udf_pricing_bands")
    plan = formatted_plan(df)
    assert "Python" not in plan, "SQL UDF fell off the inline path"
    assert "round(" in plan, "UDF body not visible in the plan (not inlined?)"
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q337_matches_pandas_recompute(spark):
    rows = {
        (r.band, r.o_orderpriority): (r.n_orders, r.cents)
        for r in _run(spark, "q337_sql_udf_pricing_bands").collect()
    }
    o = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    band = pd.cut(
        cents,
        [-1, 9_999_999, 29_999_999, 10**18],
        labels=["small", "mid", "large"],
    ).astype(str)
    grp = (
        pd.DataFrame(
            {"band": band, "pri": o["o_orderpriority"], "cents": cents}
        )
        .groupby(["band", "pri"], observed=True)
        .agg(n=("cents", "size"), c=("cents", "sum"))
    )
    assert len(rows) == len(grp)
    for (b, p), g in grp.iterrows():
        assert rows[(b, p)] == (g["n"], g["c"])


# ---------------------------------------------------------------------------
# q338 — the ragged-year spine: four months exist ONLY via the TVF.
# ---------------------------------------------------------------------------
def test_q338_spine_fills_empty_months(spark):
    rows = _run(spark, "q338_sql_tvf_month_spine").collect()
    assert len(rows) == 12, "TVF spine must emit all 12 months"
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o = o[(o["o_orderdate"] >= "2001-01-01") & (o["o_orderdate"] < "2002-01-01")]
    by_month = o.groupby(o["o_orderdate"].dt.to_period("M")).size()
    empty = [r for r in rows if r.n_orders == 0]
    assert len(empty) == 12 - len(by_month)
    assert len(empty) > 0, (
        "fixture drift: 2001 has no empty months — the LEFT JOIN gap-fill "
        "is no longer exercised; move the spine year"
    )
    for r in empty:
        assert r.cents == 0


# ---------------------------------------------------------------------------
# q339 — the session-variable literal must reach the parquet scan.
# ---------------------------------------------------------------------------
def test_q339_threshold_is_pushed_to_scan(spark):
    from kinesis_sample_spark.plans import pushed_filters

    df = _run(spark, "q339_session_variable_threshold")
    pushed = pushed_filters(df)
    assert any(p.startswith("GreaterThan(o_totalprice") for p in pushed), (
        f"session-variable threshold not pushed to the scan: {pushed} — "
        "the two-phase literal-binding pattern lost its point"
    )


def test_q339_cut_is_the_mean_of_cents(spark):
    rows = _run(spark, "q339_session_variable_threshold").collect()
    o = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    import math

    cut_cents = math.floor(cents.sum() / len(cents))
    cut = cut_cents / 100.0
    assert all(r.cut_dollars == cut for r in rows)
    above = o[o["o_totalprice"] > cut]
    assert sum(r.n_above for r in rows) == len(above)


# ---------------------------------------------------------------------------
# q340 — the three binding paths agree (exercised in-query); a broken
# binding must raise, not silently return the named-path result.
# ---------------------------------------------------------------------------
def test_q340_binding_divergence_raises(spark, monkeypatch):
    import kinesis_sample_spark.queries.sqlprog as mod

    orig = spark.sql
    calls = {"n": 0}

    def tampered(text, *a, **kw):
        calls["n"] += 1
        if isinstance(text, str) and text.lstrip().startswith("SELECT") and "?" in text:
            # corrupt the positional-binding text: a real coercion bug
            # would change values; simulate by scaling the bound cut 20%
            text = text.replace("o_totalprice > ?", "o_totalprice > ? * 1.2")
        return orig(text, *a, **kw)

    monkeypatch.setattr(spark, "sql", tampered)
    try:
        import pytest

        with pytest.raises(RuntimeError, match="binding diverged"):
            mod.q340_parameterized_binding(spark, SF)
    finally:
        monkeypatch.undo()
    assert calls["n"] > 0


def test_q340_matches_pandas_recompute(spark):
    rows = {
        r.o_orderstatus: (r.n, r.cents)
        for r in _run(spark, "q340_parameterized_binding").collect()
    }
    import kinesis_sample_spark.queries.sqlprog as mod

    o = pd.read_parquet(f"{SF}/orders.parquet")
    f = o[(o["o_totalprice"] > mod._Q340_CUT) & (o["o_orderdate"] >= mod._Q340_SINCE)]
    cents = (f["o_totalprice"] * 100).round().astype("int64")
    grp = pd.DataFrame({"s": f["o_orderstatus"], "c": cents}).groupby("s")["c"]
    assert rows == {s: (int(g.size), int(g.sum())) for s, g in grp}


# ---------------------------------------------------------------------------
# q341 — the scripting bisection lands on the exact order statistic.
# ---------------------------------------------------------------------------
def test_q341_bisection_equals_sorted_order_statistic(spark):
    import math

    row = _run(spark, "q341_scripting_bisection_quantile").collect()[0]
    o = pd.read_parquet(f"{SF}/orders.parquet")
    cents = sorted((o["o_totalprice"] * 100).round().astype("int64"))
    target = math.ceil(0.9 * len(cents))
    assert row.n_rows == len(cents)
    assert row.target_rank == target
    # minimal T with count(<= T) >= target == the target-th smallest
    assert row.p90_cents == cents[target - 1]
    # and it IS minimal: one less fails the rank condition
    assert sum(1 for c in cents if c <= row.p90_cents - 1) < target


# ---------------------------------------------------------------------------
# q342/q343 — the Arrow transport is the thing under test: the plan must
# carry the Arrow eval node, not the pickled fallback.
# ---------------------------------------------------------------------------
def test_q342_plan_uses_arrow_eval(spark):
    plan = formatted_plan(_run(spark, "q342_arrow_udf_digit_census"))
    assert "ArrowEvalPython" in plan, (
        "useArrow=True degraded to the pickled row path — 10-100x "
        "serialization regression"
    )
    assert "BatchEvalPython" not in plan


def test_q342_matches_python_recompute(spark):
    rows = {
        r.digit_sum: (r.n_orders, r.cents)
        for r in _run(spark, "q342_arrow_udf_digit_census").collect()
    }
    o = pd.read_parquet(f"{SF}/orders.parquet")
    expect: dict[int, list[int]] = {}
    for k, p in zip(o["o_orderkey"], o["o_totalprice"]):
        ds = sum(int(d) for d in str(int(k))) if k > 0 else 0
        e = expect.setdefault(ds, [0, 0])
        e[0] += 1
        e[1] += int(round(p * 100))
    assert rows == {k: tuple(v) for k, v in expect.items()}


def test_q343_plan_uses_arrow_udtf(spark):
    plan = formatted_plan(_run(spark, "q343_arrow_udtf_bit_census"))
    assert "ArrowEvalPythonUDTF" in plan, (
        "useArrow=True UDTF degraded to the pickled generator path"
    )


def test_q343_matches_popcount_recompute(spark):
    rows = {r.bit: r.n_set for r in _run(spark, "q343_arrow_udtf_bit_census").collect()}
    o = pd.read_parquet(f"{SF}/orders.parquet")
    expect: dict[int, int] = {}
    for p in o["o_totalprice"]:
        c = int(round(p * 100))
        b = 0
        while c:
            if c & 1:
                expect[b] = expect.get(b, 0) + 1
            c >>= 1
            b += 1
    assert rows == expect


# ---------------------------------------------------------------------------
# q344 — collated grouping: sort-based aggregate pinned; case variants
# genuinely merge (the fixture must keep exercising the collation).
# ---------------------------------------------------------------------------
def test_q344_plan_is_sort_aggregate(spark):
    plan = formatted_plan(_run(spark, "q344_collated_grouping"))
    assert "SortAggregate" in plan, "collated group-by strategy changed"
    assert "HashAggregate" not in plan


def test_q344_merges_case_variants(spark):
    rows = _run(spark, "q344_collated_grouping").collect()
    assert all(r.key == r.key.lower() for r in rows)
    # the mod-3 casing means every key present in >= 3 parts shows
    # multiple binary-distinct spellings collapsing into one group
    assert any(r.case_variants >= 2 for r in rows), (
        "no case variants merged — collation not exercised by fixture"
    )
    o = pd.read_parquet(f"{SF}/part.parquet")
    types = o["p_type"].str.lower()
    expect = types.groupby(types).size()
    assert {r.key: r.n for r in rows} == expect.to_dict()


# ---------------------------------------------------------------------------
# q345/q346 — the physical-layout promotions: the plan property is the
# point, so pin it from the outside too (the in-query guard covers q345;
# these catch a guard that rots).
# ---------------------------------------------------------------------------
def test_q345_join_subtree_is_shuffle_free(spark):
    from kinesis_sample_spark.plans import exchange_count
    from kinesis_sample_spark.sources.bucketed import write_bucketed

    orders = (
        pd.read_parquet(f"{SF}/orders.parquet")
        .rename(columns={"o_orderkey": "orderkey"})
    )
    # independent of the query path: same machinery, tiny frames
    df_o = spark.createDataFrame(orders[["orderkey", "o_orderpriority"]])
    df_l = spark.createDataFrame(
        pd.read_parquet(f"{SF}/lineitem.parquet")
        .rename(columns={"l_orderkey": "orderkey"})[["orderkey", "l_extendedprice"]]
    )
    write_bucketed(df_o, "t345_o", "orderkey", 4)
    write_bucketed(df_l, "t345_l", "orderkey", 4)
    try:
        j = spark.table("t345_o").hint("merge").join(spark.table("t345_l"), "orderkey")
        plan = formatted_plan(j)
        assert exchange_count(j) == 0, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t345_o")
        spark.sql("DROP TABLE IF EXISTS t345_l")


def test_q345_raises_on_bucket_mismatch(spark):
    """The in-query exchange guard must FIRE when co-location is broken —
    mismatched bucket counts force a shuffle, which is exactly the
    regression the guard exists to catch."""
    import pytest

    from kinesis_sample_spark.plans import exchange_count
    from kinesis_sample_spark.sources.bucketed import write_bucketed

    df = spark.range(100).withColumnRenamed("id", "orderkey")
    write_bucketed(df, "t345_a", "orderkey", 4)
    write_bucketed(df, "t345_b", "orderkey", 3)  # mismatch -> shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t345_a").hint("merge").join(spark.table("t345_b"), "orderkey")
        assert exchange_count(j) > 0  # the condition q345 turns into a raise
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t345_a")
        spark.sql("DROP TABLE IF EXISTS t345_b")


def test_q345_matches_pandas_recompute(spark):
    rows = {
        r.o_orderpriority: (r.n_items, r.cents)
        for r in _run(spark, "q345_bucketed_join_audit").collect()
    }
    o = pd.read_parquet(f"{SF}/orders.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    cents = (m["l_extendedprice"] * 100).round().astype("int64")
    grp = pd.DataFrame({"p": m["o_orderpriority"], "c": cents}).groupby("p")["c"]
    assert rows == {p: (int(g.size), int(g.sum())) for p, g in grp}


def test_q346_salt_is_in_the_join_key(spark):
    import kinesis_sample_spark.queries.physical as mod
    from kinesis_sample_spark.catalog import load_table
    from kinesis_sample_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    li = load_table(spark, SF, "lineitem")
    left = li.select(
        F.expr(mod._Q346_KEY_SQL).alias("k"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    dim = left.select("k").distinct().select("k", (F.col("k") * 2 + 1).alias("w"))
    j = salted_join(left, dim.hint("merge"), "k", salt_buckets=4)
    plan = formatted_plan(j)
    assert "__salt" in plan, "salt column vanished from the join"
    assert "SortMergeJoin" in plan, plan


def test_q346_skew_is_real_and_result_exact(spark):
    rows = {r.k: (r.n_rows, r.weighted_cents) for r in _run(spark, "q346_salted_skew_join").collect()}
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    k = li["l_orderkey"].where(li["l_orderkey"] % 10 == 0, 0) % 97
    k = k.where(li["l_orderkey"] % 10 == 0, 0)
    cents = (li["l_extendedprice"] * 100).round().astype("int64")
    df = pd.DataFrame({"k": k.astype("int64"), "c": cents})
    grp = df.groupby("k")["c"]
    expect = {kk: (int(g.size), int((g * (kk * 2 + 1)).sum())) for kk, g in grp}
    assert rows == expect
    # the engineered skew must stay engineered: hot key >= 80% of rows
    assert expect[0][0] / len(df) >= 0.8


# ---------------------------------------------------------------------------
# q347 — Python STREAMING DataSource: reader algebra and the durable-sink
# requirement, independent of the live drain.
# ---------------------------------------------------------------------------
def test_q347_stream_reader_matches_batch_reader():
    """partitions(start,end)/read must regenerate exactly the records the
    batch reader yields for the same range — the A14 replay contract the
    docstring claims, checked without an engine in the loop."""
    from kinesis_sample_spark.sources.producer_source import (
        ProducerReader,
        ProducerStreamReader,
        _ShardPartition,
    )

    opts = {"rows": "40", "shards": "3"}
    batch = ProducerReader(opts)
    stream = ProducerStreamReader(opts)
    assert stream.initialOffset() == {"seq": 0}
    assert stream.latestOffset() == {"seq": 40}
    got = []
    for p in stream.partitions({"seq": 0}, {"seq": 40}):
        got.extend(stream.read(p))
    want = []
    for s in range(3):
        want.extend(batch.read(_ShardPartition(s)))
    assert sorted(got) == sorted(want)
    # a mid-stream range regenerates exactly the slice (replay law)
    mid = []
    for p in stream.partitions({"seq": 10}, {"seq": 25}):
        mid.extend(stream.read(p))
    assert sorted(r[0] for r in mid) == list(range(10, 25))


def test_q347_memory_sink_refuses_resume(spark, tmp_path):
    """The docstring's durable-sink claim: a memory sink must REFUSE the
    second incarnation (no checkpoint recovery), which is why q347 gates
    resume through a parquet sink."""
    import pytest
    from pyspark.errors import AnalysisException

    from kinesis_sample_spark.sources.producer_source import (
        STREAM_SOURCE_NAME,
        register_stream,
    )
    from kinesis_sample_spark.streaming.pipeline import drain_to_memory

    register_stream(spark)
    ck = str(tmp_path / "ck")

    def drain(rows, name):
        stream = spark.readStream.format(STREAM_SOURCE_NAME).option("rows", str(rows)).load()
        drain_to_memory(stream, "append", name, checkpoint=ck)

    drain(10, "t347_a")
    with pytest.raises(AnalysisException, match="recovering from checkpoint"):
        drain(20, "t347_b")


# ---------------------------------------------------------------------------
# q348/q349 — the Python sink protocol: atomic abort and idempotent
# batch commit, independent of the round-trip gates.
# ---------------------------------------------------------------------------
def test_q348_abort_leaves_no_output(spark, tmp_path):
    """Two-phase commit's whole point: a failed job must leave NOTHING a
    reader would pick up — staged files cleaned, no part-* committed."""
    import os

    import pytest

    from kinesis_sample_spark.sources.python_sink import SINK_NAME, register_sinks

    register_sinks(spark)
    out = str(tmp_path / "out")
    os.makedirs(out)
    poisoned = spark.range(100).selectExpr(
        "id", "CAST(assert_true(id != 37, 'poison') AS STRING) AS v"
    )
    with pytest.raises(Exception, match="poison"):
        (
            poisoned.repartition(4)
            .write.format(SINK_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
    leftover = [f for f in os.listdir(out) if not f.startswith("_tmp_")]
    assert leftover == [], f"committed output from an aborted job: {leftover}"


def test_q349_stream_commit_is_batchid_idempotent(tmp_path):
    """Replay law at the unit level: committing the same batchId twice
    (the at-least-once engine's failure-replay) must OVERWRITE, not
    duplicate — the file set and contents end identical."""
    import os

    from kinesis_sample_spark.sources.python_sink import LineStreamSinkWriter

    out = str(tmp_path)
    w = LineStreamSinkWriter({"path": out})
    m1 = w.write(iter([(1, "a"), (2, "b")]))
    w.commit([m1], batchId=7)
    first = {f: open(os.path.join(out, f)).read() for f in os.listdir(out)}
    # the replay: same rows, same batchId
    m2 = w.write(iter([(1, "a"), (2, "b")]))
    w.commit([m2], batchId=7)
    second = {f: open(os.path.join(out, f)).read() for f in os.listdir(out)}
    assert first == second
    assert list(first) == ["b7-00000.lines"]


def test_q350_foreach_writer_replay_is_idempotent(tmp_path):
    """The deterministic-naming idempotence claim at the unit level: the
    same (epoch, partition) written twice ends bit-identical, not
    doubled."""
    import os

    from kinesis_sample_spark.queries.pysource import _LineForeachWriter

    class Row:
        def __init__(self, s, sh):
            self.sequence_number = s
            self.shard_id = sh

    w = _LineForeachWriter(str(tmp_path))
    for _ in range(2):  # the replay
        assert w.open(partition_id=3, epoch_id=9)
        w.process(Row(1, "shardId-000000000001"))
        w.process(Row(3, "shardId-000000000001"))
        w.close(None)
    files = os.listdir(tmp_path)
    assert files == ["e9-p3.lines"]
    content = open(tmp_path / "e9-p3.lines").read()
    assert content == "1|shardId-000000000001\n3|shardId-000000000001\n"


def test_q348_append_mode_accumulates(spark, tmp_path):
    """Two append jobs to one path must BOTH be readable afterwards —
    the job-unique commit prefix makes their part names disjoint (the
    round-16 review catch: index-only names let job 2 rename over
    job 1's part-00000)."""
    import os

    from kinesis_sample_spark.sources.python_sink import SINK_NAME, register_sinks

    register_sinks(spark)
    out = str(tmp_path / "out")
    os.makedirs(out)
    for lo, hi in ((0, 10), (10, 30)):
        (
            spark.range(lo, hi)
            .selectExpr("id", "id * 2 AS y")
            .repartition(2)
            .write.format(SINK_NAME)
            .option("path", out)
            .mode("append")
            .save()
        )
    rows = spark.read.text(os.path.join(out, "part-*.lines")).count()
    assert rows == 30, "append clobbered a previous job's committed files"
