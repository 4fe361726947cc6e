"""Plan/state guards for the round-16 optimization changes.

Each test pins the STRUCTURAL property the optimization bought — scan
counts, materialization barriers, persist hygiene — so a regression
(Catalyst change, refactor, lost persist) fails loudly instead of
silently re-inflating the plan. Value correctness is separately gated by
the oracle parity suite; these only guard the shape.
"""

from __future__ import annotations

from kinesis_sample_spark.plans.inspect import formatted_plan, operator_set
from kinesis_sample_spark.queries import load_registry

REGISTRY = load_registry()
SF = "/root/testdata/sf0.01"


def test_q255_iterates_over_materialized_matrix(spark):
    """The 20 unrolled decimal rounds must reference the collected k×k
    LocalRelation, never the fact: pre-r16, CTE re-expansion put ~22
    events scans in one plan."""
    df = REGISTRY["q255_markov_stationary"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("events.parquet") == 0, plan.count("events.parquet")
    # the VALUES-literal matrix is a pure JVM LocalRelation — the node
    # every round reads instead of the fact (and instead of a pickled
    # Scan ExistingRDD, which was A/B-rejected: its ~21 references each
    # re-ran Python deserialization tasks)
    assert "LocalTableScan" in plan, plan[:2000]


def test_q312_reads_fact_twice_not_thrice(spark):
    """Both CI bounds come from ONE conditional aggregate over the ×B
    expand subtree; orders appears only for that subtree plus the
    full-mean scan (pre-r16: two rank filters re-executed the expand)."""
    df = REGISTRY["q312_bootstrap_mean_ci"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("orders.parquet") == 2, plan.count("orders.parquet")


def test_q122_no_second_corpus_pass(spark):
    """The exact audit probes the broadcast bench set on the bloom-hit
    rows (no false negatives ⇒ exact ⊆ bloom); the corpus explode must
    appear once. documents scans: bench grams (×2 refs) + corpus = 3."""
    df = REGISTRY["q122_bloom_decontamination"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") <= 3, plan.count("documents.parquet")


def test_q36_band_relation_cached(spark):
    """Both bands come from one scan of embeddings: one mapInArrow pass
    buckets every vector, and one grouped Arrow kernel scores each
    bucket, so no join ever reads the vectors twice."""
    df = REGISTRY["q36_embedding_neardup"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("embeddings.parquet") <= 1, plan.count("embeddings.parquet")
    ops = operator_set(plan)
    assert "FlatMapGroupsInArrow" in ops, sorted(ops)
    assert not any("Join" in op for op in ops), sorted(ops)
    # no range partitioner, whose sampling job would rerun the kernel
    assert "rangepartitioning" not in plan, plan


def test_q341_unpersists_its_scratch(spark):
    """q341 persists its cents projection for the scripted bisection
    passes and must release it before returning — nothing may leak into
    the session's BlockManager across bench/oracle invocations."""
    # snapshot rather than clear: other suite queries (q166) persist
    # by design and may legitimately be live in the shared session — the
    # assertion is that q341 adds NOTHING, not that the session is empty
    # (round-16 ADVICE: the clear-then-assert-empty form was order-fragile)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    df = REGISTRY["q341_scripting_bisection_quantile"].fn(spark, SF)
    assert df.count() == 1
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    # the SQL cache entry is dropped by unpersist(); no raw RDD blocks
    # may remain either
    assert not leaked, f"q341 leaked persisted RDD ids {sorted(leaked)}"


def test_q301_truncates_old_edges_lineage(spark):
    """old_edges and the final label relation are checkpoint-truncated:
    the returned plan must not re-derive them from parquet (pre-r16 the
    final plan held 16 lineitem scans)."""
    df = REGISTRY["q301_incremental_components"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("lineitem.parquet") <= 1, plan.count("lineitem.parquet")
