"""Plan-shape assertions for the round-14 batch: the scale guarantees the
docstrings claim must be visible in the executed plan (same discipline as
test_plans_round10/12; the global no-cartesian sweep in test_plans.py
already covers every registered batch query)."""

from __future__ import annotations

from kinesis_sample_spark.plans import has_broadcast_join, has_partial_aggregate
from kinesis_sample_spark.queries import load_registry

REGISTRY = load_registry()
SF = "/root/testdata/sf0.01"


def _df(spark, name: str):
    return REGISTRY[name].fn(spark, SF)


def _plan(spark, name: str) -> str:
    return _df(spark, name)._jdf.queryExecution().executedPlan().toString()


def test_q294_sketch_build_partial_agg(spark):
    """Every layout's sketch build must map-side combine — the shuffle
    carries fixed-KB sketch partials, never raw fact rows."""
    assert has_partial_aggregate(_df(spark, "q294_hll_merge_invariance"))


def test_q295_merged_sketch_broadcasts(spark):
    """The finished 3×1024-cell sketch must BROADCAST to score the
    top-10 candidates (the docstring's lookup claim), and the cell
    builds must partial-aggregate."""
    df = _df(spark, "q295_countmin_merge_skew")
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_q296_dim_broadcast_and_partial_agg(spark):
    """Nation dim broadcasts into the customer scan; the per-(region,
    nat, bin) cell build partial-aggregates. The fold itself must be an
    expression over collected arrays — no extra join for the two fold
    orders."""
    df = _df(spark, "q296_histogram_merge_commutativity")
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)
    assert _plan(spark, "q296_histogram_merge_commutativity").count("Join") <= 2


def test_q297_map_only_filters(spark):
    """Both sampling plans are map-side filters + bounded aggregates —
    no shuffle of sampled rows, no nested loop."""
    plan = _plan(spark, "q297_sample_union_stability")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(_df(spark, "q297_sample_union_stability"))


def test_q298_projection_is_keyed_self_join(spark):
    """Supplier pairing must ride the l_partkey equi-join (hash/SMJ) —
    never a nested loop; degree joins are keyed too."""
    plan = _plan(spark, "q298_supplier_projection")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q299_part_dim_broadcasts(spark):
    """Both endpoint brand lookups must broadcast the part dim; the
    pairing itself is the l_suppkey equi-join."""
    df = _df(spark, "q299_part_projection_density")
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in _plan(spark, "q299_part_projection_density")


def test_q300_no_joins_at_all(spark):
    """The two-sided degree audit is two aggregations and a union —
    zero joins (the cheapest possible read of the bipartite shape)."""
    assert "Join" not in _plan(spark, "q300_bipartite_degree_balance")


def test_q303_scoring_is_broadcast_fanout(spark):
    """Corpus² scoring must broadcast one side (map-only scoring stage);
    the mutual join is an equi-join on the (src, dst) pair. The
    BroadcastNestedLoopJoin IS the declared design for the != fan-out —
    what must not appear is a CartesianProduct (unbounded × unbounded
    with no broadcast)."""
    plan = _plan(spark, "q303_mutual_topk_pairs")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q305_skyline_no_self_join(spark):
    """The 2-D skyline must be window algebra: the only join is the
    per-(brand, price-level) scalars back onto part rows — the NOT-EXISTS
    self-join the oracle runs must NOT appear (no nested loop, no
    cartesian, at most the one equi-join)."""
    plan = _plan(spark, "q305_pareto_skyline_parts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q306_skyline_partial_prune(spark):
    """The 3-D skyline must build metrics with a partial aggregate and
    contain the two-level mapInPandas (local skyline + merge) — visible
    as MapInPandas operators — with no join at all."""
    df = REGISTRY["q306_supplier_skyline_3d"].fn(spark, SF)
    plan = _plan(spark, "q306_supplier_skyline_3d")
    assert has_partial_aggregate(df)
    assert plan.count("MapInPandas") == 2
    assert "Join" not in plan


def test_q307_weighted_sample_map_side_key(spark):
    """ES sampling must be a map-side key computation + one window —
    no join anywhere (the no-seed-coordination claim)."""
    assert "Join" not in _plan(spark, "q307_weighted_sample_es")


def test_q308_phrase_probe_broadcasts(spark):
    """Both the index probe and the scan probe must broadcast the 5-row
    phrase set; the corpus is never shuffled for the probes themselves
    (the LEAD window over (doc, pos) is the one corpus shuffle)."""
    df = REGISTRY["q308_phrase_index_consistency"].fn(spark, SF)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in _plan(spark, "q308_phrase_index_consistency")


def test_q309_zorder_two_bounded_aggs(spark):
    """The audit must be two bounded aggregations over a map-side z
    computation — no nested loop; the bounds scalar broadcasts."""
    plan = _plan(spark, "q309_zorder_locality_audit")
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(REGISTRY["q309_zorder_locality_audit"].fn(spark, SF))


def test_q310_grid_cell_count_partial_agg(spark):
    """Cell counting must map-side combine (the shuffle carries at most
    64 cell partials per task, never points), and the adjacency self-join
    runs on the ≤64-row dense relation — tiny, but must not be a
    cartesian over the points."""
    df = REGISTRY["q310_grid_density_clusters"].fn(spark, SF)
    assert has_partial_aggregate(df)


def test_q311_kcore_no_cartesian(spark):
    """Each peel round is a degree aggregate + keyed semi-joins over the
    checkpointed pair projection — no nested loop anywhere, and the
    degree build must partial-aggregate."""
    df = REGISTRY["q311_kcore_census"].fn(spark, SF)
    plan = _plan(spark, "q311_kcore_census")
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_q312_bootstrap_fanout_no_shuffle_before_agg(spark):
    """The ×32 replica fan-out must be a map-side explode feeding one
    partial-aggregated (replica)-keyed groupBy — no join in the replica
    pipeline (the two 1-row CI scalars broadcast at the end)."""
    df = REGISTRY["q312_bootstrap_mean_ci"].fn(spark, SF)
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in _plan(spark, "q312_bootstrap_mean_ci")


def test_q314_gram_pass_shape(spark):
    """The covariance pass must be the map-only Gram: exactly one
    ArrowEvalPython/MapInPandas over the fact, partial-aggregated cell
    partials, and no join anywhere near the fact (joins happen on the
    64-row mean vector / 4096-cell LocalRelations only). The returned
    plan is the unrolled iteration over LocalRelations — no scan, no
    cartesian."""
    df = _df(spark, "q314_power_iteration_pc1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FileScan" not in plan  # iteration never re-touches the fact


def test_q315_mg_counts_partial_agg(spark):
    """Per-group counts must map-side combine (the shuffle carries
    (g, item) partials, not raw events) and the lam/mu summaries must
    broadcast — the merged-summary path never shuffles fact rows twice."""
    df = _df(spark, "q315_misra_gries_bounds")
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)
    plan = _plan(spark, "q315_misra_gries_bounds")
    assert "CartesianProduct" not in plan


def test_q317_haar_single_aggregation(spark):
    """The transform must be the signed-sum formulation: the returned
    plan runs on the 256-row LocalRelation only (no FileScan — the
    distributed daily rollup happened before materialization), and no
    cartesian anywhere."""
    plan = _plan(spark, "q317_haar_wavelet_energy")
    assert "FileScan" not in plan
    assert "CartesianProduct" not in plan


def test_q318_hrw_partial_agg_no_global_sort(spark):
    """Per-key argmax must partial-aggregate (max_by combines map-side);
    the census joins are broadcast; no global Sort over the score
    relation (only the final 8-row ordering)."""
    df = _df(spark, "q318_rendezvous_rebalance")
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_q319_cuped_single_scan_two_aggs(spark):
    """Pre/post split must ride ONE scan of events (CASE columns, not
    two passes): exactly one FileScan of the events parquet in the
    plan, partial-aggregated."""
    df = _df(spark, "q319_cuped_variance_reduction")
    plan = _plan(spark, "q319_cuped_variance_reduction")
    # span pass + per-user pass both scan events; the split itself must
    # not add a third
    assert plan.count("FileScan parquet") <= 2
    assert has_partial_aggregate(df)


def test_q320_neyman_broadcast_alloc(spark):
    """The 5-row allocation table must broadcast into the ranked draw;
    moment pass partial-aggregates."""
    df = _df(spark, "q320_neyman_allocation")
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_q321_allen_no_interval_self_join(spark):
    """Pairing must be the lead() window, never an interval self-join:
    exactly the orders-lineitem equi-join in the plan, no cartesian, and
    the census partial-aggregates."""
    df = _df(spark, "q321_allen_interval_census")
    plan = _plan(spark, "q321_allen_interval_census")
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_q322_sax_partial_agg(spark):
    """Daily rollup and PAA both partial-aggregate; the symbol/word
    stage runs on 32 rows."""
    assert has_partial_aggregate(_df(spark, "q322_sax_motif_census"))


def test_q323_heaps_broadcast_checkpoints(spark):
    """First-occurrence is a gram-keyed MIN partial aggregate; the
    checkpoint list broadcasts into both conditional aggregates."""
    df = _df(spark, "q323_heaps_vocabulary_growth")
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_q324_ks_distinct_value_preagg(spark):
    """The ECDF must ride the distinct-gap pre-aggregate (the tie-safe
    two-sample KS recipe) — partial aggregation before the ordered window."""
    assert has_partial_aggregate(_df(spark, "q324_ks_exponential_fit"))


def test_q325_bfs_keyed_joins_only(spark):
    """Every hop must be keyed equi-joins (frontier expand + visited
    anti-join) — no nested loop, no cartesian; the edge list is
    checkpointed so hops never re-expand the pair projection."""
    plan = _plan(spark, "q325_bfs_hop_histogram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q326_reservoir_rank_windows(spark):
    """Group reservoirs are rank windows partitioned by the md5 group
    (parallel), and the law join broadcasts R rows."""
    df = _df(spark, "q326_reservoir_merge_law")
    assert has_broadcast_join(df)


def test_q327_little_no_interval_join(spark):
    """The integral must ride the event-delta sweep line — one ordered
    window over distinct days, never an intervals x days join; both
    sides partial-aggregate."""
    df = _df(spark, "q327_little_law_conservation")
    plan = _plan(spark, "q327_little_law_conservation")
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_q329_bellman_ford_keyed_joins_only(spark):
    """Every relaxation round must be keyed equi-joins (frontier expand,
    improvement left-join, dist merge anti-join) — no nested loop, no
    cartesian; edges are checkpointed so rounds never re-expand the
    pair projection."""
    plan = _plan(spark, "q329_bellman_ford_distances")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q330_ratio_bootstrap_partial_agg(spark):
    """Both keyed aggregates (per-order pre-agg, per-replica sums) must
    partial-aggregate map-side, and the replica fan-out must ride an
    Expand — never a join against a replica table."""
    df = _df(spark, "q330_cluster_ratio_bootstrap")
    plan = _plan(spark, "q330_cluster_ratio_bootstrap")
    assert has_partial_aggregate(df)
    assert "Generate explode" in plan  # map-side fan-out, not a join
    assert "CartesianProduct" not in plan


def test_q332_native_recursion(spark):
    """The basin walk must execute inside Catalyst as a native recursive
    CTE (UnionLoop physical node) — not a driver loop — and never via a
    cartesian product."""
    plan = _plan(spark, "q332_peak_basin_clusters")
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan
