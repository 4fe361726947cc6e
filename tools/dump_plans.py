#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of every headline
query (``perfbench.headline.QUERIES``) and of ``EXTRA`` at sf0.01,
annotated with the plan properties the engine asserts in
tests/test_plans.py. Evidence that the plans are the intended ones, not
just plans that happened to pass.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_sample_spark.plans.inspect import (
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)
from kinesis_sample_spark.queries import load_registry
from kinesis_sample_spark.session import get_spark
from perfbench.headline import QUERIES as HEADLINE

SF = "/root/testdata/sf0.01"

#: non-headline queries whose plans are scale-evidence worth publishing,
#: grouped by the change that added them.
EXTRA = (
    "q117_gopher_quality_rules",
    "q120_multiprobe_rerank",
    "q121_label_centroids",
    "q122_bloom_decontamination",
    "q123_importance_weights",
    "q125_pagerank_part_supplier",
    "q128_winsorized_stats",
    "q129_hard_negative_mining",
    "q130_source_overlap_matrix",
    "q154_bm25_topk",
    "q157_cogroup_reconcile",
    "q158_semantic_dedup",
    "q159_histogram_quantiles",
    "q162_exact_percentiles",
    # round-4 additions: the plan-guarded frontier
    "q38_kmeans_ivf_ann",
    "q177_hll_sketch_merge",
    "q181_first_conversion_path",
    "q183_bitmap_distinct",
    # round-8 long-tail optimizations: plans show the persist-before-
    # terminal-sort InMemoryRelation and the PPJoin position filter
    "q152_prefix_filter_simjoin",
    "q33_chargram_jaccard",
    "q56_edit_distance_neardup",
    "q142_int8_quantization",
    "q60_pandas_order_seq",
    # round-9 additions: pre-agg-before-global-window shapes (decile/
    # skyline/KS), gram-keyed novelty + bigram-LM joins, basket-bounded
    # pair self-join, Morton bit-interleave audit
    "q191_revenue_decile_lift",
    "q192_skyline_parts",
    "q193_ngram_novelty",
    "q195_bigram_cross_entropy",
    "q196_zorder_layout_audit",
    "q198_copurchase_pairs",
    "q199_ks_drift",
    "q200_decay_attribution",
    "q202_transition_entropy",
    "q203_rolling_distinct_users",
    "q204_inverted_index",
    "q205_referential_integrity",
    # round-10 additions: decorrelated-scalar and semi-chain join trees,
    # gaps-and-islands windows, disjoint banded-LSH candidate unions,
    # rank-capped PMI, bounded-domain interpolation/window shapes
    "q206_correlated_avg_quantity",
    "q207_nested_semi_chain",
    "q208_session_bounce",
    "q209_survival_hazard",
    "q210_priority_canonical",
    "q211_cooccurrence_pmi",
    "q212_percentile_bridge",
    "q213_gini_concentration",
    "q214_hhi_concentration",
    "q215_benford_audit",
    "q216_cusum_changepoint",
    "q217_median_of_means",
    "q218_fulfillment_latency",
    "q219_dimension_variance",
    "q220_itemset3_support",
    "q221_weighted_median",
    "q222_chi_square_independence",
    "q223_activity_streaks",
    "q224_transition_latency",
    "q225_column_profile",
    "q226_rank_fusion",
    "q227_pareto_coverage",
    "q228_seasonality_index",
    "q229_rfm_segmentation",
    "q230_association_lift",
    "q231_percent_of_parent",
    "q232_vocab_growth",
    "q233_dormant_parts",
    "q234_semiadditive_eod",
    "q235_ohlc_bars",
    "q236_new_vs_returning",
    "q237_brand_affinity",
    "q238_join_cardinality_audit",
    "q239_session_conversion",
    "q240_mix_shift",
    # round-12 additions: the plan-guarded frontier — zero-join as-of
    # composition, interval-stab running sum, blocked LCP pairing,
    # sketch-merge partial aggregates, orderkey-lineage allocation,
    # strided-pair similarity, global-cumsum classification
    "q241_copurchase_communities",
    "q243_asof_forward_spread",
    "q244_histogram_merge_rollup",
    "q245_prefix_lcp_neardup",
    "q246_degree_distribution",
    "q251_daily_backlog",
    "q253_point_in_time_join",
    "q255_markov_stationary",
    "q257_cosine_pair_distribution",
    "q258_ewma_smoothing",
    "q266_double_billing_audit",
    "q267_value_band_migration",
    "q270_largest_remainder_alloc",
    "q275_abc_xyz",
    "q278_demand_intermittency",
    "q280_source_lang_jsd",
    "q281_basket_fanout_audit",
    "q282_control_chart",
    "q283_hill_tail_index",
    "q285_median_order_ci",
    "q287_rank_stability_rbo",
    "q288_dedup_cluster_census",
    # round-13 addition: the one-pass symmetric-moment aggregate (the
    # union-free assortativity rewrite)
    "q247_degree_assortativity",
    # round-14 additions: sketch-merge algebra, bipartite projections,
    # mutual kNN — the plan-guarded frontier of test_plans_round14.py
    "q294_hll_merge_invariance",
    "q295_countmin_merge_skew",
    "q296_histogram_merge_commutativity",
    "q297_sample_union_stability",
    "q298_supplier_projection",
    "q299_part_projection_density",
    "q300_bipartite_degree_balance",
    "q303_mutual_topk_pairs",
    "q305_pareto_skyline_parts",
    "q306_supplier_skyline_3d",
    "q307_weighted_sample_es",
    "q308_phrase_index_consistency",
    "q309_zorder_locality_audit",
    "q310_grid_density_clusters",
    "q311_kcore_census",
    "q312_bootstrap_mean_ci",
    "q314_power_iteration_pc1",
    "q315_misra_gries_bounds",
    "q317_haar_wavelet_energy",
    "q318_rendezvous_rebalance",
    "q319_cuped_variance_reduction",
    "q320_neyman_allocation",
    "q321_allen_interval_census",
    "q322_sax_motif_census",
    "q323_heaps_vocabulary_growth",
    "q324_ks_exponential_fit",
    "q325_bfs_hop_histogram",
    "q326_reservoir_merge_law",
    "q327_little_law_conservation",
    # round-14 fourth wave
    "q328_live_session_timeout",
    "q329_bellman_ford_distances",
    "q330_cluster_ratio_bootstrap",
    "q331_live_state_store_audit",
    "q332_peak_basin_clusters",
    # round-15 additions: CollectMetrics audit (checkpoint scan +
    # broadcast single-row join) and the Arrow-native quantization map
    "q333_observed_metrics_audit",
    "q334_int8_quantization_audit",
    "q335_label_medoids",
    "q336_wasserstein_drift",
)
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def main() -> None:
    spark = get_spark("plans")
    registry = load_registry()
    lines = [
        "# PLANS — physical plans of the headline queries (sf0.01)",
        "",
        "Generated by `tools/dump_plans.py`. Summary line per query shows the",
        "properties `tests/test_plans.py` guards; full `explain(\"formatted\")`",
        "output follows for inspection.",
        "",
    ]
    for name in sorted({*HEADLINE, *EXTRA}):
        df = registry[name].fn(spark, SF)
        pf = pushed_filters(df)
        lines += [
            f"## {name}",
            "",
            f"- exchanges: {exchange_count(df)}",
            f"- broadcast join: {has_broadcast_join(df)}",
            f"- pushed filters: {len(pf)}" + (f" ({'; '.join(pf[:4])}…)" if pf else ""),
            "",
            "```",
            formatted_plan(df).strip(),
            "```",
            "",
        ]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
