"""Plan-shape assertions: the scale guarantees the query docstrings claim
must be visible in the physical plan, not just intended.
"""

from __future__ import annotations


from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.plans import (
    has_broadcast_join,
    has_partial_aggregate,
    pushed_filters,
    scan_columns,
)
from kinesis_sample_spark.queries import load_registry

REGISTRY = load_registry()
SF = "/root/testdata/sf0.01"


def test_q01_filter_pushdown_and_pruning(spark):
    df = REGISTRY["q01_pricing_summary"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), f"shipdate not pushed: {pushed}"
    (cols,) = scan_columns(df)
    # 7 needed columns out of 11 — l_orderkey/partkey/suppkey/linenumber pruned
    assert set(cols) == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }, cols


def test_q01_partial_aggregation(spark):
    df = REGISTRY["q01_pricing_summary"].fn(spark, SF)
    assert has_partial_aggregate(df)


def test_q05_broadcasts_dimensions(spark):
    df = REGISTRY["q05_local_supplier_volume"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_q06_all_predicates_pushed(spark):
    df = REGISTRY["q06_forecast_revenue"].fn(spark, SF)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} missing from pushed filters: {pushed}"


def test_q34_broadcasts_query_set(spark):
    df = REGISTRY["q34_cosine_topk"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_events_scan_prunes_props(spark):
    """A projection that doesn't touch props must not read it (it's the
    widest column in events)."""
    ev = load_table(spark, SF, "events").select("event_id", "user_id")
    for cols in scan_columns(ev):
        assert "props" not in cols


def test_inspectors_negative_controls(spark):
    """Positive-only assertions go vacuous when the matcher breaks (the
    exchange_count lesson): pin what the inspectors must NOT find."""
    from kinesis_sample_spark.plans.inspect import (
        exchange_count,
        has_broadcast_join,
        has_partial_aggregate,
        pushed_filters,
    )

    scan = load_table(spark, SF, "region")
    assert exchange_count(scan) == 0
    assert not has_broadcast_join(scan)
    assert not has_partial_aggregate(scan)
    assert pushed_filters(scan) == []
    agg = load_table(spark, SF, "orders").groupBy("o_orderstatus").count()
    assert exchange_count(agg) >= 1
    assert has_partial_aggregate(agg)


def test_q84_broadcasts_all_dims(spark):
    """Q8 market share: 7 joins but only the fact chain may shuffle —
    part/supplier/nation x2/region all broadcast."""
    df = REGISTRY["q84_market_share"].fn(spark, SF)
    assert has_broadcast_join(df)
    plan = __import__(
        "kinesis_sample_spark.plans.inspect", fromlist=["formatted_plan"]
    ).formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5, plan.count("BroadcastHashJoin")


def test_q90_self_join_copartitions(spark):
    """Q17 correlated-average: the per-part aggregate and the join back to
    lineitem share the l_partkey partitioning — at most 3 shuffles total
    (two scan-side hash partitionings + none extra for the final
    single-row agg's partial phase)."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q90_small_quantity_revenue"].fn(spark, SF)
    assert exchange_count(df) <= 3, exchange_count(df)


def test_q92_single_fact_scan_census(spark):
    """Q21 exists/not-exists, optimization r16: the per-order supplier
    census must read lineitem exactly ONCE and never semi/anti self-join
    it (the r15 shape scanned the fact 3x and broadcast the full
    2-column lineitem for the semi leg — a sub-64MB-only plan)."""
    from kinesis_sample_spark.plans.inspect import exchange_count, formatted_plan

    df = REGISTRY["q92_waiting_suppliers"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert exchange_count(df) <= 4, exchange_count(df)


def test_q93_sampler_is_map_side(spark):
    """Stratified sampling must stay a pure scan+filter: zero shuffles."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q93_stratified_sample"].fn(spark, SF)
    assert exchange_count(df) == 0, exchange_count(df)


def test_q99_regression_is_one_aggregate_pass(spark):
    """OLS sufficient statistics: all six moments in a single partial+final
    aggregate over a 3-column pruned scan — the only shape that scales to
    a 100 TB fact table (exchanges: one hash-by-group + final sort)."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q99_ols_regression"].fn(spark, SF)
    assert has_partial_aggregate(df)
    assert exchange_count(df) <= 2, exchange_count(df)
    (cols,) = scan_columns(df)
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_returnflag"}, cols


def test_q100_locf_prunes_props(spark):
    """The IGNORE-NULLS window must not drag the wide props column through
    the user_id shuffle."""
    df = REGISTRY["q100_locf_fill"].fn(spark, SF)
    for cols in scan_columns(df):
        assert "props" not in cols, cols


def test_q101_q103_broadcast_scalar_totals(spark):
    """Corpus-total scalars join by broadcast, never by shuffling the big
    token-count side."""
    for name in ("q101_bigram_heavy_hitters", "q103_tfidf_topk"):
        df = REGISTRY[name].fn(spark, SF)
        assert has_broadcast_join(df), name
        assert has_partial_aggregate(df), name


def test_q102_histogram_scans_one_column(spark):
    """Equi-width histogram: bucket assignment is map-side over a single
    pruned column; the CDF window runs post-aggregation (O(buckets))."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q102_price_histogram"].fn(spark, SF)
    (cols,) = scan_columns(df)
    assert cols == ["o_totalprice"], cols
    assert exchange_count(df) <= 2, exchange_count(df)


def test_q104_zscore_single_shuffle_window(spark):
    """Rolling z-score: one hash partition by user_id + final sort — both
    moments ride the same window, no extra exchange per moment."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q104_rolling_zscore"].fn(spark, SF)
    assert exchange_count(df) <= 2, exchange_count(df)
    (cols,) = scan_columns(df)
    assert "props" not in cols, cols


def test_q108_fingerprint_is_one_aggregate_pass(spark):
    """Anti-entropy checksums: one partial+final aggregate; the scan must
    not read the unused o_totalprice column."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q108_partition_fingerprints"].fn(spark, SF)
    assert has_partial_aggregate(df)
    assert exchange_count(df) <= 2, exchange_count(df)
    (cols,) = scan_columns(df)
    assert "o_totalprice" not in cols, cols


def test_q111_packing_is_one_window_pass(spark):
    """Sequence packing: a single per-source window over a 3-column scan
    (id, source, token length) — never the document text through a
    shuffle."""
    from kinesis_sample_spark.plans.inspect import exchange_count

    df = REGISTRY["q111_sequence_packing"].fn(spark, SF)
    assert exchange_count(df) <= 2, exchange_count(df)


def test_q32_band_join_is_hash_equijoin(spark):
    """The SimHash candidate self-join must be an equi-join on
    (band_idx, band_val) — never a nested-loop/cartesian over signatures.
    With 15-bit bands the bucket domain is 32 768 values per band; the
    equi-join is what keeps candidate generation ~n²/2^16 per band instead
    of n²/2 (see the q32 docstring's bucket-cardinality math)."""
    from kinesis_sample_spark.plans.inspect import formatted_plan

    plan = formatted_plan(REGISTRY["q32_simhash_pairs"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_val" in plan  # the band key reaches a join, not a filter


def test_banded_block_candidates_equijoin(spark):
    """q31, q33 and q56 share ``operators.incremental.lsh_candidates``: its
    band self-join must be an equi-join keyed on the block columns (q33
    and q56: lang, len_bucket), band_idx and band_val, not an all-pairs
    product."""
    from kinesis_sample_spark.plans.inspect import formatted_plan

    for name in ("q31_minhash_lsh", "q33_chargram_jaccard", "q56_edit_distance_neardup"):
        plan = formatted_plan(REGISTRY[name].fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "band_val" in plan, name


def test_q120_rerank_broadcasts_probe_sides(spark):
    """Both the probe set and the brute-force query set are broadcast —
    the corpus side must never shuffle for candidate generation."""
    df = REGISTRY["q120_multiprobe_rerank"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_q121_centroids_partial_aggregate(spark):
    """The quantized sums must combine map-side: shuffle volume is
    |labels|·dim partial rows per task, not the exploded components."""
    df = REGISTRY["q121_label_centroids"].fn(spark, SF)
    assert has_partial_aggregate(df)


def test_q122_bloom_bits_broadcast(spark):
    """The Bloom bit set joins the corpus probes as a broadcast — the
    corpus gram side stays map-only before the per-doc count."""
    df = REGISTRY["q122_bloom_decontamination"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_q117_rules_scan_prunes_documents(spark):
    """The Gopher-rule filter needs doc_id + text only — lang/source/
    n_chars must be pruned from at least one documents scan."""
    df = REGISTRY["q117_gopher_quality_rules"].fn(spark, SF)
    for cols in scan_columns(df):
        assert "lang" not in cols and "source" not in cols, cols


def test_q123_weight_tables_broadcast(spark):
    """Both 1024-row hashed-count tables join the exploded token stream
    as broadcasts; the corpus side shuffles only on doc_id."""
    df = REGISTRY["q123_importance_weights"].fn(spark, SF)
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_q124_redaction_scan_prunes_events(spark):
    """Redaction needs event_type/user_id/event_id/props — ts and value
    must be pruned from the events scan."""
    df = REGISTRY["q124_pii_redaction"].fn(spark, SF)
    for cols in scan_columns(df):
        assert "ts" not in cols and "value" not in cols, cols


def test_q125_pagerank_no_cartesian(spark):
    """Every PageRank iteration must be an equi-join on the edge key —
    a cartesian/nested-loop anywhere would explode at graph scale."""
    df = REGISTRY["q125_pagerank_part_supplier"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_partial_aggregate(df)


def test_q128_bounds_broadcast_and_partial_agg(spark):
    """The 5-row percentile-bounds table broadcasts back into the clip;
    the winsorized sum combines map-side."""
    df = REGISTRY["q128_winsorized_stats"].fn(spark, SF)
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_q129_query_set_broadcast(spark):
    """Contrastive mining scores map-side against a broadcast query set —
    the corpus embeddings never shuffle for scoring."""
    df = REGISTRY["q129_hard_negative_mining"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_q130_overlap_gram_equijoin(spark):
    """The source-pair overlap must come from an equi-join on gram (with
    the stop-gram cap bounding fanout) — never a cartesian of sources."""
    df = REGISTRY["q130_source_overlap_matrix"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q139_windows_share_one_shuffle(spark):
    """Both window passes (lag-collapse, lead-close) order by the same
    (user_id × time) key — Catalyst must reuse one hash exchange; the
    only other exchange is the final presentation sort."""
    df = REGISTRY["q139_scd2_intervals"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") == 1, plan[:800]


def test_q143_diff_is_single_pk_join(spark):
    """The snapshot diff must be exactly one full-outer join keyed on the
    PK — no extra exchanges beyond the two join sides and no nested
    loop (the change predicate is applied post-join, not as a join
    condition that would break the equi-join)."""
    df = REGISTRY["q143_snapshot_diff"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FullOuter") >= 1, plan[:800]


def test_q145_covariance_is_one_aggregate_pass(spark):
    """All 15 moments must come from a single partial+final aggregate
    over one scan — the moment-sketch contract (same shape as q99/q108)."""
    df = REGISTRY["q145_covariance_moments"].fn(spark, SF)
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan[:800]


def test_q146_interval_join_is_hash_equijoin(spark):
    """The engine path must join on the week bucket (hash equi-join),
    never nested-loop the raw theta predicate the oracle states."""
    df = REGISTRY["q146_interval_overlap_join"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan or "bucket" in plan
    # the overlap candidates must meet on the bucket key
    assert "bucket" in plan, plan[:800]


def test_q147_skew_audit_broadcasts_totals(spark):
    df = REGISTRY["q147_join_key_skew_audit"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_q154_bm25_no_explode_and_broadcast_stats(spark):
    """BM25 must compute query-term tfs via per-row HOFs — the token
    stream is never exploded (the only permitted Generate is the
    constant-fanout `stack` that unpivots the per-query score columns)
    — and must broadcast the df/avgdl scalar relation."""
    from kinesis_sample_spark.plans.inspect import formatted_plan

    df = REGISTRY["q154_bm25_topk"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "explode" not in plan.lower(), "token explode leaked into the BM25 plan"
    assert plan.count("Generate (") <= 1, "more than one Generate in BM25 plan"
    assert "stack" in plan, "the single Generate must be the stack unpivot"
    assert has_broadcast_join(df)


def test_q158_semantic_dedup_broadcasts_centroids(spark):
    """SemDeDup's corpus-side pass must join centroids by broadcast (the
    centroid relation is O(cells·dim)) — never shuffle the embeddings on
    label for the scoring join."""
    df = REGISTRY["q158_semantic_dedup"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_q159_sketch_partial_aggregate_and_broadcast(spark):
    """The histogram sketch's bin counts must merge via partial+final
    aggregation (that IS the mergeable-sketch property) and the min/max
    scalar relation must broadcast."""
    df = REGISTRY["q159_histogram_quantiles"].fn(spark, SF)
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_global_sort_uses_range_partitioning(spark):
    """A global orderBy must exchange with RANGE partitioning (sampled
    boundaries, per-partition sorts) — never a single-partition sort.
    q03's ordered output is the gate."""
    from kinesis_sample_spark.plans.inspect import formatted_plan

    df = REGISTRY["q03_shipping_priority"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "rangepartitioning" in plan.lower() or "TakeOrdered" in plan, plan


def test_q181_single_user_exchange(spark):
    """First-conversion-path (funnels.py): the first-purchase window, the
    ordered path window, and the per-user group-by must all ride ONE
    user_id hash exchange — the same exchange-reuse contract q139/q146/q27
    carry; only the final presentation orderBy may add its range exchange."""
    from kinesis_sample_spark.plans.inspect import exchange_count, formatted_plan

    df = REGISTRY["q181_first_conversion_path"].fn(spark, SF)
    assert exchange_count(df) <= 2, exchange_count(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_sketch_family_aggregates_partially(spark):
    """The sketch queries' scale claim is 'per-partition partial counters
    merged by partial+final aggregation — shuffle volume is bins/buckets ×
    tasks, independent of row count'. Pin that the physical plans really
    carry a partial aggregate (map-side combine) and stay within their
    expected exchange budgets, so a refactor can't silently turn a sketch
    into a full-row shuffle."""
    from kinesis_sample_spark.plans.inspect import exchange_count, has_partial_aggregate

    budgets = {
        "q132_countmin_heavy_hitters": 4,
        "q159_histogram_quantiles": 10,
        # 7 since the round-6 law rework: a third merge path (3-way union)
        # joined the 8-way union and the direct sketch — two more groupBys
        # whose shuffle payload is still fixed-KB sketch bytes per group
        "q177_hll_sketch_merge": 7,
        "q183_bitmap_distinct": 5,
    }
    for name, max_exchanges in budgets.items():
        df = REGISTRY[name].fn(spark, SF)
        assert has_partial_aggregate(df), f"{name}: no partial aggregate in plan"
        assert exchange_count(df) <= max_exchanges, (
            f"{name}: {exchange_count(df)} exchanges > budget {max_exchanges}"
        )
