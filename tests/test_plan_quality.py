"""Plan-quality guards: the physical plans we rely on at scale must not
silently regress — pushdown reaches the scan, small dims broadcast, hot
paths stay in whole-stage codegen with no Python UDFs."""

import pytest

from pyspark.sql import functions as F

from open_bus_siri_etl_spark.plans.catalog import REGISTRY

SF = "/root/testdata/sf0.001"


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_flagship_pushdown_and_broadcast(spark):
    plan = explain_str(REGISTRY["flagship_snowflake"].fn(spark, SF))
    # the orders date filter must reach the parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # nation/region joins must be broadcast, not shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    # lineitem scan must be column-pruned (no l_comment-style full reads)
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_pricing_summary_partial_agg(spark):
    plan = explain_str(REGISTRY["pricing_summary"].fn(spark, SF))
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert "LessThanOrEqual(l_shipdate" in plan  # filter pushed to scan


@pytest.mark.slow
def test_no_python_udf_in_native_paths(spark):
    """Everything except the multimodal mapInPandas kernels must be
    JVM-only (multimodal_wav_real_decode is the r14 REAL-codec twin of
    the multimodal_features stub — codec work is the documented Arrow
    seam)."""
    for name, q in REGISTRY.items():
        if name in ("multimodal_features", "multimodal_wav_real_decode"):
            continue
        plan = explain_str(q.fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_top_orders_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject, not a full sort."""
    plan = explain_str(REGISTRY["top_orders"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_dim_novelty_uses_anti_join(spark):
    plan = explain_str(REGISTRY["dim_upsert_novelty"].fn(spark, SF))
    assert "LeftAnti" in plan


def test_cube_expands_once_with_partial_agg(spark):
    """CUBE must plan as one scan + Expand, with map-side partial
    aggregation after the expand (so the shuffle carries combined rows)."""
    plan = explain_str(REGISTRY["cube_orders"].fn(spark, SF))
    # ") Expand" matches the per-node detail header exactly once per node
    assert plan.count(") Expand") == 1
    assert "partial_sum" in plan


def test_grouping_sets_single_scan(spark):
    """Three grains (two marginals + grand total) from ONE parquet scan."""
    plan = explain_str(REGISTRY["grouping_sets_activity"].fn(spark, SF))
    assert plan.count(") Scan parquet") == 1
    assert plan.count(") Expand") == 1


def test_asof_join_is_not_nested_loop(spark):
    """The as-of join must plan as one shuffle + window, never a
    BroadcastNestedLoopJoin (the naive inequality-join physical plan)."""
    plan = explain_str(REGISTRY["asof_join_prior_view"].fn(spark, SF))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_range_join_is_equi_join(spark):
    """Bucketed range join must be a hash equi-join on the bucket column."""
    plan = explain_str(REGISTRY["range_join_error_windows"].fn(spark, SF))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_ann_candidate_join_is_hash_join(spark):
    """IVF's candidate join is an equi-join on cluster id; the only cross
    joins in the plan are against the tiny broadcast centroid set."""
    plan = explain_str(REGISTRY["embedding_ivf_ann"].fn(spark, SF))
    assert "CartesianProduct" not in plan  # centroid cross joins broadcast


def test_ivf_pq_lookups_are_broadcast_hash_joins(spark):
    """IVF-PQ's probe (cluster) and ADC lookup (query_id, m, code) joins
    must be broadcast hash joins — the distance table and the probe list
    are query-sized; the only nested-loop joins in the plan are against
    the tiny broadcast centroid set, never a CartesianProduct."""
    plan = explain_str(REGISTRY["ivf_pq_topk"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_kmeans_candidate_join_is_cluster_keyed(spark):
    """The trained-quantizer IVF's candidate generation must be an
    equi-join on the trained cluster id — never a CartesianProduct — and
    the exact re-rank touches candidate pairs only (hash joins)."""
    plan = explain_str(REGISTRY["ivf_kmeans_ann"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tumbling_window_partial_agg(spark):
    plan = explain_str(REGISTRY["tumbling_window_agg"].fn(spark, SF))
    assert "partial_count" in plan or "partial_sum" in plan


def test_forward_fill_single_balanced_exchange(spark):
    plan = explain_str(REGISTRY["forward_fill_value"].fn(spark, SF))
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan
    # exactly one shuffle: count detail headers "(n) Exchange", which appear
    # once per node (the tree line is "Exchange (n)" and doesn't match)
    assert plan.count(") Exchange") == 1


def test_hopping_window_partial_agg_after_expand(spark):
    plan = explain_str(REGISTRY["hopping_window_agg"].fn(spark, SF))
    assert ") Expand" in plan or "Expand (" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_top_customers_agg_before_join_and_broadcast(spark):
    plan = explain_str(REGISTRY["top_customers_per_nation"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan
    # partial agg on orders happens below the joins
    assert "partial_sum" in plan


def test_late_shipment_left_semi(spark):
    plan = explain_str(REGISTRY["late_shipment_priority"].fn(spark, SF))
    assert "LeftSemi" in plan
    assert "partial_count" in plan


def test_topk_queries_avoid_global_sort(spark):
    """orderBy+limit must plan as TakeOrderedAndProject (per-task local
    top-k, driver merge) — never a full Exchange rangepartitioning sort."""
    for name in ("top_orders", "weighted_sample"):
        plan = explain_str(REGISTRY[name].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, name
        assert "rangepartitioning" not in plan, name


def test_sequence_packing_single_shuffle(spark):
    """Concat-chunk packing must be ONE window over (stream, doc_id): a
    single Exchange, no Python, tokenization fused into the scan project."""
    plan = explain_str(REGISTRY["sequence_packing"].fn(spark, SF))
    assert plan.count(") Exchange") == 1, plan.count(") Exchange")
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_greedy_packing_one_shuffle_to_streams(spark):
    """Greedy packing: one hash shuffle to streams feeding the per-stream
    Arrow group processor — nothing else."""
    plan = explain_str(REGISTRY["sequence_packing_greedy"].fn(spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count(") Exchange") == 1, plan.count(") Exchange")


def test_contamination_eval_side_broadcast(spark):
    """The eval posting list must broadcast — the train corpus may be 100 TB
    and must not shuffle on shingle for the overlap join."""
    plan = explain_str(REGISTRY["contamination_check"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_is_map_only(spark):
    """Mixture rebalancing must fuse into the scan: zero exchanges."""
    plan = explain_str(REGISTRY["mixture_sample"].fn(spark, SF))
    assert ") Exchange" not in plan


GATED_WINDOW = [
    "flagship_snowflake", "pricing_summary", "dim_upsert_novelty",
    "discovery_anti_join", "dedup_first_wins", "duplicate_key_detection",
    "event_counters", "latest_per_key", "global_minmax", "top_orders",
    "gap_sessionization", "chunked_batches", "missing_minutes",
    "snapshot_id_format", "json_props_extract", "try_cast_dead_letter",
    "validation_field_diff", "key_set_diff", "rollup_revenue", "cube_orders",
    "grouping_sets_activity", "merge_upsert", "median_disc_value",
    "running_revenue", "moving_avg_value", "revenue_deciles",
    "revenue_deciles_distributed", "large_orders", "small_lot_revenue",
    "revenue_rank_distribution", "data_quality_checks",
    "unpivot_user_activity", "cube_orders_grouping_id", "session_window_agg",
    "set_ops_users", "value_quantiles_disc", "stratified_sample",
    "pivot_user_activity", "funnel_view_click_error",
    "distinct_users_per_type", "asof_join_prior_view",
    "range_join_error_windows", "tumbling_window_agg", "salted_skew_join",
    "salted_two_stage_agg", "exact_dedup", "ngram_jaccard_dedup",
    "minhash_lsh_dedup", "simhash_near_pairs", "embedding_cosine_topk",
]


def test_registry_gated_window_is_frozen():
    """Registration order is load-bearing: the driver grades only the first
    50 REGISTRY entries (__spark_entry__.py window contract), so an innocent
    @register insertion earlier in catalog.py would silently push a
    reference-parity query out of grading.  New entries must be APPENDED
    after the window — if this fails, move the new registration to the end
    of catalog.py rather than editing this list."""
    from open_bus_siri_etl_spark.plans.catalog import REGISTRY

    assert list(REGISTRY)[:50] == GATED_WINDOW


def test_pii_scrub_is_map_only(spark):
    """PII scrubbing must fuse into the scan: zero exchanges of any kind."""
    plan = explain_str(REGISTRY["pii_scrub"].fn(spark, SF))
    assert "Exchange" not in plan


def test_bm25_stats_broadcast_no_doc_shuffle(spark):
    """BM25: corpus stats are a 1-row broadcast back onto the doc side —
    the full document set must never hash-shuffle; TopK partial-sorts."""
    plan = explain_str(REGISTRY["bm25_rank"].fn(spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats build side
    assert "TakeOrderedAndProject" in plan


def test_fuzzy_join_never_cartesian(spark):
    """Deletion-neighborhood blocking must plan as an equi-join on the
    variant string — the all-pairs shapes are exactly what it exists to
    avoid."""
    plan = explain_str(REGISTRY["fuzzy_join_dist1"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # exact refine stays in the plan


def test_inverted_index_two_level_agg(spark):
    """Postings aggregate as (term, doc) partials then term totals — both
    levels map-side combinable (no count-distinct expand)."""
    plan = explain_str(REGISTRY["inverted_index_stats"].fn(spark, SF))
    assert "partial_count" in plan
    assert "Expand" not in plan


def test_tpch_q10_broadcast_and_topk(spark):
    plan = explain_str(REGISTRY["tpch_q10_returned_items"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q6_all_predicates_reach_scan(spark):
    """Q6 is the pushdown benchmark: shipdate range, discount band and
    quantity cap must ALL appear as pushed parquet filters, and the scan
    must read exactly the four referenced columns."""
    plan = explain_str(REGISTRY["tpch_q6_forecast_revenue"].fn(spark, SF))
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert pushed in plan, pushed
    assert (
        "struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"
        in plan
    )


def test_q19_derives_single_table_implications(spark):
    """The OR-of-ANDs spans lineitem and part; Catalyst must still derive
    and push the per-table implications (quantity superset range into the
    lineitem scan, brand IN-list into the part scan)."""
    plan = explain_str(REGISTRY["tpch_q19_disjunctive_revenue"].fn(spark, SF))
    # per-table Or-trees pushed into each scan
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert "BroadcastHashJoin" in plan


def test_q22_threshold_stays_in_plan(spark):
    """The above-average-balance scalar must be a broadcast join (no
    driver-side collect) and dormancy a LeftAnti against the date-pruned
    orders scan."""
    plan = explain_str(REGISTRY["tpch_q22_dormant_customers"].fn(spark, SF))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_gopher_filter_is_map_only(spark):
    """The quality rules are one tokenization + higher-order array ops:
    zero exchanges, no Python."""
    plan = explain_str(REGISTRY["gopher_quality_filter"].fn(spark, SF))
    assert ") Exchange" not in plan
    assert "Python" not in plan


def test_length_band_single_window_shuffle(spark):
    """Exact-rank trim must cost exactly one hash-partitioned window
    exchange (source) plus the final agg pair, nothing more."""
    plan = explain_str(REGISTRY["length_band_filter"].fn(spark, SF))
    assert plan.count("hashpartitioning(source") >= 1
    assert ") Window" in plan


def test_q13_left_outer_preserved(spark):
    """Zero-order customers must survive: the join stays LeftOuter (a
    count(*) instead of count(o_orderkey) would let Catalyst degrade it)."""
    plan = explain_str(REGISTRY["tpch_q13_customer_distribution"].fn(spark, SF))
    assert "LeftOuter" in plan
    assert plan.count("partial_count") >= 1


def test_q15_max_broadcasts_not_collected(spark):
    """The quarter's max revenue must flow as a one-row broadcast join,
    never a driver-side collect; the shipdate slice must push to the scan."""
    plan = explain_str(REGISTRY["tpch_q15_top_supplier"].fn(spark, SF))
    assert "BroadcastExchange" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_quantize_int8_is_map_only(spark):
    """Quantization must fuse into the scan: zero exchanges, no Python."""
    plan = explain_str(REGISTRY["embedding_quantize_int8"].fn(spark, SF))
    assert ") Exchange" not in plan
    assert "Python" not in plan


def test_ngram_spans_explode_shuffle_free(spark):
    """The gram fan-out must not shuffle: only the groupBy exchanges (the
    count-distinct agg pair), the Generate sits directly over the scan."""
    plan = explain_str(REGISTRY["repeated_ngram_spans"].fn(spark, SF))
    assert ") Generate" in plan
    # the Generate node's detail block must sit between the scan's and the
    # first Exchange's: explode happens pre-shuffle, directly over the scan
    gen_pos = plan.index(") Generate")
    ex_pos = plan.index(") Exchange")
    assert gen_pos < ex_pos
    # only the count-distinct agg pair may exchange
    assert plan.count(") Exchange") <= 2


def test_vocab_overlap_broadcasts_vocab_counts(spark):
    plan = explain_str(REGISTRY["source_vocab_overlap"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q2_window_min_no_cartesian(spark):
    """Q2's correlated min-per-part must plan as a window over the joined
    eligible set — broadcast dims, no nested-loop/cartesian fallback."""
    plan = explain_str(REGISTRY["tpch_q2_min_cost_supplier"].fn(spark, SF))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "Window" in plan


def test_tpch_q9_part_filter_pushdown(spark):
    """The p_name contains-filter must reach the part scan (StringContains
    pushdown), and all dims must broadcast so lineitem shuffles once at
    most (for the orders join)."""
    plan = explain_str(REGISTRY["tpch_q9_product_profit"].fn(spark, SF))
    assert "StringContains(p_name,gear)" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q12_orders_pushdown(spark):
    plan = explain_str(REGISTRY["tpch_q12_shipmode_priority"].fn(spark, SF))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "partial_sum" in plan


def test_tpch_q16_anti_join_and_partial_distinct(spark):
    """NOT IN (never-null key) must become broadcast LEFT ANTI; the
    COUNT(DISTINCT) must expand to a two-level aggregate with a partial
    per-partition pass before the group shuffle."""
    plan = explain_str(REGISTRY["tpch_q16_supplier_relationship"].fn(spark, SF))
    assert "LeftAnti" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_tpch_q20_semi_join_chain(spark):
    plan = explain_str(REGISTRY["tpch_q20_promotion_suppliers"].fn(spark, SF))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_tpch_q21_single_extra_shuffle_not_three_scans(spark):
    """The EXISTS/NOT-EXISTS pair is rewritten as one per-order aggregate:
    lineitem appears at most twice in the plan (probe + aggregate), never
    the three scans the correlated-subquery translation would need, and no
    nested-loop join materializes the correlation."""
    plan = explain_str(REGISTRY["tpch_q21_waiting_suppliers"].fn(spark, SF))
    assert plan.count("lineitem.parquet") <= 2
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_hll_no_distinct_shuffle(spark):
    """HLL's register build must be a 256-group aggregate with map-side
    partial max — no distinct/expand of the raw keys anywhere on the
    register path (the whole point vs COUNT(DISTINCT) at scale)."""
    plan = explain_str(REGISTRY["hll_distinct_users"].fn(spark, SF))
    assert "partial_max" in plan


def test_triangle_count_no_cartesian(spark):
    plan = explain_str(REGISTRY["triangle_count"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_pagerank_partial_sum_per_iteration(spark):
    """Each PageRank iteration must partial-aggregate the contributions
    map-side before its vertex shuffle (three iterations, three combined
    aggregates), and the correlation must never plan as a nested loop."""
    plan = explain_str(REGISTRY["pagerank_error_graph"].fn(spark, SF))
    assert "partial_sum" in plan
    assert "NestedLoop" not in plan


def test_zorder_single_scan_partial_agg(spark):
    """The z-index is pure projection arithmetic: one orders scan, one
    combined aggregate — no joins, no extra exchanges."""
    plan = explain_str(REGISTRY["zorder_layout_tiles"].fn(spark, SF))
    assert plan.count(") Scan parquet") == 1
    assert "partial_count" in plan or "partial_min" in plan


def test_bpe_pairs_partial_count_and_topk(spark):
    """Pair explosion must collapse map-side (partial_count on the bigram
    key) and the top-50 must plan as TakeOrderedAndProject."""
    plan = explain_str(REGISTRY["bpe_pair_counts"].fn(spark, SF))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_transition_matrix_keyed_window(spark):
    """The LEAD window must partition by user_id — a keyed exchange, never
    the single-partition global-sort cliff."""
    plan = explain_str(REGISTRY["event_transition_matrix"].fn(spark, SF))
    assert "SinglePartition" not in plan


def test_cohort_retention_no_single_partition(spark):
    """Cohort derivation and rejoin stay keyed on user_id; the distinct
    aggregate partial-counts map-side; nothing collapses to one partition."""
    plan = explain_str(REGISTRY["cohort_retention"].fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "partial_count" in plan


def test_histogram_sketch_partial_count_before_bins(spark):
    """The raw-event pass must be ONE map-side-combinable groupBy to 128
    bins; the only windows/joins afterwards run over the bin table (the
    SinglePartition exchanges there carry <=128 rows by construction)."""
    plan = explain_str(REGISTRY["histogram_quantile_sketch"].fn(spark, SF))
    assert "partial_count" in plan


def test_mom_partial_sum_before_global_window(spark):
    """The LAG window is global (SinglePartition) but must sit ABOVE the
    month aggregate — partial_sum proves raw orders collapse map-side
    before anything single-partition sees them."""
    plan = explain_str(REGISTRY["month_over_month_revenue"].fn(spark, SF))
    assert "partial_sum" in plan


def test_neardup_survivors_no_single_partition(spark):
    plan = explain_str(REGISTRY["neardup_survivors"].fn(spark, SF))
    assert "SinglePartition" not in plan
    assert "NestedLoop" not in plan


def test_library_sketches_have_no_exact_distinct(spark):
    """The production sketch APIs (operators/sketches.py) must NOT carry
    the catalog entries' exact self-audit columns: no Expand (Spark's
    distinct-aggregate rewrite) and no countDistinct anywhere in the plan —
    the audit belongs to the oracle contract, not the library path."""
    from open_bus_siri_etl_spark.operators.sketches import (
        hll_estimate,
        kmv_estimate,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    for df in [hll_estimate(ev, "user_id"),
               hll_estimate(ev, "user_id", group_cols=["event_type"])]:
        plan = explain_str(df)
        assert "Expand" not in plan  # no distinct-aggregate expansion
        assert "count(distinct" not in plan.lower()
        assert "partial_max" in plan  # mergeable registers, map-side combined
        assert set(df.columns) & {"true_distinct", "true_count"} == set()

    assert "true_distinct" not in kmv_estimate(ev, "user_id").columns


def test_semantic_dedup_pairs_no_corpus_cartesian(spark):
    """SemDeDup's pair search must be an equi-join on cluster (sum |c|^2
    work) — never corpus x corpus.  r14: the centroid assignment no longer
    needs even a broadcast cross join — it is an inline map-only array
    expression (the _nearest_centroids keep-1 path), so NO nested-loop
    join of any kind may appear."""
    plan = explain_str(REGISTRY["semantic_dedup_pairs"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_coverage_broadcasts_vocab(spark):
    """The 64-term vocab must broadcast to the coverage join — per-doc work
    is map-only against a hash set, no token shuffle for the join."""
    plan = explain_str(REGISTRY["vocab_coverage"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan  # vocab = top-64, never a global sort


def test_funnel_conversion_single_event_pass(spark):
    """The funnel reads events ONCE (conditional-min aggregate), not once
    per stage."""
    plan = explain_str(REGISTRY["funnel_conversion"].fn(spark, SF))
    assert plan.count("events.parquet") == 1


def test_pq_codes_broadcasts_codebook(spark):
    """PQ assignment must never cartesian the corpus with itself.  Below
    the numpy-form threshold the encode inlines the collected codebook as
    per-subspace literal arrays (the expression form of _pq_encode), so
    the plan is map-only — no join of ANY kind, no per-subspace ranking
    windows (the crossJoin + window reference plan, _pq_codes_crossjoin,
    is parity-pinned in test_nearest_kernel.py)."""
    plan = explain_str(REGISTRY["pq_codes"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_join_key_skew_report_no_global_sort(spark):
    """Top-k must be TakeOrderedAndProject; the rank window runs on the
    5-row survivor frame, so no key-space-wide single-partition exchange."""
    plan = explain_str(REGISTRY["join_key_skew_report"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_windowed_event_dedup_partitions_by_key(spark):
    """The suppression window must partition by the dedup key — never a
    constant/global window."""
    plan = explain_str(REGISTRY["windowed_event_dedup"].fn(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "lag(" in plan


def test_embedding_lsh_ann_native_and_bucketed(spark):
    """The exact-LSH ANN pipeline must stay JVM-native (no Python eval, no
    Arrow map) and candidate generation must be an equi-join — never a
    cartesian/nested-loop."""
    plan = explain_str(REGISTRY["embedding_lsh_ann"].fn(spark, SF))
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_delta_lsh_index_path_never_projects_corpus_norms(spark, tmp_path):
    """Directive: the persisted-index delta path's per-ingest cost claim
    must match the physical plan.  With a PERSISTED corpus_index (the
    production shape — the index parquet carries the stored norms), the
    corpus VECTOR frame is touched exactly once — a broadcast left-semi
    probe against the candidate id set — and the plan carries exactly
    FOUR SQRT folds: the delta side's three (d_vecs in the cross verify,
    d_vecs + d2_vecs in the within verify) plus ONE candidate-pruned
    corpus fold that exists only as the staleness tripwire (live norm
    must exactly equal the stored index norm — its raise_error branch is
    asserted present).  The inline path necessarily computes the
    full-corpus norm on top, so its plan carries strictly more."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    idx_path = str(tmp_path / "idx")
    lsh_bucket_index(corpus).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    with_idx = explain_str(
        cosine_delta_pairs_lsh(corpus, delta, threshold=0.4, corpus_index=idx)
    )
    inline = explain_str(cosine_delta_pairs_lsh(corpus, delta, threshold=0.4))
    # corpus vectors reached through a broadcast semi probe, never a shuffle
    assert "LeftSemi" in with_idx and "BroadcastHashJoin" in with_idx
    assert with_idx.count("SQRT") == 4
    assert "changed since corpus_index" in with_idx  # tripwire is in-plan
    assert inline.count("SQRT") > 4
    # round-9: exactly ONE disjointness guard per path — the inline branch
    # used to apply _disjoint_ids_or_raise a second time, doubling the
    # per-corpus-row broadcast hash probe; the guard expression must now
    # appear the same number of times in both paths' plans
    probe = "present in BOTH corpus and delta"
    assert inline.count(probe) == with_idx.count(probe)
    assert with_idx.count(probe) <= 6


def _tree(plan: str) -> str:
    """The indented operator tree at the top of a formatted explain."""
    return plan.split("\n\n")[0]


def _subtrees(tree: str, name: str) -> list[str]:
    """Each occurrence of ``name`` in the tree with its full subtree
    (lines strictly more indented than the node's own operator name)."""
    import re

    lines = tree.splitlines()

    def depth(ln: str) -> int:
        m = re.search(r"[\w*]", ln)
        return m.start() if m else 0

    subs = []
    for i, ln in enumerate(lines):
        if name in ln:
            d = depth(ln)
            sub = [ln]
            for ln2 in lines[i + 1 :]:
                if depth(ln2) <= d:
                    break
                sub.append(ln2)
            subs.append("\n".join(sub))
    return subs


def test_cc_delta_contraction_never_broadcasts_full_labels(spark, tmp_path):
    """Round-9 directive #1: connected_components_delta's contraction used
    to broadcast the FULL history labeling — a >16 GB broadcast at 10^9
    docs (OOM, not slow).  The labeling must reach a BroadcastExchange
    only AFTER the LeftSemi shrink against the delta-pair endpoint id set
    (≤2·|pairs| rows): every BroadcastExchange subtree that scans the
    labels parquet must contain that LeftSemi, and the endpoint build
    side is pair-derived (delta-sized) by construction."""
    from open_bus_siri_etl_spark.operators.dedup import contract_delta_pairs

    labels = spark.range(0, 1000).selectExpr(
        "id as doc_id", "id % 7 as component"
    )
    lp = str(tmp_path / "labels")
    labels.write.parquet(lp)
    labels = spark.read.parquet(lp)
    pairs = spark.createDataFrame(
        [(3, 1001), (5, 1002)], "doc_a long, doc_b long"
    )
    tree = _tree(explain_str(contract_delta_pairs(labels, pairs)))
    bx = _subtrees(tree, "BroadcastExchange")
    assert bx, "contraction lost its broadcast label-map plan"
    labeled = [s for s in bx if "Scan parquet" in s]
    assert labeled, "labels no longer reach the contraction via parquet scan"
    for s in labeled:
        assert "LeftSemi" in s, (
            "full labels frame broadcast without the endpoint semi-shrink:\n"
            + s
        )


FULL_REGISTRY_ORDER = [
    "flagship_snowflake", "pricing_summary", "dim_upsert_novelty",
    "discovery_anti_join", "dedup_first_wins", "duplicate_key_detection",
    "event_counters", "latest_per_key", "global_minmax",
    "top_orders", "gap_sessionization", "chunked_batches",
    "missing_minutes", "snapshot_id_format", "json_props_extract",
    "try_cast_dead_letter", "validation_field_diff", "key_set_diff",
    "rollup_revenue", "cube_orders", "grouping_sets_activity",
    "merge_upsert", "median_disc_value", "running_revenue",
    "moving_avg_value", "revenue_deciles", "revenue_deciles_distributed",
    "large_orders", "small_lot_revenue", "revenue_rank_distribution",
    "data_quality_checks", "unpivot_user_activity", "cube_orders_grouping_id",
    "session_window_agg", "set_ops_users", "value_quantiles_disc",
    "stratified_sample", "pivot_user_activity", "funnel_view_click_error",
    "distinct_users_per_type", "asof_join_prior_view", "range_join_error_windows",
    "tumbling_window_agg", "salted_skew_join", "salted_two_stage_agg",
    "exact_dedup", "ngram_jaccard_dedup", "minhash_lsh_dedup",
    "simhash_near_pairs", "embedding_cosine_topk", "embedding_cosine_pairs",
    "embedding_cosine_pairs_blocked", "embedding_cosine_pairs_tiled", "embedding_ivf_ann",
    "embedding_lsh_ann", "text_quality", "language_id",
    "doc_fingerprint", "training_prep_pipeline", "multimodal_features",
    "multimodal_resize", "multimodal_frame_sample", "broadcast_enrichment",
    "late_shipment_priority", "top_customers_per_nation", "forward_fill_value",
    "hopping_window_agg", "neardup_components", "value_histogram",
    "event_value_correlation", "weighted_sample", "ngram_top_terms",
    "value_outliers", "tfidf_top_term", "rolling_active_users",
    "kmeans_clusters", "trailing_hour_sum", "value_quantiles_cont",
    "kmeans_cluster_purity", "countmin_user_counts", "order_count_distribution",
    "heavy_hitters_mg", "countmin_topk_users", "kmv_distinct_users",
    "bloom_filter_probe", "kmeans_clusters_k32", "sequence_packing",
    "sequence_packing_greedy", "embedding_neardup_dedup", "embedding_cosine_pairs_auto",
    "training_prep_packed", "doc_repetition_stats", "shuffle_shards",
    "contamination_check", "minhash_delta_dedup", "mixture_sample",
    "tpch_q3_shipping_priority", "tpch_q10_returned_items", "tpch_q18_large_customers",
    "bm25_rank", "inverted_index_stats", "pii_scrub",
    "fuzzy_join_dist1", "tpch_q5_local_supplier", "unigram_surprisal",
    "doc_chunk_overlap", "corpus_stats", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share", "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity_revenue", "tpch_q19_disjunctive_revenue", "tpch_q22_dormant_customers",
    "gopher_quality_filter", "prefix_dup_groups", "length_band_filter",
    "tpch_q13_customer_distribution", "tpch_q15_top_supplier", "repeated_ngram_spans",
    "embedding_quantize_int8", "source_vocab_overlap", "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit", "tpch_q11_important_stock", "tpch_q12_shipmode_priority",
    "tpch_q16_supplier_relationship", "tpch_q20_promotion_suppliers", "tpch_q21_waiting_suppliers",
    "hll_distinct_users", "triangle_count", "pagerank_error_graph",
    "zorder_layout_tiles", "cohort_retention", "month_over_month_revenue",
    "event_transition_matrix", "bpe_pair_counts", "neardup_survivors",
    "histogram_quantile_sketch", "hll_distinct_users_per_type", "embedding_lsh_candidates",
    "ann_recall_eval", "semantic_dedup_pairs", "domain_mixture_weights",
    "funnel_conversion", "vocab_coverage", "crossmodal_dup_flags",
    "shard_skew_report", "time_weighted_average", "train_test_split",
    "pq_codes", "filter_stack_report", "pq_adc_topk",
    "linear_interpolate_value", "paragraph_dedup", "histogram_median_by_type",
    "curriculum_buckets", "sessionized_funnel", "zscore_outliers",
    "table_stats_report", "source_quality_summary", "minhash_jaccard_estimates",
    "dedup_rate_by_source", "shipping_latency_stats", "lsh_ann_recall_eval",
    "asof_tolerance_join", "stratified_rate_sample", "quality_quantile_normalize",
    "windowed_event_dedup", "join_key_skew_report", "embedding_delta_pairs",
    "rfm_segmentation", "language_id_confusion", "embedding_delta_pairs_lsh",
    "delta_pairs_recall_eval",
    "neardup_components_delta",
    "jaccard_delta_pairs",
    "neardup_survivors_delta",
    "ivf_pq_topk",
    "ivf_pq_recall_eval",
    "ivf_pq_index",
    "ivf_kmeans_ann",
    "kmeans_ann_recall_eval",
    "ivf_pq_kmeans_topk",
    "ivf_pq_kmeans_recall_eval",
    "kmeans_ivf_oos_ann",
    "ivf_pq_residual_topk",
    "ivf_pq_residual_recall_eval",
    "ivf_pq_refine_topk",
    "ivf_pq_refine_recall_eval",
    "kmeans_clusters_deep",
    "neardup_components_dispatch",
    # round-11 continuation: SQ8 family, balanced PQ, chunking, bloom join
    "sq8_ivf_topk",
    "sq8_recall_eval",
    "ivf_pq_balanced_topk",
    "pq_balanced_recall_eval",
    "sq8_residual_topk",
    "sq8_residual_recall_eval",
    "sliding_window_chunks",
    "bloom_prefiltered_join",
    # round 12: SQ8 refine rung, balanced residual+refine, chunk-then-pack
    "sq8_refine_topk",
    "sq8_refine_recall_eval",
    "ivf_pq_balanced_residual_topk",
    "pq_balanced_residual_recall_eval",
    "chunk_then_pack",
    # round 13: text re-materialization for packed sequences, LSH-banded
    # contamination screen
    "pack_with_text",
    "contamination_lsh",
    # round 14: cross-document paragraph dedup (boilerplate removal),
    # real-WAV-container decode with an exact sample-stat oracle
    "paragraph_dedup_boilerplate",
    "multimodal_wav_real_decode",
]


def test_registry_full_order_is_frozen():
    """Round-8 catalog split hardening: the complete registration order —
    not just the graded window — is pinned, so a misplaced import in
    plans/catalog.py (or an entry moved between part modules) is caught
    by name instead of by judge re-derivation.  If this fails because you
    APPENDED a new entry at the end of catalog_ann_curation, append its
    name here; any other diff means the order moved — fix the code, not
    this list."""
    from open_bus_siri_etl_spark.plans.catalog import REGISTRY

    assert list(REGISTRY) == FULL_REGISTRY_ORDER


def test_asof_tolerance_same_plan_shape(spark):
    """tolerance_sec= must not change the operator's scale shape: still
    one shuffle on the key + one window (the carried right-ts and the
    staleness branch are column expressions), never a nested-loop join."""
    plan = explain_str(REGISTRY["asof_tolerance_join"].fn(spark, SF))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert plan.count(") Exchange") == 1


def test_survivors_delta_pass_through_never_shuffles_summary(spark, tmp_path):
    """Round-9 directive #3 scale shape: in neardup_survivors_delta the
    persisted survivor summary reaches a shuffle ONLY through the
    broadcast LeftSemi shrink to touched components (candidate-sized);
    untouched components pass through a broadcast LeftAnti probe with no
    exchange.  The summary parquet is the only parquet scan in the plan,
    so any plain Exchange subtree scanning parquet must carry the semi."""
    from open_bus_siri_etl_spark.operators.dedup import neardup_survivors_delta

    surv = spark.createDataFrame(
        [(10, 10, 50, 2), (20, 20, 50, 2), (30, 30, 70, 1)],
        "component long, kept_doc_id long, kept_n_chars long, n_members long",
    )
    sp = str(tmp_path / "surv")
    surv.write.parquet(sp)
    surv = spark.read.parquet(sp)
    labels = spark.createDataFrame(
        [(10, 10), (12, 10), (20, 20), (21, 20), (30, 30)],
        "doc_id long, component long",
    )
    delta = spark.createDataFrame([(100, 40), (101, 90)], "doc_id long, n_chars long")
    pairs = spark.createDataFrame(
        [(12, 100), (100, 21), (30, 101)], "doc_a long, doc_b long"
    )
    tree = _tree(
        explain_str(neardup_survivors_delta(surv, labels, delta, pairs))
    )
    assert "LeftAnti" in tree  # untouched pass-through arm exists
    for s in _subtrees(tree, "Exchange"):
        if s.splitlines()[0].lstrip(" :+-").startswith("BroadcastExchange"):
            continue
        if "Scan parquet" in s:
            assert "LeftSemi" in s, (
                "survivor summary reached a shuffle without the touched-set "
                "semi-shrink:\n" + s
            )


def test_ivf_pq_serve_partition_prunes_the_index(spark, tmp_path):
    """The serve docstring's scale claim must match the physical plan:
    with the index persisted PARTITIONED BY cluster (the production
    layout), the probe join triggers DYNAMIC PARTITION PRUNING on the
    index scan — the per-batch plan reads n_probe/n_centroids of the
    code partitions, not the whole index — and corpus vectors are
    structurally absent (the only parquet scans are index, codebook and
    queries)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
        ivf_pq_topk_serve,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    cframe = ivf_pq_centroids(emb, n_keep=8)
    cpath = str(tmp_path / "cents")
    cframe.write.parquet(cpath)
    cframe = spark.read.parquet(cpath)
    ipath = str(tmp_path / "index")
    build_ivf_pq_index(emb, cents=cframe).write.partitionBy("cluster").parquet(
        ipath
    )
    idx = spark.read.parquet(ipath)
    served = ivf_pq_topk_serve(idx, cframe, qs, k=5)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the index scan's PartitionFilters carry a dynamicpruning subquery
    # seeded by the broadcast probe side; identify the scan by its
    # cluster partition filter, not the path — plan toString truncates
    # long pytest tmp paths (the match on ipath went flaky once the
    # pytest-NNN counter widened the path by two characters)
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters: [isnotnull(cluster" in ln
    ]
    assert idx_scans and all("dynamicpruning" in ln for ln in idx_scans)
    assert "CartesianProduct" not in plan


def test_ivf_pq_kmeans_serve_partition_prunes_the_index(spark, tmp_path):
    """Round-10: the DPP serving shape survives quantizer TRAINING — with
    the trained-L2 index persisted PARTITIONED BY cluster, the probe join
    still triggers dynamic partition pruning on the index scan and corpus
    vectors stay structurally absent.  Training changes the codebook
    content, never the plan."""
    from open_bus_siri_etl_spark.operators.clustering import (
        kmeans_codebook,
        kmeans_subspace_codebook,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_serve,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    cpath, fpath = str(tmp_path / "tc"), str(tmp_path / "tf")
    kmeans_codebook(emb, k=8, iters=2).write.parquet(cpath)
    kmeans_subspace_codebook(emb, n_sub=4, sub_dim=16, k=8, iters=2).write.parquet(fpath)
    coarse = spark.read.parquet(cpath)
    fine = spark.read.parquet(fpath)
    ipath = str(tmp_path / "tindex")
    build_ivf_pq_index(
        emb, cents=coarse, fine_cents=fine, coarse_metric="l2"
    ).write.partitionBy("cluster").parquet(ipath)
    idx = spark.read.parquet(ipath)
    served = ivf_pq_topk_serve(
        idx, coarse, qs, k=5, fine_cents=fine, coarse_metric="l2"
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    # identify the index scan by its cluster partition filter rather than
    # the path (plan toString truncates long pytest tmp paths)
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters: [isnotnull(cluster" in ln
    ]
    assert idx_scans and all("dynamicpruning" in ln for ln in idx_scans)
    assert "CartesianProduct" not in plan


def test_contamination_lsh_broadcasts_eval_and_bounds_shuffle(spark):
    """The banded screen's scale contract: the eval band-key index and
    eval postings BROADCAST (benchmarks are tiny), the train side never
    shuffles on shingle for candidate generation — its only wide
    shuffles are the signature aggregation and the candidate-bounded
    verification count."""
    plan = explain_str(REGISTRY["contamination_lsh"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # verification re-shingles only candidates: the LeftSemi restriction
    # must be in the plan
    assert "LeftSemi" in plan


def test_paragraph_dedup_two_shuffles_no_sort_killer(spark):
    """r14 paragraph dedup's scale contract: exactly two Exchanges —
    hash on the paragraph string for the first-wins window, hash on
    doc_id for the ordered reassembly (which rides array_sort over
    collect_list, NOT a per-document sort window or a global Sort) —
    and no CartesianProduct."""
    import re

    plan = explain_str(REGISTRY["paragraph_dedup_boilerplate"].fn(spark, SF))
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 2, plan
    assert "CartesianProduct" not in plan
    # the reassembly must not plan a second window sort on doc_id: the
    # only Sort nodes allowed are the paragraph-window's partition-local
    # sort (row_number needs it) feeding the first-wins filter
    assert "rangepartitioning" not in plan.lower(), plan


def test_multimodal_wav_real_decode_is_map_only(spark):
    """The real-codec entry stays the multimodal scale shape: binary
    wrap (column expressions) -> one Arrow MapInPandas -> projection,
    with NO Exchange anywhere — throughput scales with cores x IO."""
    import re

    plan = explain_str(REGISTRY["multimodal_wav_real_decode"].fn(spark, SF))
    assert "MapInPandas" in plan
    assert not re.findall(r"\(\d+\) Exchange", plan), plan
    assert "CartesianProduct" not in plan


def test_structagg_firstwins_argmax_boundary_assumptions(spark):
    """r15 (verdict item 5): dedup_first_wins / latest_per_key were
    restructured in r14 from row_number windows to min/max(struct(...))
    partial aggregates.  The equivalence to the DECLARED SQL rests on two
    data-shape assumptions — non-NULL (ts, event_id) and unique
    (ts, event_id) within a partition key — because (a) the DuckDB oracle
    orders NULLs LAST on ASC where both Spark forms place them first, and
    (b) with duplicate sort keys row_number() is underdetermined while
    min(struct) deterministically takes the smallest payload.  This test
    pins BOTH halves: the degenerate-input behavior of the two Spark
    forms (they agree — Spark's asc-nulls-first / desc-nulls-last
    defaults match struct min/max NULL ordering), and the assumptions
    actually holding in the driver testdata at both correctness SFs."""
    import datetime as dt

    from pyspark.sql import Window

    TS = dt.datetime(2020, 1, 1, 12, 0, 0)
    rows = [
        (1, "a", None, 10, 1.0),            # NULL ts among non-NULLs
        (1, "a", TS, 11, 2.0),
        (1, "a", TS + dt.timedelta(minutes=5), 12, 3.0),
        (2, "a", None, 20, 1.0),            # all-NULL ts group
        (2, "a", None, 21, 2.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "user_id long, event_type string, ts timestamp, event_id long, "
        "value double",
    )
    # first-wins: Spark window (asc = nulls first) == min(struct) (NULL
    # struct field sorts smallest) — pinned so a Spark default change or a
    # restructure that breaks this shows up here, not in the oracle gate
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    win = sorted(
        (r["user_id"], r["ts"], r["event_id"], r["value"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn=1")
        .collect()
    )
    agg = sorted(
        (r["user_id"], r["s"]["ts"], r["s"]["event_id"], r["s"]["value"])
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id", "value")).alias("s"))
        .collect()
    )
    assert win == agg
    # argmax: desc = nulls LAST; max(struct) never picks a NULL-ts row
    # unless the whole group is NULL, where the event_id tiebreak matches
    w2 = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    win2 = sorted(
        (r["user_id"], r["ts"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w2))
        .filter("rn=1")
        .collect()
    )
    agg2 = sorted(
        (r["user_id"], r["s"]["ts"], r["s"]["event_id"])
        for r in ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("s"))
        .collect()
    )
    assert win2 == agg2
    # duplicate (ts, event_id) sort keys: row_number is UNDERDETERMINED
    # (plan-dependent row order decides), min(struct) deterministically
    # takes the smallest trailing payload — assert the deterministic form
    dup = spark.createDataFrame(
        [(3, "a", TS, 30, 6.0), (3, "a", TS, 30, 5.0)],
        "user_id long, event_type string, ts timestamp, event_id long, "
        "value double",
    )
    got = (
        dup.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id", "value")).alias("s"))
        .collect()
    )
    assert [r["s"]["value"] for r in got] == [5.0]
    # the assumptions hold in the driver testdata at BOTH correctness SFs:
    # zero NULL ts/event_id, zero duplicate (ts, event_id) per key
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = spark.read.parquet(f"{sf}/events.parquet")
        assert (
            e.filter(F.col("ts").isNull() | F.col("event_id").isNull()).count()
            == 0
        ), sf
        dupes = (
            e.groupBy("user_id", "event_type", "ts", "event_id")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dupes == 0, sf


def test_semantic_dedup_selfjoin_reuses_exchange_above_broadcast(spark):
    """r15 (verdict item 7): at corpus scale semantic_dedup_pairs'
    within-cluster self-join exceeds the broadcast threshold and planers
    take a sort-merge join whose two sides are the SAME assignment
    subplan.  The at-scale shape this entry depends on — compute the
    assignment + norm ONCE, shuffle it once, read it twice — is Spark's
    exchange reuse, which requires the two sides to canonicalize equal.
    Pin it: with broadcast forced off (and AQE off, so the static
    ReuseExchange rule decides — AQE's runtime stage reuse keys on the
    same canonicalized equality), the plan must carry exactly one
    materialized exchange, one corpus scan, and a minimal shuffle payload
    (id, vec, pre-exchange norm, cluster — the norm must NOT be
    recomputed per joined pair)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = (
            semantic_dedup_pairs(emb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert plan.count("SortMergeJoin") == 1, plan
    assert plan.count("ReusedExchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    # one materialized hash exchange (the second is the reuse reference)
    import re

    materialized = re.findall(r"\+- Exchange hashpartitioning", plan)
    assert len(materialized) == 1, plan
    # minimal payload: the reused exchange ships exactly 4 columns and the
    # norm rides the exchange (computed N times pre-shuffle, not N^2 post)
    m = re.search(r"ReusedExchange \[([^\]]*)\]", plan)
    assert m and len(m.group(1).split(",")) == 4, plan
