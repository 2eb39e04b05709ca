"""Plan-regression tests: the 100 TB design rules as assertions over
the actual physical plans (orderly_spark/plans/audit.py). A change
that silently drops a pushed filter, un-broadcasts a dimension join,
or drags a Python UDF into a pure-expression pipeline fails here —
those regressions never show up in small-SF correctness runs."""

from __future__ import annotations

import pytest

import orderly_spark.queries  # noqa: F401
from orderly_spark.plans.audit import audit
from orderly_spark.registry import REGISTRY


def plan(spark, sf_smoke, name):
    return audit(REGISTRY[name].fn(spark, sf_smoke))


def test_q6_filters_reach_the_scan(spark, sf_smoke):
    """Predicate pushdown: q6's date/discount/quantity filters must be
    in the parquet scan's PushedFilters, not a post-scan Filter only."""
    a = plan(spark, sf_smoke, "q6_forecast_revenue")
    scan = a.scan_for("lineitem")
    assert scan is not None
    pushed = " ".join(scan.pushed_filters)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_column_pruning(spark, sf_smoke):
    """Projection pruning: the scan must read only the 4 columns the
    query touches, not all 11 lineitem columns."""
    a = plan(spark, sf_smoke, "q6_forecast_revenue")
    scan = a.scan_for("lineitem")
    assert set(scan.read_columns) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }


def test_q5_dimension_joins_broadcast(spark, sf_smoke):
    """Join strategy: q5's star joins against region/nation/supplier/
    customer must broadcast (no sort-merge join at dimension size)."""
    a = plan(spark, sf_smoke, "q5_nation_revenue")
    assert a.n_broadcast_joins >= 3
    assert a.n_sortmerge_joins == 0


def test_filter_stack_is_one_fused_pass(spark, sf_smoke):
    """P2-P6 fuse into the scaffold aggregation: exactly the fan-out +
    groupBy exchanges, no extra shuffle per filter stage."""
    a = plan(spark, sf_smoke, "c_filter_stack")
    assert a.n_exchanges <= 2  # repartition(fan_out) + scaffold groupBy
    assert not a.has_python_udf


def test_clean_pipeline_shuffle_budget(spark, sf_smoke):
    """The full pipeline's shuffle count is bounded and known. The
    rare stage's consumers would each repeat the scaffold+dedup subtree
    (AQE's stage cache does not match the copies), so clean_pipeline
    puts the deduped relation through a barrier: the static plan of
    the final query reads the materialised rows (ExistingRDD scans, no
    parquet scan) and carries only the post-barrier shuffles. A
    regression that re-plans the scaffold into the final query (parquet
    scan back in the plan) or adds per-consumer shuffles breaks the
    ceilings."""
    spark.catalog.clearCache()  # cached intermediates change the plan shape
    a = plan(spark, sf_smoke, "c_clean_pipeline_fullscale")
    # 4 static Exchange nodes at sf0.001: counts agg(2) + offender
    # distinct(2); the final anti-join and rare semi-join broadcast
    assert a.n_exchanges <= 8, a.text
    assert "Scan parquet" not in a.text, "rare-stage barrier not materialised"
    assert not a.has_python_udf


def test_pure_expression_batteries_have_no_python_udf(spark, sf_smoke):
    """Extraction/text ops are Catalyst expressions end to end; only
    the chem/multimodal kernels may cross into Python."""
    for name in [
        "x_rxn_string_parse",
        "x_unit_conversions",
        "x_solvent_agent_split",
        "t_quality_scores",
        "d_minhash_lsh_pairs",
    ]:
        a = plan(spark, sf_smoke, name)
        assert not a.has_python_udf, name


def test_chem_dimension_udf_off_fact_path(spark, sf_smoke):
    """The canonicalisation UDF runs over the distinct-pairs dimension
    (explode→distinct→UDF→broadcast join back): the plan must contain
    a Python/Arrow eval AND a broadcast join — proof the UDF is on the
    small side of the join, not mapped over the fact table."""
    a = plan(spark, sf_smoke, "c_canonicalise_dimension_roundtrip")
    assert a.has_python_udf
    assert a.n_broadcast_joins >= 1


def test_codegen_spans_exist(spark, sf_smoke):
    # AQE wraps the plan and defers codegen until execution; audit the
    # static plan with AQE off so the codegen subtrees are visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["q1_pricing_summary", "c_filter_stack"]:
            a = audit(REGISTRY[name].fn(spark, sf_smoke))
            assert a.n_codegen_spans >= 1, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_training_prep_exchange_ceiling(spark, sf_smoke):
    """t_training_prep_pipeline (r12, the r11 verdict's accounting
    item): the capstone's STATIC plan carries 9 Exchange nodes — the
    fan_out repartition and the md5(tokens) dedup window are the only
    two that move full documents (the dedup one necessarily carries
    text: shingling/chunking reuse it downstream, and projecting text
    out would only trade the shuffle for an equal-sized join); the
    rest carry shingles, ids, or the final per-source aggregate,
    repeated across the eval/train consumer branches that AQE's
    shuffle-stage reuse collapses at runtime. Eval-shingle and
    contaminated-id sets must stay BROADCAST — a sort-merge join here
    means the fact table started riding a decontamination shuffle."""
    spark.catalog.clearCache()
    a = plan(spark, sf_smoke, "t_training_prep_pipeline")
    assert a.n_exchanges <= 9, a.text
    assert a.n_broadcast_joins >= 2
    assert a.n_sortmerge_joins == 0
    assert not a.has_python_udf


def test_rq_adc_plan_shape(spark, sf_smoke):
    """s_rq_adc_topk (r12): the ADC table and both re-rank sides must
    BROADCAST (≥3 broadcast joins: dtable, corpus-candidate, query
    vectors) and nothing may sort-merge — a sort-merge here means the
    fact table started riding the query-table join. The scan side
    moves codes + one scalar, never vectors, which the exchange
    ceiling pins; no Python UDF anywhere (the chain is integer
    Catalyst expressions end to end)."""
    spark.catalog.clearCache()
    a = plan(spark, sf_smoke, "s_rq_adc_topk")
    assert a.n_broadcast_joins >= 3
    assert a.n_sortmerge_joins == 0
    assert a.n_exchanges <= 6, a.text
    assert not a.has_python_udf


def test_canonical_smiles_plan_shape(spark, sf_smoke):
    """x_canonical_smiles (r12): one pandas-UDF stage over the tiny
    template dimension + ONE exchange (the per-group window) — the
    canon kernel must never drag a join or extra shuffle in."""
    spark.catalog.clearCache()
    a = plan(spark, sf_smoke, "x_canonical_smiles")
    assert a.has_python_udf
    assert a.n_exchanges <= 1, a.text
    assert a.n_sortmerge_joins == 0


def test_band_join_broadcasts_tiny_dimension(spark, sf_smoke):
    """j_band_quantity_tiers: the inequality join against the 3-row
    tier dimension must be a broadcast join (nested-loop over a
    broadcast side), never a shuffle of the fact table before the
    final aggregation — one exchange total (the groupBy)."""
    a = plan(spark, sf_smoke, "j_band_quantity_tiers")
    assert a.n_broadcast_joins == 1
    assert a.n_sortmerge_joins == 0
    assert a.n_exchanges <= 1


def test_grouping_sets_single_shuffle(spark, sf_smoke):
    """a_grouping_sets_mixed: Expand + one hash aggregate — all three
    granularities from a single exchange, not one scan per set."""
    a = plan(spark, sf_smoke, "a_grouping_sets_mixed")
    assert a.n_exchanges == 1
    assert "Expand" in a.text
    scan = a.scan_for("orders")
    assert set(scan.read_columns) == {"o_orderstatus", "o_orderpriority"}


def test_ntile_prunes_to_three_columns(spark, sf_smoke):
    """w_ntile_balance_quartiles: scan reads only segment/balance/key;
    the window and the groupBy share the segment-keyed exchange."""
    a = plan(spark, sf_smoke, "w_ntile_balance_quartiles")
    scan = a.scan_for("customer")
    assert set(scan.read_columns) == {"c_mktsegment", "c_acctbal", "c_custkey"}
    assert not a.has_python_udf


def test_q21_one_partitioning_serves_aggs_and_selfjoin(spark, sf_smoke):
    """q21: the explicit hash(l_orderkey) repartition must serve the
    (orderkey, suppkey) aggregate AND the per-order window rollup
    (r15: the rollup is window aggregates over ls, not a groupBy +
    self-join — the self-join shape re-ran the whole ls subtree at
    runtime because AQE stage-cache matching failed on the copies).
    2 exchanges total (repartition, final s_name groupBy), one
    lineitem scan."""
    a = plan(spark, sf_smoke, "q21_waiting_supplier")
    assert a.n_exchanges <= 3, a.text
    # structural count off the parsed detail blocks (r16, ADVICE r15:
    # the old `a.text.count("Scan parquet") <= 6` depended on the
    # formatted renderer listing each scan exactly twice — a formatting
    # change would flip it with no real regression):
    # 3 = lineitem + orders + supplier, each scanned once
    assert len(a.scans) <= 3, a.text
    assert not a.has_python_udf


def test_q2_window_reuses_aggregate_partitioning(spark, sf_smoke):
    """q2: hash(l_partkey) serves the (partkey, suppkey) min-offer
    aggregate AND the per-part window min — exactly one exchange."""
    a = plan(spark, sf_smoke, "q2_min_unit_price_supplier")
    assert a.n_exchanges <= 1, a.text
    assert a.n_sortmerge_joins == 0


def test_q9_like_filter_pushes_to_part_scan(spark, sf_smoke):
    """q9: the p_name LIKE '%ring%' predicate must reach the part scan
    as a pushed StringContains filter, and nation must broadcast."""
    a = plan(spark, sf_smoke, "q9_product_profit")
    scan = a.scan_for("part")
    assert scan is not None
    assert any("p_name" in f for f in scan.pushed_filters), scan.pushed_filters
    assert a.n_sortmerge_joins == 0


def test_q7_scans_prune_and_nations_broadcast(spark, sf_smoke):
    """q7: shipdate range pushed to the lineitem scan; both nation
    dimension joins broadcast; lineitem reads only the 5 needed cols."""
    a = plan(spark, sf_smoke, "q7_volume_shipping")
    scan = a.scan_for("lineitem")
    assert any("l_shipdate" in f for f in scan.pushed_filters)
    assert set(scan.read_columns) == {
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount",
    }
    assert a.n_broadcast_joins >= 2


def test_q17_correlated_avg_is_copartitioned_selfjoin(spark, sf_smoke):
    """q17: the per-part avg subquery joins the probe side on
    l_partkey — the aggregate side arrives already partitioned, so
    the plan pays at most the two key exchanges, and the brand filter
    prunes the part scan."""
    a = plan(spark, sf_smoke, "q17_small_quantity_revenue")
    scan = a.scan_for("part")
    assert any("p_brand" in f for f in scan.pushed_filters)
    assert a.n_exchanges <= 3, a.text


def test_unpivot_single_scan_expand(spark, sf_smoke):
    """a_unpivot_lineitem_measures: wide→long via one Expand over one
    scan — never a per-measure re-scan union."""
    a = plan(spark, sf_smoke, "a_unpivot_lineitem_measures")
    assert "Expand" in a.text
    assert len(a.scans) == 1
    assert a.n_exchanges == 0


def test_sql_function_queries_stay_in_codegen(spark, sf_smoke):
    """SQL-registry scalar functions must inline — no Python UDF in
    the plan of the SQL-function battery queries."""
    for name in ("sql_fn_reaction_hash", "sql_fn_scalar_battery"):
        a = plan(spark, sf_smoke, name)
        assert not a.has_python_udf, name
        assert a.n_exchanges == 0


def test_round3_text_ops_stay_codegen(spark, sf_smoke):
    """Sampling, mixing, and PII scrubbing are pure expressions — a
    Python UDF sneaking into these scan-speed paths is a regression."""
    for name in ["t_stratified_sample", "t_corpus_mixture", "t_pii_scrub"]:
        a = plan(spark, sf_smoke, name)
        assert not a.has_python_udf, name


def test_corpus_curation_pipeline_no_python_udf(spark, sf_smoke):
    """The composed curation pipeline (quality → dedup → clusters →
    stats) must stay JVM-side end to end; its iterative rounds are
    joins/aggregates, never Python."""
    a = plan(spark, sf_smoke, "t_corpus_curation_pipeline")
    assert not a.has_python_udf


def test_round4_curation_ops_stay_codegen(spark, sf_smoke):
    """Repetition signals and chunking are per-row array expressions —
    ONE exchange each (the fan_out repartition), never a Python UDF;
    latest-state compaction pays exactly one hash(user_id) exchange
    for both its windows."""
    for name, max_ex in [
        ("t_repetition_signals", 1),
        ("t_doc_chunking", 1),
        ("e_latest_state_per_key", 1),
    ]:
        a = plan(spark, sf_smoke, name)
        assert a.n_exchanges <= max_ex, (name, a.text)
        assert not a.has_python_udf, name


def test_decontamination_broadcasts_eval_side(spark, sf_smoke):
    """t_benchmark_decontamination: the shingle join must broadcast
    the (benchmark-sized) eval side — a sort-merge join here would
    shuffle the full train shingle set."""
    a = plan(spark, sf_smoke, "t_benchmark_decontamination")
    assert a.n_broadcast_joins >= 1
    assert a.n_sortmerge_joins == 0
    assert not a.has_python_udf


def test_quantized_topk_broadcasts_queries(spark, sf_smoke):
    """s_quantized_cosine_topk keeps the ANN contract: query side
    broadcast, corpus scanned without a pre-join shuffle."""
    a = plan(spark, sf_smoke, "s_quantized_cosine_topk")
    assert a.n_broadcast_joins == 1
    assert a.n_sortmerge_joins == 0
    assert not a.has_python_udf


def test_snapshot_diff_joins_hashes_not_documents(spark, sf_smoke):
    """d_corpus_snapshot_diff: both snapshot sides must reduce to
    (doc_id, md5) BEFORE the full-outer join — the join inputs carry
    no text column. (Full outer can't broadcast; SMJ on 24 B rows is
    the correct scale plan.) Non-vacuous: the SMJ must exist, md5 must
    be computed below it, the scan must prune to (doc_id, text), and
    no Sort feeding the join may order/carry the text column."""
    a = plan(spark, sf_smoke, "d_corpus_snapshot_diff")
    assert not a.has_python_udf
    assert a.n_sortmerge_joins == 1, a.text
    # hash computed map-side, pre-join (md5 auto-casts string→binary)
    assert "md5(cast(text" in a.text or "md5(text" in a.text
    scan = a.scan_for("documents")
    assert set(scan.read_columns) == {"doc_id", "text"}
    # SMJ children are Sorts on the join key; a text column reaching
    # them means documents rode the shuffle
    for line in a.text.splitlines():
        s = line.strip()
        if s.startswith(("SortMergeJoin", "+- Sort", ":- Sort", "Sort ")):
            assert "text#" not in line, line


def test_training_prep_pipeline_shape(spark, sf_smoke):
    """The end-to-end capstone stays JVM-side; the decontamination
    stage's shingle join must broadcast the eval side."""
    a = plan(spark, sf_smoke, "t_training_prep_pipeline")
    assert not a.has_python_udf
    assert a.n_broadcast_joins >= 1, a.text
    assert a.n_sortmerge_joins == 0, a.text


def test_bucketed_join_is_exchange_free(spark, sf_smoke):
    """j_bucketed_colocated_join: both saved tables are bucketed+sorted
    8 ways on the join key, so the SortMergeJoin must read them with
    NO Exchange and NO Sort on either input — the storage-side
    co-location this query exists to demonstrate. The only exchange
    allowed in the whole plan is the final groupBy's."""
    a = plan(spark, sf_smoke, "j_bucketed_colocated_join")
    assert a.n_sortmerge_joins == 1, a.text
    assert a.n_exchanges <= 1, a.text  # groupBy only — none under the join
    # in the indented tree section, everything after the SMJ line is
    # its subtree (the groupBy exchange sits above it) — no Exchange
    # may appear below the join
    tree = a.text.split("\n\n")[0]
    lines = tree.splitlines()
    smj_at = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    assert not any("Exchange" in l for l in lines[smj_at + 1:]), tree


def test_token_budget_packing_one_shard_shuffle(spark, sf_smoke):
    """t_token_budget_packing: ONE hash(source) exchange serves both
    the sequential running sum and the (source, bin) aggregate — the
    window's partitioning is reused by the groupBy (source is a
    prefix of the grouping key), so a second shuffle is a regression.
    (The fan_out round-robin repartition before the window is exchange
    #2 in the static plan; the budget pins the pair.)"""
    a = plan(spark, sf_smoke, "t_token_budget_packing")
    assert a.n_exchanges <= 2, a.text
    assert not a.has_python_udf


def test_scd2_reuses_one_user_exchange(spark, sf_smoke):
    """e_scd2_state_intervals: lag, count, and both leads all partition
    by user_id with compatible orderings, so Catalyst must serve the
    whole gaps-and-islands build from ONE hash(user_id) exchange — a
    second exchange means a window stopped sharing the partitioning."""
    a = plan(spark, sf_smoke, "e_scd2_state_intervals")
    assert a.n_exchanges == 1, a.text
    assert not a.has_python_udf


def test_kmeans_final_assignment_is_map_side(spark, sf_smoke):
    """s_kmeans_cells: after training, the returned assignment plan is
    centroid literals applied map-side — only the fan_out round-robin
    repartition may shuffle; no join, no aggregation exchange."""
    a = plan(spark, sf_smoke, "s_kmeans_cells")
    assert a.n_exchanges <= 1, a.text
    assert a.n_sortmerge_joins == 0 and a.n_broadcast_joins == 0, a.text
    assert not a.has_python_udf


def test_ivf_kmeans_candidates_broadcast(spark, sf_smoke):
    """s_ivf_kmeans_topk: the probe side (Q×n_probe rows) must
    broadcast into the cell-id candidate join — a sort-merge join here
    would shuffle the whole indexed corpus per query batch."""
    a = plan(spark, sf_smoke, "s_ivf_kmeans_topk")
    assert a.n_broadcast_joins >= 1, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert not a.has_python_udf


def test_token_df_scores_prunes_and_stays_jvm(spark, sf_smoke):
    """t_token_df_scores: documents scan reads only (doc_id, text);
    scoring is pure Catalyst (no Python UDF in the explode→count→join
    →aggregate chain)."""
    a = plan(spark, sf_smoke, "t_token_df_scores")
    assert not a.has_python_udf
    scan = a.scan_for("documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_span_dedup_text_stays_off_hash_exchange(spark, sf_smoke):
    """t_span_dedup_rebuild: no Python UDF anywhere, and the
    first-occurrence decision must be the min-struct aggregation —
    i.e. no window function over the raw span rows (a window would
    drag span text through the hash exchange)."""
    a = plan(spark, sf_smoke, "t_span_dedup_rebuild")
    assert not a.has_python_udf
    assert "Window" not in a.text
    scan = a.scan_for("documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_salted_join_spreads_key(spark, sf_smoke):
    """j_salted_supplier_revenue: the join key must include the salt
    (spread is the whole point) and the small side is replicated, not
    the big side; pure Catalyst throughout."""
    a = plan(spark, sf_smoke, "j_salted_supplier_revenue")
    assert not a.has_python_udf
    assert "__salt" in a.text


def test_inverted_index_two_exchanges(spark, sf_smoke):
    """t_inverted_index: exactly the (term,doc) partial-count exchange
    and the (term,shard) segment exchange, plus load()'s fan_out
    repartition of the single small test file — the explode and
    posting assembly must not add shuffles. AQE may merge/elide at
    runtime; the static plan is the ceiling."""
    a = plan(spark, sf_smoke, "t_inverted_index")
    assert not a.has_python_udf
    assert a.n_exchanges <= 3, a.n_exchanges
    scan = a.scan_for("documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_incremental_dedup_joins_keys_not_text(spark, sf_smoke):
    """d_incremental_index_dedup: the probe join must carry band keys
    only — document text is consumed by the signature aggregation and
    never reaches a join; no Python UDF."""
    a = plan(spark, sf_smoke, "d_incremental_index_dedup")
    assert not a.has_python_udf
    scan = a.scan_for("documents")
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_fuzzy_join_blocks_before_levenshtein(spark, sf_smoke):
    """j_fuzzy_name_match: the self-join must be an equi-join on the
    blocking key (SortMergeJoin/BroadcastHashJoin with a key), never a
    cartesian/BroadcastNestedLoop over all name pairs."""
    a = plan(spark, sf_smoke, "j_fuzzy_name_match")
    assert not a.has_python_udf
    assert "CartesianProduct" not in a.text
    assert "BroadcastNestedLoopJoin" not in a.text
    assert a.n_broadcast_joins + a.n_sortmerge_joins >= 1


def test_checksum_single_aggregation(spark, sf_smoke):
    """a_table_checksum_rollup: map-side hashing + ONE rollup
    aggregation — static ceiling of 2 exchanges (rollup expand + the
    test-file fan-out repartition)."""
    a = plan(spark, sf_smoke, "a_table_checksum_rollup")
    assert not a.has_python_udf
    assert a.n_exchanges <= 2, a.n_exchanges


def test_round4_analytics_ops_stay_jvm_side(spark, sf_smoke):
    """Funnel, cohort, DQ report, JSON extraction, hopping windows,
    PageRank: pure Catalyst end to end — from_json and window() are
    codegen'd, no Python UDF anywhere."""
    for name in [
        "e_session_funnel",
        "e_cohort_retention",
        "x_data_quality_report",
        "e_json_extract_stats",
        "w_hopping_window_counts",
        "g_pagerank_part_supplier",
    ]:
        a = plan(spark, sf_smoke, name)
        assert not a.has_python_udf, name


def test_hopping_window_single_aggregation_exchange(spark, sf_smoke):
    """The 4x hop replication must happen map-side: one (window, type)
    exchange only."""
    a = plan(spark, sf_smoke, "w_hopping_window_counts")
    assert a.n_exchanges <= 1, a.n_exchanges


def test_funnel_reuses_one_user_exchange(spark, sf_smoke):
    """Sessionization windows and the per-session stage aggregation
    share the hash(user_id) partitioning; plus the final global
    rollup — ceiling 2 static exchanges."""
    a = plan(spark, sf_smoke, "e_session_funnel")
    assert a.n_exchanges <= 2, a.n_exchanges


def test_condition_benchmark_table_shape(spark, sf_smoke):
    """m_condition_benchmark_table (round 5): the whole table must be
    ONE codegen plan — no Python boundary, no sort-merge join (the
    hits/totals join is dimension-sized and broadcasts), and a bounded
    exchange count (scaffold agg + fan_out + combo count + rank window
    + the two tiny aggs/joins), far below the 6 independent sweeps the
    reference runs."""
    a = plan(spark, sf_smoke, "m_condition_benchmark_table")
    assert not a.has_python_udf
    assert a.n_sortmerge_joins == 0, a.text
    assert a.n_exchanges <= 16, a.text


def test_asof_join_is_union_window_not_nested_loop(spark, sf_smoke):
    """asof_purchase_after_click: the as-of join must execute as the
    union + window carry-forward (one hash(user_id) exchange class),
    never as a broadcast-nested-loop inequality join — the O(n·m)
    plan a naive ts <= ts join produces."""
    a = plan(spark, sf_smoke, "asof_purchase_after_click")
    assert not a.has_python_udf
    assert "BroadcastNestedLoopJoin" not in a.text, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert a.n_exchanges <= 2, a.text


def test_bloom_probe_is_mapside_broadcast(spark, sf_smoke):
    """a_bloom_filter_probe: the probe of the fact table must be pure
    map-side work against BROADCAST state (the one-row filter array
    and the dimension-sized build set) — no sort-merge join, no
    Python boundary; exchanges only for the tiny build/final aggs."""
    a = plan(spark, sf_smoke, "a_bloom_filter_probe")
    assert not a.has_python_udf
    assert a.n_sortmerge_joins == 0, a.text
    assert a.n_broadcast_joins >= 2, a.text
    scan = a.scan_for("orders")
    assert scan is not None and set(scan.read_columns) <= {"o_orderkey", "o_custkey"}


def test_prefix_filter_join_is_equi_not_cross(spark, sf_smoke):
    """d_prefix_filter_jaccard: every join must be an equi-join on
    shingle/id keys — the whole point is that no cross/nested-loop
    pair enumeration ever reaches the optimizer."""
    a = plan(spark, sf_smoke, "d_prefix_filter_jaccard")
    assert "BroadcastNestedLoopJoin" not in a.text, a.text
    assert "CartesianProduct" not in a.text, a.text
    assert not a.has_python_udf


def test_compaction_plan_windows_metadata_not_facts(spark, sf_smoke):
    """r_compaction_bin_packing: the facts are reduced by the (hour)
    aggregate BEFORE the global-order window — the single-partition
    window must sit above the per-hour planning table, bounded
    exchanges overall (hour agg + window + bin agg)."""
    a = plan(spark, sf_smoke, "r_compaction_bin_packing")
    assert not a.has_python_udf
    assert a.n_exchanges <= 4, a.text
    scan = a.scan_for("events")
    assert scan is not None and set(scan.read_columns) == {"ts", "event_type", "props"}


def test_incremental_maintenance_never_rescans_base_facts(spark, sf_smoke):
    """a_incremental_agg_maintenance: one scan builds the view, one
    builds the delta (inserts+deletes union) — the merge join runs on
    AGGREGATED rows only. Bounded exchange count; no Python."""
    a = plan(spark, sf_smoke, "a_incremental_agg_maintenance")
    assert not a.has_python_udf
    scan = a.scan_for("orders")
    assert scan is not None and set(scan.read_columns) <= {
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    }
    assert a.n_exchanges <= 6, a.text


def test_asof_forward_same_plan_class_as_backward(spark, sf_smoke):
    """asof_forward_next_click: the forward direction must keep the
    union + window plan — one key exchange class, no inequality
    nested-loop join."""
    a = plan(spark, sf_smoke, "asof_forward_next_click")
    assert not a.has_python_udf
    assert "BroadcastNestedLoopJoin" not in a.text, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert a.n_exchanges <= 2, a.text


def test_semantic_dedup_quadratic_confined_to_cells(spark, sf_smoke):
    """s_semantic_dedup_cells: cell assignment is map-side (broadcast
    centroid literals, no join to assign); the only self-join is the
    within-cell equi-join on the cell key."""
    a = plan(spark, sf_smoke, "s_semantic_dedup_cells")
    assert not a.has_python_udf
    assert "CartesianProduct" not in a.text, a.text
    assert "BroadcastNestedLoopJoin" not in a.text, a.text


def test_domain_cap_single_exchange(spark, sf_smoke):
    """t_domain_cap_sample: one (source) exchange serves the per-domain
    window (plus the fan_out input repartition the load helper adds at
    smoke SF); Spark additionally plans WindowGroupLimit — the
    partial/final top-k pruning that discards rows past the cap
    BEFORE the exchange, exactly the plan wanted at 100 TB."""
    a = plan(spark, sf_smoke, "t_domain_cap_sample")
    assert not a.has_python_udf
    assert a.n_exchanges <= 2, a.text
    assert "WindowGroupLimit" in a.text, a.text


def test_udtf_token_runs_is_mapside_python_table_function(spark, sf_smoke):
    """t_udtf_token_runs: the plan must actually contain the Python
    UDTF eval node (exercising the audit keyword added in r6), and the
    expansion must be map-side — no exchange between the scan and the
    UDTF (the fan_out repartition of the load helper is the only
    allowed exchange)."""
    a = plan(spark, sf_smoke, "t_udtf_token_runs")
    assert a.has_python_udf, a.text
    assert "UDTF" in a.text, a.text
    assert a.n_exchanges <= 1, a.text


def test_asof_nearest_one_exchange_two_sorts(spark, sf_smoke):
    """asof_nearest_click: both direction passes must share ONE key
    exchange class (two sorts, no second shuffle), and no inequality
    nested-loop join may appear."""
    a = plan(spark, sf_smoke, "asof_nearest_click")
    assert not a.has_python_udf
    assert "BroadcastNestedLoopJoin" not in a.text, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert a.n_exchanges <= 2, a.text


def test_no_global_window_over_unbounded_relation_in_bench_set(spark, sf_smoke):
    """r6 verdict finding #3: g_pagerank_part_supplier's final top-20
    ran a row_number() window with NO partition spec over the full
    node-rank table — a single-partition funnel at 100×. Guard the
    whole benched set: every unpartitioned Window in every headline
    plan must sit directly on an already-bounded relation (a top-k /
    limit node), never on an unbounded child."""
    from bench import HEADLINE

    BOUNDED = {"TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit"}
    # Metadata-scale exceptions, each justified in its query docstring:
    # none currently in the headline set (compaction's per-hour window
    # and the curation histogram's 64-bin window are not benched).
    offenders = {}
    for name in HEADLINE:
        gw = [c for c in plan(spark, sf_smoke, name).global_windows if c not in BOUNDED]
        if gw:
            offenders[name] = gw
    assert not offenders, f"unpartitioned Window over unbounded child: {offenders}"


def test_global_windows_subquery_tree_sections_still_scanned(spark, sf_smoke):
    """A Window that lives only inside a scalar subquery's plan is
    reported with the operator it reads: the audit walks every node's
    subqueries as well as its children. The filter and the scan both
    host this subquery; it runs once and is reported once."""
    nation = f"parquet.`{sf_smoke}/nation.parquet`"
    df = spark.sql(
        f"SELECT n_name FROM {nation} WHERE n_nationkey > (SELECT max(s) FROM "
        f"(SELECT sum(n_regionkey) OVER (ORDER BY n_nationkey) AS s FROM {nation}))"
    )
    a = audit(df)
    assert a.global_windows == ["Sort"], a.text
    # the filter on the subquery's value is pushed only once it has run
    assert a.scans[0].pushed_filters == ["IsNotNull(n_nationkey)"], a.scans


def test_audit_after_collect_walks_query_stages(spark, sf_smoke):
    """Once a frame has run, its adaptive plan is the final plan of
    query stages; the scans, exchanges and joins inside the stages are
    reported as they were before the run."""
    from pyspark.sql import functions as F

    from orderly_spark.tables import load

    o = load(spark, sf_smoke, "orders").filter(F.col("o_totalprice") > 1000.0)
    c = load(spark, sf_smoke, "customer")
    df = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).groupBy("c_mktsegment").count()
    before = audit(df)
    df.collect()
    after = audit(df)
    assert "QueryStage" in after.text and "QueryStage" not in before.text, after.text
    key = lambda s: s.location
    assert len(after.scans) == 2 and sorted(after.scans, key=key) == sorted(before.scans, key=key), after.text
    assert (after.n_exchanges, after.n_broadcast_joins) == (before.n_exchanges, before.n_broadcast_joins) == (1, 1)


def test_partitioned_scan_reports_partition_filters(spark, tmp_path):
    """A filter on a partitionBy column prunes directories: the scan
    reports it as a partition filter, the data filter as pushed, and
    reads only the data column."""
    path = str(tmp_path / "parts.parquet")
    spark.range(8).selectExpr("id", "id % 2 AS part").write.partitionBy("part").parquet(path)
    (scan,) = audit(spark.read.parquet(path).filter("part = 1 AND id > 2")).scans
    assert scan.location.endswith("parts.parquet"), scan
    assert scan.partition_filters and all("part" in f for f in scan.partition_filters), scan
    assert "GreaterThan(id,2)" in scan.pushed_filters, scan
    assert not any("part" in f for f in scan.pushed_filters), scan
    assert scan.read_columns == ["id"], scan


def test_pushed_in_filter_is_one_entry(spark, sf_smoke):
    """Each pushed filter is one entry, an In over a value list
    included (a text parser once split it at the list's commas)."""
    from pyspark.sql import functions as F

    from orderly_spark.tables import load

    df = load(spark, sf_smoke, "lineitem").filter(
        F.col("l_linenumber").isin(1, 2) & (F.col("l_quantity") > 5)
    )
    scan = audit(df.select("l_orderkey")).scan_for("lineitem")
    assert scan is not None
    assert sorted(scan.pushed_filters) == [
        "GreaterThan(l_quantity,5.0)",
        "In(l_linenumber, [1,2])",
        "IsNotNull(l_quantity)",
    ], scan


def test_read_columns_of_nested_struct_scan(spark, tmp_path):
    """A scan reads top-level column names, one per column, a nested
    struct column included; a pruned nested read keeps its top-level
    name."""
    path = str(tmp_path / "nested.parquet")
    spark.range(3).selectExpr(
        "timestamp_seconds(id) AS ts", "named_struct('a', id, 'b', id) AS r", "double(id) AS v"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert audit(df).scans[0].read_columns == ["ts", "r", "v"]
    assert audit(df.select("r.a")).scans[0].read_columns == ["r"]


def test_every_python_boundary_is_flagged(spark):
    """Each kind of Python operator Spark plans sets has_python_udf:
    scalar, grouped-agg and window pandas UDFs, the map/apply/cogroup
    functions over pandas and over Arrow."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType

    df = spark.range(8).selectExpr("id % 2 AS k", "double(id) AS v")
    # the UDF type is explicit: this module's string annotations defeat
    # pandas_udf's type-hint inference
    mean = F.pandas_udf(lambda v: v.mean(), "double", PandasUDFType.GROUPED_AGG)
    g = df.groupBy("k")
    frames = {
        "udf": df.select(F.udf(lambda v: v, "double")("v")),
        "scalar pandas": df.select(F.pandas_udf(lambda v: v, "double", PandasUDFType.SCALAR)("v")),
        "grouped agg": g.agg(mean("v")),
        "window": df.withColumn("m", mean("v").over(Window.partitionBy("k"))),
        "mapInPandas": df.mapInPandas(lambda it: it, df.schema),
        "mapInArrow": df.mapInArrow(lambda it: it, df.schema),
        "applyInPandas": g.applyInPandas(lambda t: t, df.schema),
        "applyInArrow": g.applyInArrow(lambda t: t, df.schema),
        "cogroup pandas": g.cogroup(g).applyInPandas(lambda a, b: a, df.schema),
        "cogroup arrow": g.cogroup(g).applyInArrow(lambda a, b: a, df.schema),
    }
    assert not audit(df).has_python_udf
    missed = [name for name, frame in frames.items() if not audit(frame).has_python_udf]
    assert not missed, missed


def test_pq_adc_joins_are_broadcast_no_nested_loop(spark, sf_smoke):
    """s_pq_adc_topk (r9): the ADC distance table and the query
    vectors must reach their joins as broadcasts (they are
    queries x m x k and queries sized), the code scan must never
    sort-merge or nested-loop, and the whole chain is codegen
    expressions — no Python boundary."""
    a = plan(spark, sf_smoke, "s_pq_adc_topk")
    assert not a.has_python_udf, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert "BroadcastNestedLoopJoin" not in a.text, a.text
    assert a.n_broadcast_joins >= 2, a.text


def test_rare_to_other_join_has_no_driver_materialisation(spark, sf_smoke):
    """c_rare_to_other: the A4 stage holds no driver state at any
    vocabulary size — no Catalyst InSet literal and no LocalTableScan
    of a collected set; the frequent set meets the members in a
    broadcast hash join and nothing sort-merges."""
    a = plan(spark, sf_smoke, "c_rare_to_other")
    assert "INSET" not in a.text.upper(), a.text
    assert "LocalTableScan" not in a.text, a.text
    assert a.n_broadcast_joins >= 1, a.text
    assert a.n_sortmerge_joins == 0, a.text


def test_training_prep_decontamination_stays_broadcast(spark, sf_smoke):
    """t_training_prep_pipeline (r10, verdict item 7): the
    decontamination stage depends on F.broadcast(eval_sh) staying a
    BroadcastHashJoin LeftSemi at scale — if the eval-shingle join
    ever degrades to a sort-merge join the capstone silently shuffles
    the full candidate corpus on shingle hash."""
    a = plan(spark, sf_smoke, "t_training_prep_pipeline")
    assert "BroadcastHashJoin LeftSemi" in a.text, a.text
    assert a.n_sortmerge_joins == 0, a.text


def test_morgan_fp_query_prunes_part_scan(spark, sf_smoke):
    """r11: the parsed-Morgan query wraps a pandas UDF around a
    synthesized template column — column pruning must survive the
    UDF: the part scan reads ONLY p_partkey (a scan dragging name/
    brand/price columns under an ArrowEvalPython node would ship
    dead columns through the Python worker at any scale)."""
    a = plan(spark, sf_smoke, "x_morgan_fp_parsed")
    assert a.has_python_udf  # it IS the UDF surface under test
    s = a.scan_for("part")
    assert s is not None
    assert s.read_columns == ["p_partkey"], s.read_columns


def test_bloom_lsh_incremental_prunes_map_side(spark, sf_smoke):
    """d_bloom_lsh_incremental (r13): the bloom sidecar must reach the
    probe as a BROADCAST (one-row bit-position array — never a
    shuffle), the exact index join must be a hash join fed by the
    bloom-filtered side (no sort-merge anywhere), and the whole probe
    chain stays codegen expressions — md5/conv/array_contains, no
    Python boundary."""
    a = plan(spark, sf_smoke, "d_bloom_lsh_incremental")
    assert not a.has_python_udf, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert a.n_broadcast_joins >= 1, a.text
    # the bloom containment filter exists as an expression on the
    # probe side (array_contains over the broadcast bit set)
    assert "array_contains" in a.text or "forall" in a.text, a.text


def test_bloom_verdict_only_streams_index_broadcast_semi(spark, sf_smoke):
    """d_bloom_verdict_only (r14, ADVICE medium): the r13 version put
    F.broadcast() on the LEFT side of a left-semi join — a shape Spark
    cannot build — so the hint was silently ignored and the plan
    degraded to a SortMergeJoin that shuffled AND sorted the full
    historical index. The fixed shape broadcasts the batch's distinct
    bloom-positive buckets to the BUILD (right) side: the index must
    stream through a BroadcastHashJoin LeftSemi with no sort-merge
    join anywhere, and no pair-count aggregate over (new, old) doc
    pairs (the verdict is existence-only)."""
    a = plan(spark, sf_smoke, "d_bloom_verdict_only")
    assert not a.has_python_udf, a.text
    assert a.n_sortmerge_joins == 0, a.text
    assert "BroadcastHashJoin LeftSemi" in a.text, a.text
    # existence short-circuit: no count over __old / pair columns
    assert "__old" not in a.text, a.text


def test_canonical_query_prunes_part_scan(spark, sf_smoke):
    """r13: x_canonical_smiles doubles the pandas-UDF depth (canon +
    idempotence re-canon) over a synthesized template column — column
    pruning must still reach the part scan (only p_partkey feeds the
    template synthesis; dead columns under two ArrowEvalPython nodes
    would ship through the Python worker twice)."""
    a = plan(spark, sf_smoke, "x_canonical_smiles")
    assert a.has_python_udf  # it IS the UDF surface under test
    s = a.scan_for("part")
    assert s is not None
    assert s.read_columns == ["p_partkey"], s.read_columns


def test_simhash_signature_materialised_once(spark, sf_smoke):
    """r15 (optimization round): the simhash signature relation is
    consumed by bands × 2 subtrees (each band's union branch on each
    self-join side); un-materialised, the tokenize + majority-vote
    kernel re-ran per consumer (16 corpus scans in the 4-band
    formatted plan). With the checkpoint, the final plan must read
    ONLY the materialised (id, sh) relation — no parquet scan, and
    only the candidate-join exchanges."""
    for name in ("d_simhash_pairs", "d_simhash4_pairs"):
        a = plan(spark, sf_smoke, name)
        assert "Scan parquet" not in a.text, f"{name}: signature barrier lost"
        assert a.n_exchanges <= 2, f"{name}: {a.n_exchanges} exchanges\n{a.text}"


def test_semantic_dedup_tail_join_broadcasts(spark, sf_smoke):
    """r15 (optimization round): both sides of semantic_dedup_stats'
    tail join are cell-count-sized (bounded by len(cents), a
    driver-known list), but the dropped aggregate derives from the
    within-cell self-join whose inflated size estimate forced a
    SortMergeJoin. The explicit broadcast must hold."""
    a = plan(spark, sf_smoke, "s_semantic_dedup_cells")
    assert a.n_sortmerge_joins == 0, a.text


def test_incremental_index_tail_join_broadcasts(spark, sf_smoke):
    """r15 (optimization round): d_incremental_index_dedup's final
    left join builds against the per-new-doc match counts — bounded
    by the ingest batch, the side the op's contract declares
    broadcastable — but checkpoint-derived stats are opaque to
    Catalyst, which planned a SortMergeJoin. The explicit broadcast
    must hold."""
    a = plan(spark, sf_smoke, "d_incremental_index_dedup")
    assert a.n_sortmerge_joins == 0, a.text
