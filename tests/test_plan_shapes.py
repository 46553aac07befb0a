"""Physical-plan regression tests: the scale claims (pushdown, pruning,
broadcast, no stray shuffles) asserted against `.explain` output so a
refactor can't silently regress them."""

from __future__ import annotations

import contextlib
import io


from autonomous_orchestrator_ai_spark.plans import registry

SF = "/root/testdata/sf0.001"


def formatted_plan(spark, name: str) -> str:
    registry.load_all()
    df = registry.QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_nodes(plan: str) -> list[str]:
    """Operator names from the detail section — one entry per physical node
    (the tree section would double-count)."""
    import re

    return re.findall(r"^\(\d+\) (\w+)", plan, re.M)




def test_q6_pushdown_and_pruning(spark):
    plan = formatted_plan(spark, "tpch_q6_forecast_revenue")
    # all three predicates reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    # projection pruned to exactly the needed columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]:
        assert col in read_schema
    assert "l_orderkey" not in read_schema


def test_q5_joins_are_broadcast(spark):
    plan = formatted_plan(spark, "tpch_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # every dim side broadcast at this SF


def test_q1_partial_aggregation(spark):
    nodes = plan_nodes(formatted_plan(spark, "tpch_q1_pricing_summary"))
    # map-side partial + final: two HashAggregates around one Exchange
    assert nodes.count("HashAggregate") == 2
    assert nodes.count("Exchange") == 1
    # whole-stage codegen subtrees exist (AQE hides *(n) markers in the
    # pre-execution simple plan, so ask the codegen explain directly)
    registry.load_all()
    df = registry.QUERIES["tpch_q1_pricing_summary"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_pipeline_run_report_single_scan(spark):
    nodes = plan_nodes(formatted_plan(spark, "pipeline_run_report"))
    assert nodes.count("Scan") == 1  # all four counters, one pass
    assert nodes.count("Exchange") == 1  # single-row final combine only


def test_top_k_uses_take_ordered(spark):
    plan = formatted_plan(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 10


def test_asof_join_single_shuffle_for_window(spark):
    nodes = plan_nodes(formatted_plan(spark, "purchase_asof_signup"))
    # the union feeds ONE exchange (hash on user_id) for the running-last
    # window; the as-of join adds no join exchanges at all
    assert "Window" in nodes
    assert nodes.count("Exchange") == 1
    assert not any("Join" in n for n in nodes)


def test_no_cartesian_products_in_relational_queries(spark):
    for name in [
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "returned_items_top_customers",
        "late_shipping_orders",
        "nation_region_lookup_join",
    ]:
        plan = formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_q7_dims_broadcast_one_fact_shuffle_join(spark):
    """Q7: the only non-broadcast join may be lineitem⋈orders; customer,
    supplier, and both nation copies must come in as broadcasts."""
    nodes = plan_nodes(formatted_plan(spark, "tpch_q7_volume_shipping"))
    assert nodes.count("BroadcastHashJoin") >= 4
    assert nodes.count("SortMergeJoin") <= 1


def test_q13_left_outer_and_two_aggregations(spark):
    plan = formatted_plan(spark, "tpch_q13_customer_distribution")
    assert "LeftOuter" in plan
    nodes = plan_nodes(plan)
    # per-customer agg + histogram agg, each split partial/final
    assert nodes.count("HashAggregate") == 4


def test_q16_distinct_agg_expands(spark):
    """COUNT(DISTINCT) compiles to Spark's two-phase distinct aggregate —
    the keyed expansion, never a global collect."""
    nodes = plan_nodes(formatted_plan(spark, "tpch_q16_supplier_part_variety"))
    assert nodes.count("HashAggregate") >= 3
    assert "BroadcastHashJoin" in nodes


def test_q15_threshold_is_broadcast_not_cartesian(spark):
    plan = formatted_plan(spark, "tpch_q15_top_supplier")
    # Catalyst rewrites crossJoin + equality filter into a broadcast hash
    # join keyed on the equality; a shuffled CartesianProduct would be a
    # scale bug
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin Cross" in plan or "BroadcastNestedLoopJoin" in plan


def test_deterministic_sample_is_map_side(spark):
    """The md5-threshold sampling predicate must stay a scan-stage filter:
    no exchange before the per-source aggregation, no join, no window."""
    nodes = plan_nodes(formatted_plan(spark, "sampled_corpus_profile"))
    assert not any("Join" in n for n in nodes)
    assert "Window" not in nodes
    # partial + final agg around the single groupBy(source) exchange; the
    # ensure_min_parallelism repartition adds one more exchange at most
    assert nodes.count("Exchange") <= 2


def test_stratified_sample_broadcasts_rates(spark):
    """The per-stratum threshold table rides a broadcast join — never a
    shuffle of the corpus keyed on the stratum."""
    plan = formatted_plan(spark, "stratified_sample_counts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_tokens_partial_agg_and_take_ordered(spark):
    plan = formatted_plan(spark, "top_tokens")
    nodes = plan_nodes(plan)
    # exploded tokens collapse map-side before the shuffle (partial+final)
    assert nodes.count("HashAggregate") == 2
    # the LIMIT never materializes a global sort
    assert "TakeOrderedAndProject" in nodes
    assert "Sort" not in nodes


def test_contamination_broadcasts_benchmark_shingles(spark):
    """The corpus side must never self-join or shuffle on shingles: the
    benchmark shingle set is the broadcast side of the probe join."""
    plan = formatted_plan(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    nodes = plan_nodes(formatted_plan(spark, "benchmark_contamination"))
    assert "CartesianProduct" not in nodes


def test_weighted_sample_is_take_ordered(spark):
    plan = formatted_plan(spark, "weighted_sample_docs")
    # A-ES top-k must be per-partition partial top-k, never a global sort
    assert "TakeOrderedAndProject" in plan
    nodes = plan_nodes(plan)
    assert "Sort" not in nodes and "Exchange" not in nodes


def test_gapfill_broadcasts_bounds_single_window(spark):
    plan = formatted_plan(spark, "hourly_gapfill_locf")
    nodes = plan_nodes(plan)
    # bucket bounds (1 row) and the dense grid side arrive by broadcast
    assert "BroadcastExchange" in nodes
    # LOCF is exactly one window pass
    assert nodes.count("Window") == 1
    assert "SortMergeJoin" not in nodes


def test_histogram_bounds_broadcast_two_scans(spark):
    plan = formatted_plan(spark, "value_histogram")
    nodes = plan_nodes(plan)
    assert "BroadcastExchange" in nodes
    # binning aggregates partially before the n_bins-row shuffle
    assert nodes.count("HashAggregate") >= 4  # bounds partial+final, bins partial+final
    scans = [n for n in nodes if n == "Scan"]
    assert len(scans) <= 2


def test_chunking_prunes_to_text_columns(spark):
    plan = formatted_plan(spark, "doc_chunk_stats")
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "source" in read_schema
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_semantic_dedup_joins_on_block(spark):
    plan = formatted_plan(spark, "semantic_dedup_survivors")
    # within-block self-join: equi-join on the block column, no cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filter_funnel_single_scan_single_exchange(spark):
    """The whole rule cascade is one conditional-sum aggregate: one scan
    of documents, one single-row combine exchange — never a re-filter per
    stage."""
    plan = formatted_plan(spark, "filter_funnel_report")
    nodes = plan_nodes(plan)
    assert sum(1 for n in nodes if n.startswith("Scan")) == 1
    assert nodes.count("Exchange") == 1
    # projection pruned to the rule inputs
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema and "n_chars" in read_schema
    assert "doc_id" not in read_schema


def test_shard_manifest_partial_agg(spark):
    """Shard rollup: map-side partial + final around one exchange."""
    plan = formatted_plan(spark, "training_shard_manifest")
    nodes = plan_nodes(plan)
    assert nodes.count("Exchange") <= 2  # distinct(source) needs Expand/2nd agg
    assert "HashAggregate" in nodes or "ObjectHashAggregate" in nodes


def test_domain_cap_window_is_partitioned(spark):
    """The cap's row_number partitions by source — no global window."""
    plan = formatted_plan(spark, "domain_cap_sample")
    assert "Window" in plan
    win_line = next(
        l for l in plan.splitlines() if "partition" in l.lower() and "source" in l
    )
    assert win_line


def test_mixture_plan_weights_broadcast(spark):
    """Weight delivery never shuffles: small maps ride as a create_map
    literal (no join node at all — the r4 fix for the constant
    createDataFrame+broadcast cost); large maps broadcast. Either way a
    SortMergeJoin on the weights is a regression."""
    plan = formatted_plan(spark, "mixture_epoch_plan")
    assert "SortMergeJoin" not in plan
    # the 20-source registered query takes the literal-map path: no
    # weights join should appear in the plan at all
    assert "Join" not in plan or "BroadcastHashJoin" in plan


def test_bm25_terms_broadcast_and_topk(spark):
    """The query-term list reaches the token stream as a broadcast join
    (never shuffling the corpus on token), and the final top-15 is
    TakeOrderedAndProject, not a global sort."""
    plan = formatted_plan(spark, "bm25_search_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_legs_cut_before_fusion(spark):
    """Both retrieval legs are cut to their top-100 by
    TakeOrderedAndProject BEFORE the RRF full-outer join, so fusion
    never scales with the corpus."""
    plan = formatted_plan(spark, "hybrid_rrf_topk")
    nodes = plan_nodes(plan)
    assert nodes.count("TakeOrderedAndProject") >= 3  # 2 legs + final
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_pit_join_is_keyed_not_cartesian(spark):
    """The point-in-time join must be an equi join on user_id with the
    interval predicate as a post-join filter — a range join that lost
    its equi key would appear as BroadcastNestedLoopJoin/Cartesian."""
    plan = formatted_plan(spark, "error_events_value_tier_pit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mutual_info_single_source_scan(spark):
    """mutual_information_pairs computes every pair from ONE scan of the
    events files (the pair list is exploded inline)."""
    nodes = plan_nodes(formatted_plan(spark, "event_type_time_mutual_info"))
    assert nodes.count("Scan") == 1

