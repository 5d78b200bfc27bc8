"""Physical-plan assertions — the 100 TB efficiency contract.

Correctness tests prove the operators compute the right answer; these
prove Catalyst produces the plan we designed for scale: dimension
joins broadcast (no sort-merge shuffle of the fact side), predicates
and projections reach the parquet scan, and no registered query ever
degenerates into a cartesian product of two large sides.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    plan = buf.getvalue()
    # A plan-cached DataFrame another test already EXECUTED explains as
    # AQE's final plan PLUS the "== Initial Plan ==" echo — every
    # operator would be counted twice. Operator-COUNT assertions run on
    # "simple" mode, where stripping the echo leaves the final plan.
    # "formatted" assertions are membership checks on the per-node
    # detail section, which prints AFTER the echo — keep it whole.
    if mode == "simple":
        return plan.split("== Initial Plan ==")[0]
    return plan


def test_flagship_broadcasts_all_dimensions(spark):
    """customer/nation/region enrichment must plan as broadcast-hash
    joins WITHOUT any hint on customer (customer is SF-proportional;
    only nation/region carry hints) — certifying the engine picks the
    BHJ from size stats alone at bench SF, and is therefore free to
    fall back to a shuffle join when customer is terabytes at 100 TB."""
    plan = plan_str(REGISTRY["flagship_order_enrichment"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_pricing_summary_pushdown_and_pruning(spark):
    """The shipdate filter must reach the parquet scan (row-group
    pruning) and the scan must read only the 9 referenced columns."""
    plan = plan_str(REGISTRY["pricing_summary"].fn(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    # column pruning: untouched wide columns must not be scanned
    assert "l_partkey" not in plan, plan
    assert "l_suppkey" not in plan, plan


def test_pricing_summary_partial_aggregation(spark):
    """Group-by must run map-side partial then final aggregation —
    the shuffle carries pre-combined rows, not the raw fact table."""
    plan = plan_str(REGISTRY["pricing_summary"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("HashAggregate") >= 2, plan


def test_minhash_signature_single_shuffle(spark):
    """The K-minhash aggregation is ONE groupBy pass over exploded
    shingles (partial_min map-side); no join back to the doc table."""
    from football_etl_spark.io.loader import load_table
    from football_etl_spark.operators.dedup import minhash_signatures

    d = load_table(spark, SF_SMOKE, "documents")
    plan = plan_str(minhash_signatures(d), "simple")
    # exactly one hash-partitioned (shuffle-for-agg) exchange; the
    # round-robin exchange is ensure_min_partitions restoring local
    # parallelism over a compact single-file input
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_uses_broadcast(spark):
    """The as-of composition must broadcast the small build side rather
    than shuffling both inputs."""
    plan = plan_str(REGISTRY["purchase_asof_login"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_product_anywhere(spark, name):
    """No registered query may plan an unbounded cartesian product.
    (Broadcast nested-loop against an explicitly broadcast, bounded
    query set — ANN top-k — is the one sanctioned n×m pattern.)"""
    qd = REGISTRY[name]
    plan = plan_str(qd.fn(spark, SF_SMOKE), "simple")
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product:\n{plan}"


def test_chunking_is_map_only(spark):
    """Token-window chunking must plan ZERO shuffles — at 100 TB it is
    a pure scan→explode projection (the round-robin repartition from
    ensure_min_partitions is allowed; no hashpartitioning exchange)."""
    plan = plan_str(REGISTRY["chunked_documents"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_vocab_topk_avoids_global_sort(spark):
    """The vocabulary top-k must compile to TakeOrderedAndProject
    (parallel per-partition top-k + merge), not a full global Sort of
    the vocabulary through one partition."""
    plan = plan_str(REGISTRY["vocab_top_terms"].fn(spark, SF_SMOKE), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_pack_shards_single_bucket_shuffle(spark):
    """Shard packing shuffles ONCE on the bucket key for the
    cumulative-sum window; nothing else."""
    plan = plan_str(REGISTRY["packed_training_shards"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_nested_flatten_is_map_only(spark):
    """The nested-JSON ingest flatten is scan→project: one from_json
    pass, no shuffle, no join. EXACTLY one parse: without the observe
    pushdown boundary, Catalyst plants four more from_json calls into
    the pushed required-field filter (measured 2-3× slower)."""
    df = REGISTRY["nested_event_flatten"].fn(spark, SF_SMOKE)
    plan = plan_str(df, "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("from_json") == 1, opt


def test_multimodal_decode_is_map_only_single_decode(spark):
    """The multimodal decode query is one render→decode→project pass:
    no join, no shuffle, exactly one mapInPandas (Python) stage — the
    join-back formulation re-ran the decode 3×."""
    plan = plan_str(REGISTRY["multimodal_decode"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_kmeans_assignment_is_map_only(spark):
    """Final k-means assignment is one Arrow pass over the corpus —
    no join, no shuffle, one Python evaluation (the K*D centroid
    table rides the closure, not a join)."""
    plan = plan_str(REGISTRY["kmeans_embedding_clusters"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_semantic_dedup_single_cell_shuffle(spark):
    """SemDeDup = assignment pass + ONE shuffle on cid into the
    per-cell matmul kernel; the verdicts come straight out of the
    kernel (no join-back, which would re-run assignment)."""
    plan = plan_str(REGISTRY["semantic_dedup_docs"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_epoch_shuffle_offsets_are_jvm_literal(spark):
    """The 256-row cumulative-offset control plane must be a JVM
    literal relation: a Python-RDD-backed createDataFrame local
    relation re-launches a Python worker on every execution."""
    plan = plan_str(REGISTRY["epoch_shuffle_positions"].fn(spark, SF_SMOKE), "simple")
    assert "Scan ExistingRDD" not in plan, plan


def test_decontamination_is_map_only(spark):
    """The closure-probe decontamination path plans no join and no
    hash shuffle: per-doc counts are row-local facts, the eval suite
    rides the Arrow kernel's closure (round-robin repartition for
    parallelism over the compact input is allowed)."""
    plan = plan_str(REGISTRY["benchmark_decontamination"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_partitioned_read_prunes_at_file_listing(spark):
    """The order_year predicate must be a PartitionFilter (resolved at
    file listing — only one year's directories scanned), not a data
    filter evaluated per row."""
    plan = plan_str(REGISTRY["partitioned_sink_pruned_read"].fn(spark, SF_SMOKE))
    assert "PartitionFilters: [isnotnull(order_year" in plan or \
           "PartitionFilters: [(order_year" in plan, plan


def test_backlog_semi_join_has_equi_key(spark):
    """The Q4-shaped EXISTS must compile to a LeftSemi HASH join on
    the orderkey (residual shipdate predicate attached), never a
    nested-loop scan of lineitem per order, and the quarter filter
    must reach the orders parquet scan."""
    plan = plan_str(REGISTRY["order_priority_backlog"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in plan, plan


def test_promo_ratio_single_broadcast_and_partial_agg(spark):
    """Q14 shape: part joins UNHINTED (SF-proportional) and the
    planner must still choose the BHJ from stats at bench SF; the
    month filter pushes to the lineitem scan, and ONE partial-combined
    scalar row crosses the SinglePartition exchange."""
    plan = plan_str(REGISTRY["promo_revenue_ratio"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") == 2, plan
    fmt = plan_str(REGISTRY["promo_revenue_ratio"].fn(spark, SF_SMOKE))
    assert "GreaterThanOrEqual(l_shipdate,1997-09-01" in fmt, fmt


def test_large_volume_broadcasts_survivors_not_facts(spark):
    """Q18 shape: the only hash shuffle is the lineitem groupBy; the
    HAVING survivor set must be chosen as the BROADCAST side of both
    enrichment joins WITHOUT a hint (it is small-but-SF-proportional,
    so the choice must stay with the planner/AQE), and orders and
    customer are never shuffled at bench SF."""
    plan = plan_str(REGISTRY["large_volume_customers"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_disjunctive_predicate_derives_per_side_pushdown(spark):
    """Q19 shape: the OR-of-ANDs cannot be split across sides, but
    Catalyst must derive the implied per-side disjunctions and push
    them into BOTH parquet scans (lineitem quantity bands; part
    brand/size bands) so the join probes candidates only."""
    plan = plan_str(REGISTRY["disjunctive_part_revenue"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    # derived lineitem-side prefilter reached the scan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan
    # derived part-side prefilter reached the scan
    assert "EqualTo(p_brand,Brand#13)" in plan, plan


def test_dormant_scalar_broadcast_and_anti_join(spark):
    """Q22 shape: the balance threshold crosses as a 1-row
    IdentityBroadcastMode relation (bounded by construction — the
    sanctioned scalar pattern), the NOT EXISTS is a LeftAnti hash
    join, and the recency filter reaches the orders scan so only
    recent orderers' keys are built."""
    plan = plan_str(REGISTRY["dormant_high_value_customers"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan
    assert "IdentityBroadcastMode" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,2000-06-01" in plan, plan


def test_incremental_dedup_band_join_no_self_pairs(spark):
    """The incremental screen must be ONE equi band-join between the
    incoming and corpus band tables — no cartesian, no join back to a
    signature table (signatures ride the band join as arrays)."""
    plan = plan_str(REGISTRY["incremental_corpus_dedup"].fn(spark, SF_SMOKE), "simple")
    assert "CartesianProduct" not in plan, plan
    # band equi-join + verdict left join; the signature tables are
    # never re-joined (would add two more joins)
    assert plan.count("Join") <= 3, plan


def test_video_frame_scan_single_decode_pass(spark):
    """The video pipeline is render→decode→sample in ONE map-only
    pass: no join, no shuffle, exactly one mapInPandas stage — the
    every-2nd-frame sampling is a plain filter over the decoder's
    per-frame rows, never a second decode."""
    plan = plan_str(REGISTRY["video_frame_scan"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_winsorized_single_group_exchange(spark):
    """ALL stages — both window passes (rank+count, bound attach) AND
    the final aggregate — must share ONE hash exchange on the group
    key: the agg's required distribution is already satisfied by the
    window's partitioning, so Catalyst plans no second shuffle and no
    join."""
    plan = plan_str(REGISTRY["winsorized_priority_spend"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_skew_profile_no_global_sort(spark):
    """The skew profile must top-N via TakeOrderedAndProject (never a
    full sort of the key dictionary) and carry the totals as a
    broadcast scalar, not a shuffle join."""
    plan = plan_str(REGISTRY["event_key_skew_profile"].fn(spark, SF_SMOKE), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_order_distribution_two_aggs_outer_join(spark):
    """Q13 shape: the priority filter lives in the JOIN (zero-order
    customers survive), then exactly two aggregation exchanges —
    per-customer count and the distribution fold."""
    plan = plan_str(REGISTRY["customer_order_distribution"].fn(spark, SF_SMOKE), "simple")
    assert "LeftOuter" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_top_supplier_argmax_is_broadcast_equality(spark):
    """Q15 shape: the MAX scalar must come back as a broadcast (1-row
    by construction) keyed on the normalized double — never a sort of
    the whole aggregate or a shuffle join against it."""
    plan = plan_str(REGISTRY["top_revenue_supplier"].fn(spark, SF_SMOKE), "simple")
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "GlobalLimit" not in plan, plan  # argmax ≠ order-by-limit here


def test_profit_star_broadcasts_all_dims(spark):
    """Q9 shape: part/supplier (unhinted — SF-proportional) and the
    hinted 25-row nation must all plan as broadcast sides into the
    lineitem scan at bench SF (no dim shuffles the fact), and the
    p_name contains-filter must reach the part scan."""
    plan = plan_str(REGISTRY["nation_profit_trend"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    fmt = plan_str(REGISTRY["nation_profit_trend"].fn(spark, SF_SMOKE))
    assert "StringContains(p_name,widget)" in fmt, fmt


def test_sole_blame_rewrite_single_fact_pass(spark):
    """Q21 shape: the double-correlated EXISTS/NOT-EXISTS must NOT
    plan as three lineitem scans with correlated joins — the grouped
    rewrite reads lineitem ONCE, aggregates per order, and finishes
    on supplier-cardinality data (TakeOrderedAndProject top-N)."""
    plan = plan_str(REGISTRY["sole_blame_late_suppliers"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_two_scans_window_df(spark):
    """BM25: exactly TWO corpus scans (postings + the reduced stats
    aggregate) — doc-frequency must come from the count window over
    term-partitioned postings, not a groupBy relation that re-runs
    the tokenize subtree; the top-5 must push into WindowGroupLimit."""
    plan = plan_str(REGISTRY["bm25_topk_docs"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_variant_extraction_is_map_only(spark):
    """The variant path extraction + grouped aggregate is one scan →
    project → partial-agg plan: no join, a single hash exchange, and
    the variant parse stays inside the projection (no Python)."""
    plan = plan_str(REGISTRY["variant_event_facts"].fn(spark, SF_SMOKE), "simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Python" not in plan, plan


def test_except_plans_as_anti_join(spark):
    """EXCEPT must compile to a left-anti join over distinct rows with
    the recency filter pushed to the orders scan — never a full
    materialized set difference."""
    plan = plan_str(REGISTRY["except_dormant_segment"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,2000-06-01" in plan, plan


def test_returned_losses_dims_broadcast_fact_agg_first(spark):
    """Q10 shape: the quarter-filtered orders slice and the
    customer-bounded aggregate must both plan as BROADCAST sides
    unhinted (both are SF-proportional — the planner sizes them); the
    two pushed filters (quarter, returnflag) reach their scans; the
    top-20 is TakeOrderedAndProject."""
    plan = plan_str(REGISTRY["returned_item_losses"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,1998-01-01" in plan, plan


def test_major_parts_total_is_scalar_broadcast(spark):
    """Q11 shape: the global total must cross as a 1-row broadcast
    over the per-part aggregate — one fact shuffle total, no second
    scan of lineitem (the total derives from the aggregate, but
    Catalyst re-runs the subtree for the scalar branch: assert the
    fact is scanned at most twice and never joined shuffled)."""
    plan = plan_str(REGISTRY["major_revenue_parts"].fn(spark, SF_SMOKE), "simple")
    assert "IdentityBroadcastMode" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("FileScan parquet") <= 2, plan


def test_small_quantity_decorrelated_join_back(spark):
    """Q17 shape: the correlated per-part average must be a plain
    aggregate joined back on partkey — no per-row re-scan, no
    cartesian; the brand filter reaches the part scan."""
    plan = plan_str(REGISTRY["small_quantity_part_revenue"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "EqualTo(p_brand,Brand#23)" in plan, plan


def test_ppm_decode_single_pass(spark):
    """Color decode is render→decode in ONE map-only Arrow pass."""
    plan = plan_str(REGISTRY["multimodal_decode_ppm"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_nation_pair_derives_per_side_prefilters(spark):
    """Q7 shape: the symmetric cross-side pair disjunction cannot
    anchor one side, but both nation dims must arrive pre-filtered
    (derived IN-pair pushdown) and all dims broadcast around the one
    fact-fact shuffle."""
    plan = plan_str(REGISTRY["nation_pair_trade_volume"].fn(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # derived per-side disjunction reached both nation scans
    assert plan.count("EqualTo(n_name,NATION_19)") >= 2, plan


def test_market_share_single_agg_pass(spark):
    """Q8 shape: numerator and denominator are conditional sums in
    the SAME aggregation — one fact scan, one grouped exchange, no
    self-join; the part-type filter reaches its scan."""
    plan = plan_str(REGISTRY["nation_market_share"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 5, plan  # each table once
    assert "SortMergeJoin" not in plan, plan
    fmt = plan_str(REGISTRY["nation_market_share"].fn(spark, SF_SMOKE))
    assert "EqualTo(p_type,PROMO)" in fmt, fmt


def test_cheapest_supplier_argmin_rejoin(spark):
    """Q2 shape: per-part MIN equality-rejoin, dims broadcast, size
    filter pushed; no cartesian (the float equality is an equi key)."""
    plan = plan_str(REGISTRY["cheapest_supplier_per_part"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "LessThanOrEqual(p_size,10)" in plan, plan


def test_supplier_count_not_in_is_anti_join(spark):
    """Q16 shape: the null-free NOT IN must compile to a LeftAnti
    hash join with the (unhinted, supplier-derived) excluded set as
    the build side, and the negated predicates still push to the
    part scan."""
    plan = plan_str(REGISTRY["supplier_count_by_part_attrs"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan
    assert "Not(EqualTo(p_brand,Brand#13))" in plan, plan
    assert "In(p_size" in plan, plan


def test_excess_stock_nested_in_is_semi_chain(spark):
    """Q20 shape: both INs must compile to LeftSemi joins — never a
    correlated re-execution — with the bolt filter pushed."""
    plan = plan_str(REGISTRY["excess_stock_suppliers"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("LeftSemi") == 2, plan
    assert "CartesianProduct" not in plan, plan
    fmt = plan_str(REGISTRY["excess_stock_suppliers"].fn(spark, SF_SMOKE))
    assert "StringContains(p_name,bolt)" in fmt, fmt


def test_funnel_single_scan_single_exchange(spark):
    """The funnel's three stage times must resolve as cascaded Window
    operators over ONE user_id exchange and ONE events scan — the
    single-pass rewrite of the oracle's 3-scan join cascade."""
    plan = plan_str(REGISTRY["conversion_funnel"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_percentile_certificate_shares_rank_exchange(spark):
    """approx_percentile_error_bound: the exact rank brackets (window)
    and their per-group rollup must share ONE o_orderpriority exchange
    (the winsorized_stats technique), the sketch side adds its own
    partial-combined agg, and the 5-row bracket⋈sketch join must be
    broadcast — never a sort-merge shuffle of either side."""
    plan = plan_str(REGISTRY["approx_percentile_error_bound"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hll_certificate_broadcast_join(spark):
    """hll_reach_error_bound: the sketch rollup and the exact count
    meet in a broadcast join of two ~5-row aggregates — the certificate
    must not plan a shuffle join for dimension-sized verdict tables."""
    plan = plan_str(REGISTRY["hll_reach_error_bound"].fn(spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_streaming_entries_return_shuffle_free_reads(spark):
    """The three streaming entries do their work inside the streaming
    job at construction; the RETURNED plan must be a plain scan/project
    of the landed table — zero exchanges, zero joins — so the driver's
    comparison reads exactly what the stream committed."""
    for name in ("streaming_bronze_ingest", "streaming_silver_upsert"):
        plan = plan_str(REGISTRY[name].fn(spark, SF_SMOKE), "simple")
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_raw_dump_ingest_is_map_only_single_parse(spark):
    """The DataSource→peel→explode→flatten chain is map-only (no
    exchange — partition-per-capture-file parallelism is preserved end
    to end) with exactly ONE from_json parse of each event (the
    candidate-path coalesces are struct-field accesses, not
    re-parses)."""
    plan = plan_str(REGISTRY["raw_dump_ingest"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange" not in plan, plan
    assert plan.count("from_json") == 1, plan


# --- entries promoted from the retired staged tier: scale contracts ---


def test_q12_pushdown_partial_agg_no_cartesian(spark):
    """Q12 shape: the IN-list AND both shipdate bounds must
    reach the lineitem scan (at 100 TB the 2-year slice prunes row
    groups before the orderkey join), the 2-value groupBy must partial-
    aggregate map-side, and the residual late-by-30-days predicate
    must not degrade the join to a nested loop."""
    plan = plan_str(REGISTRY["q12_priority_shipping"].fn(spark, SF_SMOKE))
    assert "In(l_returnflag, [A,R])" in plan, plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan, plan
    assert "LessThan(l_shipdate,1998-01-01" in plan, plan
    simple = plan_str(REGISTRY["q12_priority_shipping"].fn(spark, SF_SMOKE), "simple")
    assert simple.count("HashAggregate") >= 2, simple
    assert "CartesianProduct" not in simple and "NestedLoop" not in simple, simple


def test_pq_serving_single_scan_no_joins(spark):
    """PQ ADC serving: distances come from the per-query lookup
    tables closed over the Arrow kernel — the plan must scan the
    corpus ONCE, plan ZERO joins (the LUT is driver-side control
    plane, never a relation), and rank via a per-query window."""
    plan = plan_str(REGISTRY["pq_adc_ann_topk"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_multi_band_counts_single_scan(spark):
    """Q88 shape: eight band counts must come from ONE lineitem
    scan with map-side partial aggregation — never the literal 8-way
    cross join of single-count subqueries."""
    plan = plan_str(REGISTRY["multi_band_scan_counts"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_point_in_time_join_equi_key_with_range_residual(spark):
    """Point-in-time lookup: the interval predicate must ride
    as a residual on a HASH join keyed on user_id — at 100 TB a
    nested-loop scan of the SCD2 history per fact is unrunnable."""
    plan = plan_str(REGISTRY["point_in_time_state_join"].fn(spark, SF_SMOKE), "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan and "user_id" in plan, plan


def test_rolling_median_single_exchange(spark):
    """rolling_median_spend: one hash exchange on o_custkey serves
    BOTH the daily rollup (clustering on (o_custkey, di) is satisfied
    by partitioning on o_custkey alone) and the window's
    partitionBy — the r8 plan contract its docstring claims."""
    qd = REGISTRY["rolling_median_spend"]
    plan = plan_str(qd.fn(spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_gram_matrix_shuffle_is_dim_bounded(spark):
    """embedding_gram_matrix: the only exchange is the dim²-row
    partial-sum groupBy downstream of mapInPandas — the N×d data
    itself must never shuffle (no exchange between the scan and the
    Python stage)."""
    qd = REGISTRY["embedding_gram_matrix"]
    plan = plan_str(qd.fn(spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "MapInPandas" in plan, plan
    # the hash exchange must sit ABOVE the Python stage (partials),
    # not below it (which would shuffle the full embedding corpus)
    assert plan.index("Exchange hashpartitioning") < plan.index("MapInPandas"), plan


def test_join_skew_profile_take_ordered(spark):
    """join_skew_profile's top-10 must plan as TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global sort."""
    qd = REGISTRY["join_skew_profile"]
    plan = plan_str(qd.fn(spark, SF_SMOKE), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_half_sample_stderr_single_aggregation_no_joins(spark):
    """The BRR estimator must live INSIDE the mean's own aggregation:
    one partial+final agg pair over the scan, no join, no window, no
    per-replicate re-read of the fact table."""
    plan = plan_str(REGISTRY["half_sample_stderr_revenue"].fn(spark, SF_SMOKE), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final


def test_lorenz_gini_rank_is_bucket_partitioned(spark):
    """The radix rank must window-partition BY BUCKET — a global
    single-partition rank window (partitioning on nothing) is the
    exact shape the entry exists to avoid."""
    plan = plan_str(REGISTRY["lorenz_gini_order_value"].fn(spark, SF_SMOKE), "simple")
    rank_windows = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "row_number" in ln
    ]
    # exactly one rank window, and its partition spec is the radix
    # bucket — the decile-level cum/totals windows (10 rows) may stay
    # constant-partitioned, that's the sanctioned control-plane size
    assert len(rank_windows) == 1 and "__b" in rank_windows[0], plan


def test_entropy_pivot_never_shuffles_type_grain(spark):
    """The bounded-domain fast path must aggregate (user, day) ONCE —
    no (user, day, event_type) grouping anywhere in the plan."""
    plan = plan_str(REGISTRY["user_day_entropy_profile"].fn(spark, SF_SMOKE), "simple")
    # the conditional sums may READ event_type, but no exchange may
    # ever PARTITION on it — that's the 22.5M-row intermediate the
    # pivot exists to remove
    shuffles = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(shuffles) == 2, plan  # (user, day) agg + entropy-bin agg
    assert all("event_type" not in ln for ln in shuffles), plan
