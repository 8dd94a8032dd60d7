"""Physical-plan audits: assert the engine's queries produce the plans
we'd want at 100 TB — filters pushed to the parquet scan, read schemas
pruned, dimension joins broadcast, no cartesian products, whole-stage
codegen alive. These are the scale guarantees that correctness tests
can't see."""

from __future__ import annotations

import re

from conftest import PARITY_SF_DIR, spark_conf

from film_media_etl_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    assert_whole_stage_codegen,
    plan_summary,
)
from film_media_etl_spark.queries import all_queries


def _q(name, spark):
    return all_queries()[name](spark, PARITY_SF_DIR)


def test_flagship_pushdown_and_pruning(spark):
    df = _q("flagship_revenue_by_year", spark)
    # join-key null rejection reaches both scans
    assert_pushed_filters(df, "IsNotNull(l_orderkey)", "IsNotNull(o_orderkey)")
    # revenue-by-year needs few lineitem columns; a full-width scan is wrong
    assert_read_schema_pruned(df, "lineitem", 4)
    assert_whole_stage_codegen(df)
    assert_no_cartesian(df)


def test_filter_ops_push_to_scan(spark):
    assert_pushed_filters(_q("op07_filter_notnull", spark), "o_orderdate")
    assert_pushed_filters(_q("op08_filter_compare", spark), "o_totalprice")
    assert_pushed_filters(_q("op09_filter_inlist", spark), "In(")


def test_snowflake_join_broadcasts_dims(spark):
    df = _q("op14_multiway_inner_join", spark)
    assert_broadcast_join(df, 2)  # nation and region ride broadcast
    assert_no_cartesian(df)


def test_topk_is_takeordered_not_full_sort(spark):
    from film_media_etl_spark.plans import physical_plan

    plan = physical_plan(_q("op29_topk_limit", spark))
    assert "TakeOrderedAndProject" in plan, "top-k should not globally sort"


def test_dedup_minhash_no_cartesian(spark):
    df = _q("ext_dedup_minhash", spark)
    assert_no_cartesian(df)


def test_asof_join_single_shuffle_no_cartesian(spark):
    """The union+window as-of join must cost exactly one data shuffle
    (the key partition for the window) — a range-join formulation would
    show a nested-loop/cartesian here."""
    from film_media_etl_spark.plans import plan_summary

    df = _q("ext_asof_join", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0
    assert s["exchanges"] <= 3  # side aggs + one window partition exchange


def test_interval_join_is_hash_join_on_key(spark):
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_interval_join", spark))
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0


def test_partitioned_scan_prunes_directories(spark):
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_partitioned_scan", spark)
    plan = physical_plan(df)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "year" in m[0].split("PartitionFilters")[1][:80], (
        "year predicate did not become a PartitionFilter (directory pruning)"
    )


def test_bucketed_join_has_no_join_side_exchange(spark):
    """The whole point of the bucketed layout: the SMJ must consume the
    bucketed scans directly — any Exchange feeding the join means the
    planner ignored the buckets."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_bucketed_join", spark)
    df.collect()  # finalize AQE
    plan = physical_plan(df)
    assert "Bucketed: true" in plan, "scans are not bucketed"
    assert "SortMergeJoin" in plan
    # walk the final-plan lines: no Exchange may appear between the join
    # and its bucketed scans (the only legal Exchange is the post-join agg)
    lines = plan.splitlines()
    # NB the AQE plan string contains final + initial plan copies; bound
    # the walk to the first join's OWN two bucketed scans.
    join_idx = [i for i, ln in enumerate(lines) if "SortMergeJoin" in ln]
    scans_after = [i for i, ln in enumerate(lines) if "Bucketed: true" in ln and i > join_idx[0]]
    last_scan = sorted(scans_after)[1]  # the join's second (right-side) scan
    assert not any(
        "Exchange" in lines[i] for i in range(join_idx[0], last_scan)
    ), "Exchange between SortMergeJoin and its bucketed scans"


def test_ranking_window_single_exchange(spark):
    """Ranking windows partition on a real key: one hash exchange, a
    per-partition sort, and NEVER a SinglePartition collapse."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_window_ranking", spark))
    assert s["single_partition_exchanges"] == 0
    assert s["window_nodes"] >= 1

    s = plan_summary(_q("ext_window_leadlag", spark))
    assert s["single_partition_exchanges"] == 0


def test_semi_anti_join_no_cartesian_and_pruned(spark):
    df = _q("ext_semi_anti_join", spark)
    assert_no_cartesian(df)
    # the probe side must be pruned to the join key only
    assert_read_schema_pruned(df, "orders", 1)


def test_funnel_single_shuffle(spark):
    """Funnel = one groupBy(user_id) then a global scalar agg — the only
    data-sized exchange is the user_id hash partition."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_funnel", spark))
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0
    # user_id hash + final single-row agg (SinglePartition over 1 row is fine)
    assert s["exchanges"] <= 3


def test_stats_agg_single_exchange(spark):
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_stats_agg", spark))
    assert s["single_partition_exchanges"] == 0
    assert s["exchanges"] <= 2  # partial/final agg pair on event_type


def test_exists_subquery_decorrelates_to_hash_joins(spark):
    """EXISTS/NOT EXISTS must decorrelate into semi/anti hash joins —
    a per-row subquery (nested loop) would be quadratic at scale."""
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_exists_subquery", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0
    plan = physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_argmax_is_pure_aggregate(spark):
    """max_by argmax needs no window and no sort: one partial/final
    hash-aggregate pair on the grouping key."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_argmax_group", spark))
    assert s["window_nodes"] == 0
    assert s["single_partition_exchanges"] == 0
    assert s["exchanges"] <= 2


def test_stratified_sample_and_quantize_are_map_only(spark):
    """Deterministic sampling and int8 quantization are pure map stages:
    zero exchanges of any kind."""
    from film_media_etl_spark.plans import plan_summary

    assert plan_summary(_q("ext_stratified_sample", spark))["exchanges"] == 0
    assert plan_summary(_q("ext_embedding_quantize", spark))["exchanges"] == 0


def test_token_zipf_global_window_is_post_aggregate(spark):
    """The global rank window is allowed ONLY because it runs over the
    vocabulary-sized aggregate; the raw token explode must shuffle once
    (partial/final count), then collapse."""
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_token_zipf", spark)
    s = plan_summary(df)
    # token-count agg pair + the tiny single-partition window collapse
    assert s["single_partition_exchanges"] <= 2
    plan = physical_plan(df)
    # the explode feeds a partial aggregate before any exchange
    assert "Generate explode" in plan


def test_range_frame_single_user_exchange(spark):
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_window_range_time", spark))
    assert s["single_partition_exchanges"] == 0
    assert s["window_nodes"] >= 1
    assert s["exchanges"] <= 1  # one hash exchange on user_id


def test_repetition_quality_no_cartesian(spark):
    df = _q("ext_repetition_quality", spark)
    assert_no_cartesian(df)
    # bigram counts aggregate on (doc_id, bg) before the per-doc window
    from film_media_etl_spark.plans import plan_summary

    assert plan_summary(df)["cartesian_products"] == 0


def test_merge_upsert_is_single_full_outer(spark):
    """MERGE lowers to ONE full-outer join; no cartesian, no second
    pass over the snapshot."""
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_merge_upsert", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0
    assert physical_plan(df).count("FullOuter") == 1


def test_fk_integrity_broadcasts_parents(spark):
    """Every parent side of the audit is dimension-sized -> broadcast;
    the fact-side scans must prune to the key column."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_fk_integrity", spark))
    assert s["broadcast_hash_joins"] >= 3
    assert s["cartesian_products"] == 0


def test_ewma_single_shuffle_no_python(spark):
    """The EWMA fold is JVM aggregate() over one user_id exchange —
    a Python eval node in this plan means the HOF fell off the fast
    path."""
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_ewma", spark)
    s = plan_summary(df)
    assert s["single_partition_exchanges"] == 0
    assert s["exchanges"] <= 2  # partial/final collect_list agg pair
    assert "Python" not in physical_plan(df)


def test_winsorize_bounds_broadcast(spark):
    """The percentile-bounds table is tiny and must broadcast back onto
    the event stream; clipping itself is map-side."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_winsorize", spark))
    assert s["broadcast_hash_joins"] >= 1
    assert s["cartesian_products"] == 0


def test_corr_ols_single_aggregate(spark):
    """Moment-based corr/OLS is ONE hash-aggregate pair; no window,
    no second pass over lineitem."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_corr_ols", spark))
    assert s["exchanges"] <= 2
    assert s["window_nodes"] == 0
    assert s["scans"] == 1


def test_fuzzy_match_blocked_not_cartesian(spark):
    """Edit-distance matching must ride the brand equi-join (shuffle or
    broadcast hash), never a cartesian/nested-loop over the catalog."""
    df = _q("ext_fuzzy_match", spark)
    assert_no_cartesian(df)


def test_cooccurrence_distinct_before_selfjoin(spark):
    """The (user,type) distinct must collapse raw events BEFORE the
    self-join — joining raw events would square the event count."""
    from film_media_etl_spark.plans import physical_plan

    plan = physical_plan(_q("ext_cooccurrence", spark))
    assert "HashAggregate" in plan  # the distinct pass survives planning
    assert "CartesianProduct" not in plan


def test_no_python_eval_outside_multimodal(spark):
    """Engine-wide policy audit: NO query plans a row-at-a-time or
    batched Python eval node — everything compiles to JVM expressions —
    except the multimodal family, whose mapInPandas decode plumbing is
    the documented (Arrow-batched) escape hatch."""
    from film_media_etl_spark.plans import physical_plan
    from film_media_etl_spark.queries import all_queries

    offenders = []
    for name, fn in sorted(all_queries().items()):
        if name.startswith("ext_multimodal"):
            continue
        plan = physical_plan(fn(spark, PARITY_SF_DIR))
        if "Python" in plan or "ArrowEvalPython" in plan or "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"Python eval nodes in: {offenders}"


def test_densify_spine_is_generated_not_scanned(spark):
    """The hour spine must come from sequence()+explode over a 1-row
    bounds aggregate — a second full scan of events to build the spine
    would defeat the point. Expect exactly 2 scans: bounds+agg share
    one, types the other (Spark may reuse; cap at 3)."""
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_timeseries_densify", spark)
    plan = physical_plan(df)
    assert "Generate explode(sequence" in plan.replace("\n", "")
    assert plan_summary(df)["cartesian_products"] == 0


def test_zscore_moments_broadcast(spark):
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_zscore_normalize", spark))
    assert s["broadcast_hash_joins"] >= 1
    assert s["cartesian_products"] == 0


def test_incremental_rollup_single_full_outer_merge(spark):
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_incremental_rollup", spark)
    assert physical_plan(df).count("FullOuter") == 1
    assert plan_summary(df)["cartesian_products"] == 0


def test_dataset_split_is_map_plus_single_agg(spark):
    """Hash split assignment is map-side; the summary is one partial/
    final aggregate pair."""
    from film_media_etl_spark.plans import plan_summary

    s = plan_summary(_q("ext_dataset_split", spark))
    assert s["exchanges"] <= 2
    assert s["window_nodes"] == 0


def test_rfm_scores_without_global_window(spark):
    """RFM quintile scoring must be broadcast cutpoints + row
    expressions — a global ntile() window (Exchange SinglePartition over
    all customers) would serialize the billion-customer case. The only
    single-partition exchanges allowed are the three 1-row stat frames."""
    df = _q("ext_rfm_segments", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 0, "quintile scoring regressed to a window"
    assert s["single_partition_exchanges"] <= 3
    assert s["cartesian_products"] == 0


def test_market_basket_distinct_before_selfjoin(spark):
    """Basket mining joins distinct (order, part) with itself — item
    counts and the totals frame ride broadcasts, and nothing is
    cartesian."""
    df = _q("ext_market_basket", spark)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 2
    assert s["cartesian_products"] == 0


def test_also_bought_single_scan_join_free(spark):
    """Round-10 basket-array shape: ONE pruned lineitem scan (the old
    filtered seed-scan branch is gone, so there is no longer a
    LessThanOrEqual(l_partkey,200) pushdown to pin — the head filter
    runs inside the per-basket transform, shrinking the pair stream
    before the aggregate exchange), NO self-join on the corpus, and the
    per-part ranking window must not collapse to a single partition."""
    df = _q("ext_also_bought", spark)
    s = plan_summary(df)
    assert s["scans"] == 1, f"expected one lineitem scan, got {s['scans']}"
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0, (
        "basket-array shape must not join the corpus"
    )
    assert_read_schema_pruned(df, "lineitem", 2)
    assert s["single_partition_exchanges"] == 0
    assert s["cartesian_products"] == 0


def test_anomaly_mad_stats_broadcast(spark):
    """Both per-type stat frames (median, MAD) are 5 rows — they must
    broadcast back onto events, never shuffle the event stream twice."""
    df = _q("ext_anomaly_mad", spark)
    assert_broadcast_join(df, 2)
    assert_no_cartesian(df)


def test_decay_popularity_jvm_only_single_agg(spark):
    """Decay weighting is pure JVM expressions (pow of an integer week
    offset) — no Python eval nodes — feeding one hash aggregate."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_decay_popularity", spark)
    plan = physical_plan(df)
    assert "EvalPython" not in plan
    assert_whole_stage_codegen(df)


def test_triangle_count_reuses_cached_edges(spark):
    """The support-pruned edge frame is persisted and consumed five
    times — the plan must show InMemoryTableScan reuse instead of five
    basket self-joins, and no cartesian anywhere."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_triangle_count", spark)
    df.collect()  # finalize AQE so the cached scans appear
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert plan_summary(df)["cartesian_products"] == 0


def test_cohort_ltv_window_is_post_aggregate(spark):
    """The cumulative-LTV window must run on the (cohort x age)
    aggregate, after the shuffle on the group keys — one window node,
    no single-partition exchange."""
    df = _q("ext_cohort_ltv", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["single_partition_exchanges"] == 0
    assert s["cartesian_products"] == 0


def test_benford_narrow_shuffle(spark):
    """Digit extraction is map-side; only the 9-row digit aggregate and
    the 1-row total ever shuffle."""
    s = plan_summary(_q("ext_benford_audit", spark))
    assert s["exchanges"] <= 3
    assert s["cartesian_products"] == 0


def test_pareto_no_global_sort_of_customers(spark):
    """Concentration uses a percentile cutpoint, not a ranking of all
    customers — no window, no sort-merge join."""
    s = plan_summary(_q("ext_pareto_concentration", spark))
    assert s["window_nodes"] == 0
    assert s["sort_merge_joins"] == 0
    assert s["cartesian_products"] == 0


def test_skyline_is_broadcast_anti_join(spark):
    """The dominance anti-join must broadcast the dimension side; a
    CartesianProduct (non-broadcast nested loop) would be quadratic
    shuffle volume."""
    df = _q("ext_skyline_products", spark)
    s = plan_summary(df)
    assert s["nested_loop_joins"] >= 1
    assert s["cartesian_products"] == 0


def test_tpch_q1_single_exchange_pruned_pushed(spark):
    """Q1 is the partial-aggregation benchmark: the date cutoff must
    reach the scan, only the 7 referenced columns may be read, and the
    whole query costs exactly ONE exchange (groups x partitions)."""
    df = _q("ext_tpch_q1_pricing_summary", spark)
    assert_pushed_filters(df, "LessThanOrEqual(l_shipdate")
    assert_read_schema_pruned(df, "lineitem", 7)
    assert plan_summary(df)["exchanges"] == 1


def test_tpch_q5_broadcast_snowflake(spark):
    """Q5's five dimension-side joins all ride broadcasts; the only
    shuffle is the final nation aggregate, and the order-date range is
    pushed into the orders scan."""
    df = _q("ext_tpch_q5_regional_volume", spark)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 4
    assert s["sort_merge_joins"] == 0
    assert s["exchanges"] <= 2
    assert_pushed_filters(df, "GreaterThanOrEqual(o_orderdate")


def test_tpch_q18_aggregates_before_join(spark):
    """Q18 must collapse lineitem to per-order sums BEFORE joining
    orders/customer (join input = qualifying orders, not line items):
    lineitem scan reads only (orderkey, quantity) and the join side is
    broadcast."""
    df = _q("ext_tpch_q18_large_orders", spark)
    assert_read_schema_pruned(df, "lineitem", 2)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1
    assert s["cartesian_products"] == 0


def test_kmeans_assign_is_map_side_scoring(spark):
    """Seed centroids broadcast; scoring is JVM fold expressions (no
    Python eval), the argmin window partitions per vector (no global
    exchange)."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_kmeans_assign", spark)
    plan = physical_plan(df)
    assert "EvalPython" not in plan
    s = plan_summary(df)
    assert s["single_partition_exchanges"] == 0
    assert s["cartesian_products"] == 0


def test_attribution_single_user_window_pass(spark):
    """Both attribution models come from ONE per-user ordered window
    pass (no as-of join, no second event shuffle): exactly one Window
    node, no cartesian."""
    df = _q("ext_attribution_first_last", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["cartesian_products"] == 0


def test_abc_global_window_is_post_aggregate(spark):
    """The cumulative-share window is global but must run on the
    part-level aggregate (catalog-sized), i.e. AFTER the lineitem
    hash aggregate — lineitem reads only (partkey, price, discount)."""
    df = _q("ext_abc_classification", spark)
    assert_read_schema_pruned(df, "lineitem", 3)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["cartesian_products"] == 0


def test_stickiness_calendar_sized_join(spark):
    """DAU and WAU aggregates collapse to calendar size before joining
    — no window, no cartesian, and the join side broadcasts."""
    s = plan_summary(_q("ext_stickiness_dau_wau", spark))
    assert s["window_nodes"] == 0
    assert s["cartesian_products"] == 0


def test_charlm_model_broadcast_no_python(spark):
    """The bigram model compiles to a 1-row dense lookup array joined by
    broadcast nested loop; scoring must be a map-side fold — no Python
    eval, no cartesian, and no extra corpus-sized exchange beyond the
    model-building aggregates."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_charlm_quality", spark)
    plan = physical_plan(df)
    assert "EvalPython" not in plan
    s = plan_summary(df)
    assert s["nested_loop_joins"] >= 1  # 1-row dense model rides broadcast
    assert s["cartesian_products"] == 0
    # 4 model exchanges + ensure_parallelism repartitions on the count
    # and scoring branches (no CSE across DataFrame reuse)
    assert s["exchanges"] <= 7


def test_yoy_and_allocation_windows_post_aggregate(spark):
    """Both period-comparison queries put their global window AFTER the
    fact aggregate (calendar/nation-sized frames) — exactly one Window
    node each, and the allocation's extra-unit sum still balances to
    the budget."""
    yoy = _q("ext_yoy_growth", spark)
    assert plan_summary(yoy)["window_nodes"] == 1
    alloc = _q("ext_budget_allocation", spark)
    assert plan_summary(alloc)["window_nodes"] == 1
    rows = alloc.collect()
    assert sum(r["allocated"] for r in rows) == 10000


def test_journey_windows_scoped(spark):
    """time-to-convert has NO window (pure two-level aggregate);
    top-paths windows per user then globally only over the path-count
    frame; Gini's global rank runs on the per-customer aggregate."""
    s = plan_summary(_q("ext_time_to_convert", spark))
    assert s["window_nodes"] == 0
    s = plan_summary(_q("ext_top_paths", spark))
    assert s["window_nodes"] == 2
    assert s["cartesian_products"] == 0
    s = plan_summary(_q("ext_gini_revenue", spark))
    assert s["window_nodes"] == 1


def test_curation_broadcasts_and_stays_jvm(spark):
    """Rebalance: rate table broadcast, md5 keep-decision map-side, no
    Python eval. Decontamination: eval shingles broadcast onto the
    training stream, no cartesian."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_corpus_rebalance", spark)
    assert "EvalPython" not in physical_plan(df)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1
    assert s["cartesian_products"] == 0

    df = _q("ext_decontamination", spark)
    s = plan_summary(df)
    # eval shingles collapse to ONE broadcast array row; the training
    # side is probed map-side via arrays_overlap — never exploded, never
    # shuffled (the explode+join spelling was 12x slower at sf0.1)
    assert s["nested_loop_joins"] >= 1
    assert s["cartesian_products"] == 0
    # 2 model exchanges + the small-file parallelism repartitions
    # (sources.ensure_parallelism: a single-row-group corpus scans as ONE
    # partition, so CPU-heavy text stages are explicitly spread)
    assert s["exchanges"] <= 4


def test_pmi_top_terms_broadcast_bounded_pairs(spark):
    """The top-term vocabulary cut must ride a broadcast onto presence
    rows BEFORE the pair self-join (bounding pairs per doc), and the
    ranking window for the cut runs on the vocabulary-sized DF frame."""
    df = _q("ext_term_pmi", spark)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1
    assert s["cartesian_products"] == 0


def test_rank_stability_per_year_windows(spark):
    """Leaderboard ranks partition per year over the nation aggregate;
    rho is a pure aggregate afterwards — no cartesian, <= 2 window
    nodes (one per year split or one shared)."""
    df = _q("ext_rank_stability", spark)
    s = plan_summary(df)
    assert s["window_nodes"] <= 2
    assert s["cartesian_products"] == 0


def test_tpch_q3_q10_pushdown_and_topk(spark):
    """Q3/Q10: the date/returnflag predicates must reach the scans so
    the fact-fact shuffle carries a pruned slice, and the LIMIT must
    plan as TakeOrderedAndProject, never a global sort."""
    from film_media_etl_spark.plans import physical_plan

    q3 = _q("ext_tpch_q3_shipping_priority", spark)
    assert_pushed_filters(q3, "o_orderdate", "l_shipdate")
    assert "TakeOrderedAndProject" in physical_plan(q3)
    assert_no_cartesian(q3)

    q10 = _q("ext_tpch_q10_returned_items", spark)
    assert_pushed_filters(q10, "l_returnflag", "o_orderdate")
    assert "TakeOrderedAndProject" in physical_plan(q10)
    assert_broadcast_join(q10, 1)  # nation


def test_purchase_intervals_window_shuffle_reused_by_join(spark):
    """The lag window partitions orders on o_custkey — the same key the
    customer join uses — so the orders side must not re-exchange between
    window and join: one shuffle for the window, one for the customer
    side, one for the final segment agg."""
    df = _q("ext_purchase_intervals", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["exchanges"] <= 3
    assert s["cartesian_products"] == 0


def test_supplier_hhi_single_fact_shuffle(spark):
    """HHI's algebraic form (sum rev² / (sum rev)²) keeps lineitem to
    ONE shuffle (the supplier-level agg); supplier and nation must ride
    broadcasts; the nation-level agg shuffles only supplier-count rows."""
    df = _q("ext_supplier_hhi", spark)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 2
    assert s["cartesian_products"] == 0
    assert s["exchanges"] <= 2


def test_skew_audit_two_level_aggs_no_cartesian(spark):
    """Each skew-audit leg is partial-count -> key-frame percentile;
    no windows, no cartesian, and the only single-partition collapses
    are the three one-row leg summaries."""
    df = _q("ext_skew_audit", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 0
    assert s["cartesian_products"] == 0
    assert s["single_partition_exchanges"] <= 3


def test_forecast_backtest_window_on_months_only(spark):
    """The lag-12 window runs on the monthly aggregate (months-sized),
    so exactly one window node and at most one single-partition
    exchange feeding it — facts only ever see the month groupBy."""
    df = _q("ext_forecast_backtest", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["single_partition_exchanges"] <= 1
    assert s["cartesian_products"] == 0


def test_degree_distribution_single_explode_pass(spark):
    """Degrees come from ONE explode over the edge list (no second
    self-join): exactly one Generate (explode) node and no cartesian.
    NB join COUNT is not asserted tightly: if another test has cached
    the shared edge lineage, size stats flip the self-join to broadcast
    and the AQE plan string carries final+initial copies — the node
    census double-counts. The explode count is stable either way."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_degree_distribution", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0
    assert s["nested_loop_joins"] == 0
    plan = physical_plan(df)
    assert len(re.findall(r"\bGenerate\b", plan)) == 1


def test_feature_hashing_stays_jvm_single_shuffle(spark):
    """The hashing trick must be explode -> hash -> count: the agg
    shuffle plus the ensure_parallelism repartition, no joins, no
    Python eval in the plan."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_feature_hashing", spark)
    s = plan_summary(df)
    assert s["exchanges"] <= 2
    assert s["sort_merge_joins"] + s["broadcast_hash_joins"] == 0
    assert "BatchEvalPython" not in physical_plan(df)


def test_target_encoding_broadcast_not_window(spark):
    """LOO encoding must be aggregate-then-broadcast-back: the 25-row
    nation stats ride broadcasts and orders are NEVER hash-partitioned
    by the 25-value nation key (no window nodes at all)."""
    df = _q("ext_target_encoding", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 0
    assert s["broadcast_hash_joins"] >= 2
    assert s["cartesian_products"] == 0


def test_churn_labels_one_fact_shuffle(spark):
    """Label construction is one custkey window over facts, then
    row-local arithmetic: exactly one window, at most one exchange."""
    df = _q("ext_churn_labels", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["exchanges"] <= 1
    assert s["cartesian_products"] == 0


def test_dq_rules_single_pass(spark):
    """Six rules must fuse into ONE aggregation over orders: a single
    scan, no joins, no windows (COUNT DISTINCT expands inside the same
    aggregate chain)."""
    df = _q("ext_dq_rules", spark)
    s = plan_summary(df)
    assert s["scans"] == 1
    assert s["window_nodes"] == 0
    assert s["sort_merge_joins"] + s["broadcast_hash_joins"] == 0


def test_forward_fill_window_on_spine_not_facts(spark):
    """LOCF runs on the spine frame: events collapse via groupBy before
    the window; exactly one window node and no cartesian beyond the
    spine x types nested-loop (bounded, data-independent)."""
    df = _q("ext_forward_fill", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["cartesian_products"] == 0


def test_share_of_total_fused_window(spark):
    """The aggregate window (partition SUM) and the ranking window share
    one partition spec — Catalyst must fuse them into <= 2 Window nodes
    over the 25-row nation aggregate, with dims broadcast."""
    df = _q("ext_share_of_total", spark)
    s = plan_summary(df)
    assert s["window_nodes"] <= 2
    assert s["broadcast_hash_joins"] >= 2
    assert s["cartesian_products"] == 0


def test_session_entropy_one_data_shuffle(spark):
    """Counts, totals, the join, and the entropy agg all key on user_id:
    the plan may keep at most the initial hash exchange plus AQE-visible
    reuses — never a SinglePartition collapse."""
    df = _q("ext_session_entropy", spark)
    s = plan_summary(df)
    assert s["single_partition_exchanges"] == 0
    assert s["cartesian_products"] == 0


def test_sequence_packing_single_window_partition_by_lang(spark):
    """Packing is one cumulative window per language over the token
    frame (both shard columns reuse the same window spec — one node)."""
    df = _q("ext_sequence_packing", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["single_partition_exchanges"] == 0
    # window exchange + the ensure_parallelism repartition
    assert s["exchanges"] <= 2


def test_tpch_q7_double_nation_broadcast(spark):
    """Q7 joins the same 25-row nation dim twice (supplier + customer
    side) — both must broadcast, the shipdate range must reach the
    lineitem scan, and the disjunctive pair filter must not degrade
    anything to nested-loop."""
    q7 = _q("ext_tpch_q7_trade_flows", spark)
    s = plan_summary(q7)
    assert s["broadcast_hash_joins"] >= 3  # supplier + nation x2
    assert s["nested_loop_joins"] == 0 and s["cartesian_products"] == 0
    assert_pushed_filters(q7, "l_shipdate")


def test_nullsafe_join_is_hash_not_nested_loop(spark):
    """<=> must plan as a hash join (broadcast here) — a nested-loop
    fallback would mean the engine treats null-safe equality as a
    non-equi predicate."""
    df = _q("ext_nullsafe_join", spark)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1
    assert s["nested_loop_joins"] == 0 and s["cartesian_products"] == 0


def test_peak_detection_one_window_node(spark):
    """lag and lead share one window spec — exactly one Window node over
    the hourly aggregate; events shuffle once for the groupBy and the
    window reuses/extends that partitioning without a SinglePartition."""
    df = _q("ext_peak_detection", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["single_partition_exchanges"] == 0


def test_cusum_window_on_days_scalar_broadcast(spark):
    """The cumulative window runs on the day-sized aggregate (one
    SinglePartition over ~2400 rows is the accepted cost); the (n, S)
    scalar frame must arrive via broadcast nested loop, not shuffle."""
    df = _q("ext_cusum_drift", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["single_partition_exchanges"] <= 2  # window order + scalar agg
    assert s["cartesian_products"] == 0


def test_quantizer_calibration_dimension_width_shuffle(spark):
    """posexplode keeps vectors JVM-side; the only shuffle is the
    (dim)-keyed aggregate whose width is the embedding dimensionality."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_quantizer_calibration", spark)
    s = plan_summary(df)
    assert s["exchanges"] <= 1
    assert "BatchEvalPython" not in physical_plan(df)


def test_token_bigrams_heap_topk_jvm_only(spark):
    """Bigram mining must stay JVM-side (array HOFs, no Python eval)
    and take the top-k via a per-partition heap, not a global sort."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_token_bigrams", spark)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_rolling_corr_single_window_all_moments(spark):
    """All five rolling moments share one frame spec — exactly one
    Window node over the hour-sized conditional aggregate (no events
    self-join: zero joins in the plan)."""
    df = _q("ext_rolling_corr", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 1
    assert s["sort_merge_joins"] + s["broadcast_hash_joins"] == 0


def test_weighted_median_shared_partition_windows(spark):
    """Both window passes (ordered cumw + unordered total) share the
    brand partition: <= 2 Window nodes, no SinglePartition collapse,
    and the part dim rides a broadcast."""
    df = _q("ext_weighted_median", spark)
    s = plan_summary(df)
    assert s["window_nodes"] <= 2
    assert s["single_partition_exchanges"] == 0
    assert s["broadcast_hash_joins"] >= 1


def test_activity_bitmap_pure_aggregate(spark):
    """The bitmap is an 8-byte mergeable aggregate: no windows, the
    only data shuffle is the user_id agg (COUNT DISTINCT expands within
    the same chain), scalar day-zero arrives by broadcast."""
    df = _q("ext_activity_bitmap", spark)
    s = plan_summary(df)
    assert s["window_nodes"] == 0
    assert s["cartesian_products"] == 0


def test_dedup_paragraphs_skew_safe_no_window(spark):
    """Passage dedup must use aggregate+join (map-side combine, AQE
    skew-splittable), not a window over passage text — a hot boilerplate
    passage would be one unsplittable window partition at scale."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_dedup_paragraphs", spark)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert_no_cartesian(df)


def test_pii_redact_map_only(spark):
    """Redaction is a pure map pass: no exchange, no join, no Python."""
    from film_media_etl_spark.plans import physical_plan, plan_summary

    df = _q("ext_pii_redact", spark)
    s = plan_summary(df)
    assert s["exchanges"] == 0 and s["broadcast_hash_joins"] == 0
    assert "EvalPython" not in physical_plan(df)


def test_dedup_semantic_map_only_assignment_blocked_pairs(spark):
    """SemDeDup's cluster assignment must be a pure map expression (the
    codebook is inlined — no crossJoin, no argmin window, no shuffle
    before the pair stage), and the pairwise stage must be an equi-join
    on cluster_id — never a cartesian over the corpus."""
    df = _q("ext_dedup_semantic", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0
    assert s["nested_loop_joins"] == 0  # no crossJoin against the codebook
    assert s["window_nodes"] == 0  # argmin is least(), not row_number


def test_dsir_weights_no_cartesian_jvm_only(spark):
    """DSIR scoring is explode -> two vocab aggs -> model join -> one
    per-doc aggregate; all JVM expressions, no Python eval, and the
    totals row arrives by broadcast."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_dsir_weights", spark)
    assert_no_cartesian(df)
    assert "EvalPython" not in physical_plan(df)


def test_shapley_single_corpus_aggregate(spark):
    """Shapley attribution must touch the corpus once (per-user mask
    aggregate); coalition/marginal math runs on subset-sized frames
    riding broadcasts — no cartesian, no second events scan shuffle."""
    df = _q("ext_shapley_attribution", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0
    assert s["broadcast_hash_joins"] >= 2  # channel map + subset joins


def test_cuped_moments_single_pass(spark):
    """CUPED reduces to per-user decimal sums then arm-sized moment
    algebra: the only corpus-sized shuffle is the user aggregate; the
    midpoint scalar and pooled moments arrive by broadcast."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_cuped", spark)
    assert_no_cartesian(df)
    assert "EvalPython" not in physical_plan(df)


def test_survival_km_windows_on_bounded_histogram(spark):
    """The KM estimator's unpartitioned cumulative windows must sit
    ABOVE the duration-histogram aggregate (bounded rows), never over
    the per-customer frame."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_survival_km", spark)
    plan = physical_plan(df)
    assert plan.count("Window") >= 1
    assert_no_cartesian(df)


def test_zorder_layout_map_side_keys(spark):
    """The Morton key is pure projection arithmetic: no joins beyond the
    broadcast stats row, no Python, aggregates carry the only shuffles."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_zorder_layout", spark)
    s = plan_summary(df)
    assert s["cartesian_products"] == 0
    assert "EvalPython" not in physical_plan(df)


def test_pagerank_exact_no_cartesian(spark):
    df = _q("ext_pagerank_exact", spark)
    assert_no_cartesian(df)


def test_plans_md_census_fresh(spark):
    """PLANS.md is asserted-against documentation; regenerate the
    operator census and the normalized operator tree for every headline
    query and diff them against the checked-in file so a plan-affecting
    commit cannot ship a stale PLANS.md (round-3 verdict #9). The census
    alone let trees drift: an added Project left every count unchanged.
    Intentionally fails on drift — fix by rerunning
    `python tools/gen_plans.py`."""
    import os
    import re
    import sys

    from bench import HEADLINE
    from film_media_etl_spark.queries import all_queries

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from capture_plans import formatted_plan, normalize_plan
    from gen_plans import plan_tree

    text = open(os.path.join(repo, "PLANS.md")).read()
    checked = {
        name: (census, normalize_plan(tree))
        for name, census, tree in re.findall(
            r"^## (\S+)\n\n`([^`]*)`\n\n```\n(.*?)\n```", text, re.M | re.S
        )
    }
    assert set(checked) == set(HEADLINE), (
        "PLANS.md query set != bench headline set — rerun tools/gen_plans.py"
    )
    qs = all_queries()
    sf = "/root/testdata/sf0.001"  # gen_plans.py's default SF_DIR
    stale = {}
    for name in HEADLINE:
        df = qs[name](spark, sf)
        s = plan_summary(df)
        census = ", ".join(f"{k}={v}" for k, v in s.items() if v)
        fresh = (census, plan_tree(formatted_plan(df)))
        if fresh != checked[name]:
            stale[name] = (checked[name], fresh)
    assert not stale, f"PLANS.md stale for {sorted(stale)}: {stale} — rerun tools/gen_plans.py"


def test_model_inference_broadcasts_weights(spark):
    """ext_linear_model_score's weight table must ride a broadcast —
    model parameters join the corpus map-side, never as a shuffle of
    the feature triples against a 64-row table."""
    df = _q("ext_linear_model_score", spark)
    assert_broadcast_join(df, 1)
    assert_no_cartesian(df)


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """The session enables runtime bloom-filter join pruning
    (session.py); at 100 TB a selective dimension side builds a bloom
    filter that prunes the fact scan BEFORE the shuffle. The fixture
    tables sit under the default size thresholds, so this test tunes
    them to fixture scale and pins the mechanism: a might_contain
    filter on the fact side fed by a bloom_filter_agg subquery on the
    filtered dimension side."""
    from film_media_etl_spark.plans import physical_plan

    with spark_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        li = spark.read.parquet(f"{PARITY_SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{PARITY_SF_DIR}/orders.parquet").where(
            "o_totalprice > 400000"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = physical_plan(j)
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in plan


def test_weighted_sample_pps_prefix_sum_is_bucket_parallel(spark):
    """The PPS sampler's claim made executable: the corpus-sized window
    (the cumulative weight line) runs hash-partitioned on the 256
    md5-prefix buckets — 256 parallel window sorts — and the ONLY
    single-partition exchanges feed bounded metadata (the 256-row
    bucket-offset window and the one-row grand total), never document
    rows. The naive global-cumsum spelling would put ALL documents
    through one Exchange SinglePartition and serialize the scan at
    100 TB."""
    from film_media_etl_spark.plans.audit import physical_plan
    from film_media_etl_spark.queries import all_queries

    df = all_queries()["ext_weighted_sample_pps"](spark, PARITY_SF_DIR)
    plan = physical_plan(df)
    assert "hashpartitioning(bucket" in plan, plan[:3000]
    # single-partition exchanges: allowed only for the <=256-row offset
    # window and the single-row total — both upstream of broadcasts
    assert plan.count("Exchange SinglePartition") <= 2, plan[:3000]
    assert plan.count("BroadcastExchange") >= 2, plan[:3000]
    # and the result is still correct through this decomposition
    assert df.count() > 0


def test_c4_filters_is_map_only_single_scan(spark):
    """ext_c4_filters' 100 TB shape: one documents scan, no key
    shuffle and no join anywhere (pure map-side string expressions —
    the scan partitioning IS the job partitioning at scale; the one
    permitted exchange is ensure_parallelism's fixture-scale
    round-robin, a no-op on a many-row-group table), schema pruned to
    the two consumed columns."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_c4_filters", spark)
    s = plan_summary(df)
    assert s["scans"] == 1
    assert s["exchanges"] <= 1
    assert "hashpartitioning" not in physical_plan(df)
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert s["window_nodes"] == 0
    assert_read_schema_pruned(df, "documents", 2)
    assert_no_cartesian(df)


def test_repetition_signals_is_map_only_single_scan(spark):
    """ext_repetition_signals computes all 13 Gopher signals map-side:
    one pruned documents scan, no key shuffle, no join, no window — the
    sorted-fold/interval-union spelling exists precisely so nothing
    per-gram ever shuffles (the oracle's unnest+GROUP BY formulation is
    the cross-check, not the plan)."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_repetition_signals", spark)
    s = plan_summary(df)
    assert s["scans"] == 1
    assert s["exchanges"] <= 1  # ensure_parallelism round-robin only
    assert "hashpartitioning" not in physical_plan(df)
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert s["window_nodes"] == 0
    assert_read_schema_pruned(df, "documents", 2)
    assert_no_cartesian(df)


def test_blocklist_scale_join_broadcasts_lexicon(spark):
    """ext_blocklist_scale_join (round-9): the lexicon must ride a
    BROADCAST onto the exploded per-page grams — the corpus side never
    shuffles to meet it (the whole point of the scale formulation);
    only matched doc_ids reach the distinct. The expression-path twin
    ext_blocklist_filter stays pure map-side."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_blocklist_scale_join", spark)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1  # semi join against the lexicon
    assert s["cartesian_products"] == 0
    assert "EvalPython" not in physical_plan(df)

    s2 = plan_summary(_q("ext_blocklist_filter", spark))
    assert s2["scans"] == 1
    assert s2["sort_merge_joins"] == 0 and s2["broadcast_hash_joins"] == 0
    assert s2["window_nodes"] == 0


def test_blocklist_gate_builder_path_switch_plans(spark):
    """with_blocklist_reason (round-10): at or under the phrase cap the
    tier is pure map-side expression work (one scan, zero joins, zero
    exchanges); over the cap it flips to the scale formulation — the
    lexicon AND the matched-id hit set both ride BroadcastExchange, the
    only exchange is the matched-id distinct, and the corpus frame
    never sort-merges (no corpus-sized shuffle, the round-9 verdict's
    plan pin for the composed gate)."""
    from film_media_etl_spark.plans import physical_plan
    from film_media_etl_spark.queries.blocklist import (
        BLOCKLIST_EXPR_MAX_PHRASES,
        DEMO_BLOCKLIST,
        with_blocklist_reason,
    )
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, PARITY_SF_DIR, "documents").select("doc_id", "text")
    small = with_blocklist_reason(docs, DEMO_BLOCKLIST)  # <= cap: expression
    s = plan_summary(small)
    assert s["scans"] == 1 and s["exchanges"] == 0
    assert s["broadcast_hash_joins"] == 0 and s["sort_merge_joins"] == 0

    big_lex = DEMO_BLOCKLIST + tuple(
        f"zqx{i} filler phrase" for i in range(BLOCKLIST_EXPR_MAX_PHRASES)
    )
    big = with_blocklist_reason(docs, big_lex)  # > cap: broadcast semi-join
    b = plan_summary(big)
    p = physical_plan(big)
    assert b["broadcast_hash_joins"] == 2  # lexicon semi + hit-set join-back
    assert b["sort_merge_joins"] == 0 and b["cartesian_products"] == 0
    assert b["exchanges"] == 1  # matched-id distinct only
    assert p.count("BroadcastExchange") >= 2
    assert "EvalPython" not in p


def test_shard_layout_no_global_sort(spark):
    """ext_shard_layout (round-10): the within-shard order must come
    from ONE hash exchange on the shard id + a within-partition sort —
    never a rangepartitioning exchange (a global sort would serialize
    the corpus through a single range at 100 TB). The manifest twin is
    a plain partial-aggregated groupBy — one hash exchange, no window,
    no join."""
    from film_media_etl_spark.plans import physical_plan

    df = _q("ext_shard_layout", spark)
    p = physical_plan(df)
    s = plan_summary(df)
    assert "rangepartitioning" not in p.lower()
    assert s["window_nodes"] == 1 and s["scans"] == 1
    assert s["exchanges"] <= 2  # shard hash + ensure_parallelism round-robin
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert_no_cartesian(df)
    assert_read_schema_pruned(df, "documents", 2)

    m = _q("ext_shard_manifest", spark)
    sm = plan_summary(m)
    assert "rangepartitioning" not in physical_plan(m).lower()
    assert sm["window_nodes"] == 0 and sm["sort_merge_joins"] == 0
    assert_no_cartesian(m)


def test_curation_gate_joinpath_composed_plan(spark):
    """ext_curation_gate_joinpath (round-10 verdict task #1): forcing
    the composed gate onto the blocklist scale path must add EXACTLY
    the scale formulation to the baseline pipeline's plan — +2
    broadcast hash joins (lexicon semi-join, hit-set join-back), +1
    pruned (doc_id, text) scan in the broadcast subtree, the matched-id
    distinct's exchanges, and NO new sort-merge join (the corpus never
    shuffles to meet the lexicon)."""
    from film_media_etl_spark.plans import physical_plan

    base = plan_summary(_q("ext_curation_pipeline", spark))
    jp_df = _q("ext_curation_gate_joinpath", spark)
    jp = plan_summary(jp_df)
    assert jp["broadcast_hash_joins"] == base["broadcast_hash_joins"] + 2
    assert jp["scans"] == base["scans"] + 1
    assert jp["sort_merge_joins"] == base["sort_merge_joins"] == 0
    assert jp["cartesian_products"] == 0
    assert jp["exchanges"] <= base["exchanges"] + 2
    assert "EvalPython" not in physical_plan(jp_df)
