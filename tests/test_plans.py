"""Physical-plan assertions — the 100 TB scale contract.

Correctness says what a query returns; these tests pin HOW Spark executes
it: filters reach the parquet scan, small dims broadcast, top-k avoids a
global sort, hot paths stay in whole-stage codegen. A regression here is a
performance bug even when parity stays green.
"""

from __future__ import annotations

import pytest

from streamline_hybrid_engine_spark.plans import executed_plan, optimized_plan
from streamline_hybrid_engine_spark.registry import all_queries

_QS = all_queries()


def plan(spark, sf_dir, name: str, execute: bool = False) -> str:
    return executed_plan(_QS[name].fn(spark, sf_dir), execute=execute)


def optimized(spark, sf_dir, name: str) -> str:
    return optimized_plan(_QS[name].fn(spark, sf_dir))


def test_filter_reaches_parquet_scan(spark, sf_dir):
    """Predicate pushdown: the shipdate/qty filter must appear as
    PushedFilters on the scan, not only as a post-scan Filter."""
    p = plan(spark, sf_dir, "filter_shipdate_qty")
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p.split("PushedFilters:")[1][:400]


def test_column_pruning_on_projection(spark, sf_dir):
    """The projection needs 5 of lineitem's 11 columns; the parquet scan
    must read exactly those, not the full schema."""
    p = plan(spark, sf_dir, "project_disc_price")
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert read.count(",") <= 4, read  # ≤5 columns read
    assert "l_shipdate" not in read and "l_returnflag" not in read


def test_small_dims_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "join_broadcast_nation_region")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_5way_join_broadcasts_dims(spark, sf_dir):
    """Q5 shape: nation/region side must broadcast, never shuffle."""
    p = plan(spark, sf_dir, "join_5way_regional_revenue")
    assert p.count("BroadcastHashJoin") >= 2


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "topk_revenue_orders")
    assert "TakeOrderedAndProject" in p


def test_keyset_pagination_pushes_cursor_filter_no_prefix_sort(spark, sf_dir):
    """Keyset continuation must (a) push the cursor disjunction into the
    parquet scan — row groups entirely above the cursor price are skipped
    by stats — and (b) plan the page cut as TakeOrderedAndProject, never a
    global sort + offset drop of the prefix."""
    p = plan(spark, sf_dir, "limit_keyset_pagination")
    pushed = p.split("PushedFilters:")[1][:400]
    assert "o_totalprice" in pushed, pushed
    assert "TakeOrderedAndProject" in p
    assert "GlobalLimit" not in p  # the cut is the TakeOrdered, not sort+limit


def test_semi_anti_plan_as_joins(spark, sf_dir):
    assert "LeftSemi" in plan(spark, sf_dir, "join_semi_customers_with_orders")
    assert "LeftAnti" in plan(spark, sf_dir, "join_anti_customers_without_orders")


def test_agg_has_partial_final_split(spark, sf_dir):
    """Map-side partial aggregation (Flink combiner analog) must be planned."""
    p = plan(spark, sf_dir, "agg_pricing_summary")
    assert "partial_" in p  # HashAggregate(..., functions=[partial_sum(...)])


def test_pricing_summary_stays_in_codegen(spark, sf_dir):
    """The flagship scan→filter→agg pipeline must be whole-stage compiled."""
    p = plan(spark, sf_dir, "agg_pricing_summary", execute=True)
    # AQE's compact plan marks whole-stage-codegen stages with "*(n)"
    assert "*(1)" in p or "WholeStageCodegen" in p


def test_knn_blocked_join_no_cartesian(spark, sf_dir):
    """Label-blocked kNN must not degrade to a cartesian product."""
    p = plan(spark, sf_dir, "llm_knn_cosine_label")
    assert "CartesianProduct" not in p


def test_asof_join_is_window_not_join(spark, sf_dir):
    """The as-of op must compile to one window pass, not a pair-exploding
    join (SURVEY §2.3 scale note)."""
    o = optimized(spark, sf_dir, "join_asof_last_purchase")
    assert "Join" not in o
    assert "Window" in o


def test_partitioned_sink_reread_prunes_partitions(spark, sf_dir):
    """The partitioned-lake re-read must prune month directories at file
    listing time (PartitionFilters on the scan), not post-filter the data —
    the mechanism that makes a 100 TB lake queryable."""
    p = plan(spark, sf_dir, "sink_partitioned_parquet")
    assert "PartitionFilters: [" in p
    seg = p.split("PartitionFilters:")[1][:300]
    assert "order_month" in seg


def test_unpivot_single_scan_no_union(spark, sf_dir):
    """DataFrame.unpivot must expand in one map stage over ONE scan —
    the 4-way UNION ALL the oracle runs would scan the table 4 times."""
    p = plan(spark, sf_dir, "unpivot_lineitem_measures")
    assert p.count("Scan parquet") == 1, p
    assert "Expand" in p
    assert "Union" not in p


def test_pivot_no_values_discovery_scan_and_partial_agg(spark, sf_dir):
    """Explicit pivot values: exactly one scan of customer (no hidden
    distinct-collect job to discover columns), and the pre-shuffle
    aggregate is partial (map-side combine), so both exchanges carry
    ≤ |groups × segments| rows — never raw customer rows."""
    p = plan(spark, sf_dir, "pivot_acctbal_by_segment")
    assert p.count("Scan parquet") == 2, p  # customer + nation, once each
    first_exchange = p.index("Exchange hashpartitioning")
    assert "partial_sum" in p[first_exchange:], p


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """Correlated EXISTS must plan as a semi join, not a per-row subplan."""
    p = plan(spark, sf_dir, "subquery_exists_discounted")
    assert "LeftSemi" in p, p


def test_correlated_scalar_subqueries_plan_as_one_aggregate_join(spark, sf_dir):
    """Q17 shape: the two correlated scalars (count, sum per part) must
    decorrelate into aggregate+join — lineitem is scanned twice total,
    never once per outer row, and both aggregates share one subtree."""
    p = optimized(spark, sf_dir, "subquery_scalar_part_avg")
    assert "count(1)" in p and "Join" in p, p


def test_triangle_count_all_equi_joins(spark, sf_dir):
    """Degree-oriented triangle counting must stay hash-join only (the
    query itself returns a LocalTableScan of collected scalars, so the
    assertion targets the un-checkpointed traversal frame)."""
    from streamline_hybrid_engine_spark.operators.graph import (
        triangle_per_edge_counts,
    )

    _, per_edge = triangle_per_edge_counts(spark, sf_dir, checkpoint=False)
    p = executed_plan(per_edge)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # degree + adjacency sides broadcast; the only exchanges are the
    # self-join/distinct that build the edge list
    assert p.count("BroadcastHashJoin") >= 4, p


def test_temperature_sampling_broadcasts_rates(spark, sf_dir):
    """Per-source thresholds are a tiny broadcast; the corpus must not
    shuffle on source for membership tagging."""
    p = plan(spark, sf_dir, "llm_sample_temperature")
    assert "BroadcastHashJoin" in p, p


def test_bucketed_join_query_has_no_join_exchange(spark, sf_dir):
    """sink_bucketed_join: the fact-fact join must run bucket-to-bucket —
    the only Exchange allowed in the plan is the final aggregate's
    (hashpartitioning on o_orderpriority), never on the join keys.
    Auto-broadcast is disabled for the assertion: at test scale the tiny
    side would broadcast (also exchange-free, but it would mask the
    bucketed path that matters at fact⋈fact scale)."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, sf_dir, "sink_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert "SortMergeJoin" in p, p
    assert "Exchange hashpartitioning(o_orderkey" not in p, p
    assert "Exchange hashpartitioning(l_orderkey" not in p, p


def test_kmeans_broadcasts_centroids_never_shuffles_vectors(spark, sf_dir):
    """The assignment join must be a broadcast of the K-row centroid table
    (BroadcastNestedLoopJoin over a K-row build side is the intended
    cross-join shape) — a SortMergeJoin would mean the corpus shuffled."""
    p = plan(spark, sf_dir, "llm_kmeans_lloyd")
    assert "SortMergeJoin" not in p
    assert "partial_" in p  # map-side argmin partials


def test_gram_matrix_partial_aggregates_before_exchange(spark, sf_dir):
    """The (i, j) cell sums must partial-aggregate map-side so the shuffle
    carries ~2080 cells per partition, not the exploded pair stream.
    Since r13 the partials come from a per-partition Arrow outer-product
    kernel: NO join and NO explode may appear — the r1-r12 form
    materialized N×d² rows through a vec_id self-join just to feed the
    same 2080-cell aggregate."""
    p = plan(spark, sf_dir, "llm_embedding_gram")
    assert "partial_" in p
    assert "MapInPandas" in p or "ArrowEvalPython" in p
    for bad in ("Join", "Generate", "CartesianProduct"):
        assert bad not in p, bad


def test_dq_expectations_single_pass_one_fact_scan(spark, sf_dir):
    """The five constraints must ride ONE orders scan (conditional-count
    aggregates) plus one broadcast of the customer key column — never five
    scans like the oracle's UNION ALL."""
    p = plan(spark, sf_dir, "dq_expectations_orders")
    assert p.count("orders.parquet") == 1, p
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p


def test_url_bundle_zero_shuffle(spark, sf_dir):
    """parse_url is row-local; the bundle must plan with no KEYED exchange
    — the only allowed Exchange is the parallel load's round-robin
    fan-out of the single-row-group fixture (not a data shuffle)."""
    p = plan(spark, sf_dir, "fn_url_bundle")
    assert "Exchange hashpartitioning" not in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_chunk_overlap_zero_shuffle(spark, sf_dir):
    """Chunking is an explode per document: no keyed exchange — chunks
    inherit the document partitioning (round-robin fixture repartition
    excepted, as above)."""
    p = plan(spark, sf_dir, "llm_chunk_overlap")
    assert "Exchange hashpartitioning" not in p, p
    assert "Exchange rangepartitioning" not in p, p
    assert "Generate explode" in p or "Generate" in p


def test_sssp_frontier_broadcasts_never_reshuffles_adjacency(spark, sf_dir):
    """Delta iteration: each round broadcasts the frontier against the
    checkpointed adjacency — the adjacency must never re-shuffle (no
    hashpartitioning exchange on its src column feeding the join)."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.operators.graph import graph_sssp_hops

    df = graph_sssp_hops(spark, sf_dir)
    p = executed_plan(df)
    # final select over the distance table: the per-round joins already ran
    # (driver loop); what remains must be scan-of-checkpoint + project
    assert "BroadcastNestedLoop" not in p
    assert df.filter(F.col("dist") == 0).count() == 1


def test_mark_join_plans_as_existence_join_not_outer_groupby(spark, sf_dir):
    """EXISTS in the SELECT list must decorrelate to ExistenceJoin (probe
    rows preserved, one boolean per subquery) — never a row-multiplying
    outer join re-aggregated back down."""
    p = optimized(spark, sf_dir, "join_existence_mark")
    assert "ExistenceJoin" in p


def test_ohlc_is_partial_aggregate_no_window(spark, sf_dir):
    """OHLC open/close must be a partial/final min_by/max_by aggregate
    with map-side combine (struct ordering keys execute as SortAggregate
    — grouping-key sort only, combine intact) and exactly one exchange;
    never a first_value window plan."""
    p = plan(spark, sf_dir, "ts_resample_ohlc")
    assert "partial_min_by" in p and "partial_max_by" in p
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_geo_bundle_zero_shuffle(spark, sf_dir):
    """The geo bundle is per-row scalar compute: no hash exchange (the
    catalog's round-robin widening of the single fixture file is the
    only allowed repartition)."""
    p = plan(spark, sf_dir, "fn_geo_bundle")
    assert "Exchange hashpartitioning" not in p
    assert "Window" not in p and "Aggregate" not in p


def test_scd2_pit_join_is_single_shuffle_no_join(spark, sf_dir):
    """The point-in-time lookup must be the union+window plan (one
    user_id exchange), never a physical join of probes to versions —
    a join here means candidate-pair explosion at scale."""
    p = plan(spark, sf_dir, "join_scd2_point_in_time")
    assert "Window" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in p, j
    assert p.count("Exchange hashpartitioning") == 1


def test_linear_trend_partial_final_split(spark, sf_dir):
    """The five moment sums must combine map-side: two HashAggregate
    levels around one exchange, nothing else moving."""
    p = plan(spark, sf_dir, "ts_linear_trend")
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange hashpartitioning") == 1


def test_asof_tolerance_no_pair_join(spark, sf_dir):
    """Tolerance as-of must keep the union+window plan — the interval
    pair-join alternative is the scale-killer it exists to avoid."""
    p = plan(spark, sf_dir, "join_asof_tolerance")
    assert "Window" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin"):
        assert j not in p, j


def test_ewma_single_shuffle(spark, sf_dir):
    """The EWMA fold: one exchange to the user, fold + posexplode stay
    in the same stage (no second exchange, no window)."""
    p = plan(spark, sf_dir, "ts_ewma_bitshift")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" not in p


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """The star-schema join must carry a DynamicPruningExpression on the
    partitioned fact scan — runtime partition pruning from the filtered
    dimension, not a full-fact read."""
    p = plan(spark, sf_dir, "join_dpp_partition_pruning")
    assert "dynamicpruning" in p.lower()


def test_merge_upsert_broadcasts_changes_no_full_outer(spark, sf_dir):
    """MERGE semantics must plan as left-join(broadcast changes)+union,
    never the unbroadcastable full-outer join: zero exchanges on the
    target scan path."""
    p = plan(spark, sf_dir, "lake_merge_upsert")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "FullOuter" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_snapshot_diff_is_sort_merge_full_outer(spark, sf_dir):
    """Snapshot diff joins two table-sized sides — the honest plan is a
    co-partitioned sort-merge FULL outer (broadcast would OOM at scale)."""
    p = plan(spark, sf_dir, "lake_snapshot_diff")
    assert "SortMergeJoin" in p and "FullOuter" in p


def test_interval_merge_single_shuffle_fused_windows(spark, sf_dir):
    """Island detection: one exchange to user_id serves both window
    passes AND the final (user, island) aggregate — island is a prefix
    extension of the window partitioning, so no re-shuffle."""
    p = plan(spark, sf_dir, "ts_interval_merge")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_market_basket_reuses_one_fact_exchange(spark, sf_dir):
    """The (order, brand) relation feeds 4 consumers (both self-join
    sides, per-brand counts, order total); the okey pre-partition makes
    all four hang off ONE canonical exchange — AQE materializes it once
    and reuses it 3× (one fact scan at runtime, not four)."""
    p = plan(spark, sf_dir, "agg_market_basket_pairs", execute=True)
    assert p.count("ReusedExchange") >= 3
    assert "CartesianProduct" not in p


def test_rfm_windows_run_on_dimension_aggregate(spark, sf_dir):
    """RFM's three ranking windows consume the customer AGGREGATE (one
    custkey exchange off the fact scan), never raw orders."""
    p = plan(spark, sf_dir, "agg_rfm_segments")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") >= 3


def test_funnel_is_join_chain_no_window(spark, sf_dir):
    """Ordered-funnel stages plan as hash joins over partial aggregates
    — never a per-user event sort/window."""
    p = plan(spark, sf_dir, "cep_funnel_conversion")
    assert "Window" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_link_prediction_inverted_index_no_cartesian(spark, sf_dir):
    """Candidate pairs come from the part-keyed inverted index — an
    equi self-join, never the n² supplier grid; degree tables
    broadcast."""
    p = plan(spark, sf_dir, "graph_link_prediction")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_geo_grid_radius_is_equi_join_on_cells(spark, sf_dir):
    """The spatial join must be an EQUI-join on the grid cell id (the
    only non-equi element is the 9-row offsets broadcast); a
    CartesianProduct/all-pairs plan is the failure it exists to
    avoid."""
    p = plan(spark, sf_dir, "join_geo_grid_radius")
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        p.count("BroadcastHashJoin") >= 1
    )


def test_waterfill_windows_on_source_dimension_only(spark, sf_dir):
    """Waterfilling's windows/joins run on the ~20-row source aggregate;
    the corpus is touched by exactly one partial-agg groupBy chain (the
    per-source token count), re-read per consumer at fixture scale."""
    p = plan(spark, sf_dir, "llm_mix_waterfill")
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_surprisal_vocab_join_is_equi_hash_join(spark, sf_dir):
    """The token→vocab-count join must be a key equi-join (hash) —
    Catalyst broadcasts the fixture-sized vocab and would shuffle-join
    a 100 TB corpus vocab on the same plan (stats-driven, no code
    change); a nested-loop/cartesian plan is the failure mode."""
    p = plan(spark, sf_dir, "llm_surprisal_bits")
    assert "CartesianProduct" not in p
    assert (
        "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p
    )


def test_spell_candidates_equi_join_on_variants_no_cartesian(spark, sf_dir):
    """SymSpell: candidate generation must be an EQUI-join on the
    deletion-variant key — never the |rare|×|vocab| levenshtein grid."""
    p = plan(spark, sf_dir, "llm_spell_candidates")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_percentile_narrowed_never_sorts_globally(spark, sf_dir):
    """Two-pass narrowing: the full data moves only through hash
    aggregates; sorting happens per-bucket AFTER the target-bucket
    filter (no range partitioning = no global sort)."""
    p = plan(spark, sf_dir, "agg_percentile_narrowed")
    assert "rangepartitioning" not in p.lower()
    assert "HashAggregate" in p


def test_sql_unpivot_clause_single_scan_expand(spark, sf_dir):
    """The UNPIVOT clause must lower to one scan + Expand, not the
    3-scan UNION ALL its oracle runs."""
    p = plan(spark, sf_dir, "sql_unpivot_syntax")
    assert p.count("Scan parquet") == 1, p
    assert "Expand" in p
    assert "Union" not in p


def test_asof_nearest_is_window_not_pair_join(spark, sf_dir):
    """NEAREST as-of must keep the union-marker window form — the
    per-user pair join is the oracle's job, not the engine's."""
    p = plan(spark, sf_dir, "join_asof_nearest")
    assert "Window" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p, j


def test_drift_chi2_single_fact_pass(spark, sf_dir):
    """Both periods split via conditional counts in ONE pass: the grid
    cells' exchange feeds both the per-series totals and the join side,
    and AQE materializes it once (ReusedExchange at runtime — one fact
    scan); the totals broadcast back."""
    p = plan(spark, sf_dir, "dq_drift_chi2", execute=True)
    assert p.count("ReusedExchange") >= 1
    assert "BroadcastHashJoin" in p


def test_values_dim_is_local_relation_broadcast(spark, sf_dir):
    """The VALUES rate card must plan as a LocalRelation broadcast —
    zero scan, zero shuffle on the dim side."""
    p = plan(spark, sf_dir, "sql_values_inline_dim")
    assert "LocalTableScan" in p
    assert "BroadcastHashJoin" in p
    assert p.count("Scan parquet") == 1  # only the fact


def test_gini_final_agg_reuses_window_partitioning(spark, sf_dir):
    """Gini: the three window frames and the final groupBy all key on
    n_name — Catalyst must satisfy the aggregate from the window's
    hashpartitioning (ONE exchange on n_name, one per-nation sort, no
    range partitioning = no global sort)."""
    p = plan(spark, sf_dir, "agg_gini_concentration")
    assert "rangepartitioning" not in p.lower()
    assert "Window" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_zscore_raw_rows_never_shuffle_or_sort(spark, sf_dir):
    """Z-score must be the aggregate+broadcast form: moments reduce via
    a partial-agg groupBy, broadcast back, map-side z. The window
    alternative (avg/std OVER (PARTITION BY flag)) would sort every raw
    row — pin its absence."""
    p = plan(spark, sf_dir, "win_zscore_normalize")
    assert "Window" not in p
    assert " Sort " not in p
    assert "BroadcastHashJoin" in p
    assert "rangepartitioning" not in p.lower()


def test_referential_integrity_uses_anti_joins_not_outer(spark, sf_dir):
    """Each FK edge must audit via ANTI joins (existence plans); an
    outer-join + null-filter would multiply fact rows. The only
    nested-loop joins allowed are the 1-row scalar combines."""
    p = plan(spark, sf_dir, "dq_referential_integrity")
    assert "Anti" in p
    assert "Outer" not in p
    assert "CartesianProduct" not in p


def test_pareto_two_exchanges_window_reused_by_final_agg(spark, sf_dir):
    """Pareto: exactly two hash exchanges — (n_name, custkey) for the
    revenue rollup, n_name for the ranking windows — and the final
    aggregate reuses the window's partitioning (no third shuffle, no
    range partitioning)."""
    p = plan(spark, sf_dir, "agg_pareto_topshare")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "rangepartitioning" not in p.lower()
    assert "Window" in p


def test_uuid_deterministic_is_map_only(spark, sf_dir):
    """Name-based UUID minting must be a zero-shuffle map-side plan."""
    p = plan(spark, sf_dir, "fn_uuid_deterministic")
    assert "Exchange" not in p
    assert "Scan parquet" in p


def test_fill_forward_limit_single_exchange_no_join(spark, sf_dir):
    """Bounded LOCF: both IGNORE-NULLS frames share ONE per-user sort —
    one exchange, no join back for the staleness test."""
    p = plan(spark, sf_dir, "ts_fill_forward_limit")
    assert p.count("Exchange") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_debounce_single_exchange(spark, sf_dir):
    """Debounce is one per-(user,type) sort + lag + map-side filter."""
    p = plan(spark, sf_dir, "cep_debounce_events")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_star_except_prunes_scan_to_surviving_columns(spark, sf_dir):
    """* EXCEPT must expand before optimization so the scan reads only
    the 8 surviving columns — the syntax's whole point at scale.
    (Metadata string length raised for the test: the default 100-char
    plan rendering truncates an 8-column ReadSchema.)"""
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        p = plan(spark, sf_dir, "sql_star_except")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    read = p.split("ReadSchema:")[1].splitlines()[0]
    for dropped in ("l_tax", "l_returnflag", "l_linestatus"):
        assert dropped not in read, read
    assert "l_extendedprice" in read


def test_degree_distribution_single_edge_dedup_shuffle(spark, sf_dir):
    """The edge distinct is the only fact-sized shuffle; both degree
    histograms reduce from it (no cartesian, no range sort)."""
    p = plan(spark, sf_dir, "graph_degree_distribution")
    assert "CartesianProduct" not in p
    assert "rangepartitioning" not in p.lower()
    assert "HashAggregate" in p


def test_outlier_iqr_fences_broadcast_back(spark, sf_dir):
    """IQR: group-count-sized fences broadcast onto the cents rows —
    the raw data is never re-sorted for the outlier count."""
    p = plan(spark, sf_dir, "dq_outlier_iqr")
    assert "BroadcastHashJoin" in p
    assert "rangepartitioning" not in p.lower()


def test_mom_growth_lag_over_reduced_rollup(spark, sf_dir):
    """MoM growth: the window runs over the (nation, month) rollup, not
    the fact — exactly one fact-sized hash exchange."""
    p = plan(spark, sf_dir, "ts_mom_growth")
    assert "Window" in p
    assert "rangepartitioning" not in p.lower()


def test_token_sort_dedup_single_signature_exchange(spark, sf_dir):
    """Token-sort dedup: the in-row token sort is map-side; the only
    exchange is on the md5 signature."""
    p = plan(spark, sf_dir, "llm_dedup_token_sort")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_ngram_novelty_equi_join_no_cartesian(spark, sf_dir):
    """Novelty: gram expansion map-side, first-occurrence via groupBy,
    equi-join back — never all-pairs."""
    p = plan(spark, sf_dir, "llm_ngram_novelty")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p  # the explode stays JVM-side


def test_direction_changes_single_sort_two_lags(spark, sf_dir):
    """Both lag frames share the per-user ordering — Catalyst must fold
    them onto one exchange."""
    p = plan(spark, sf_dir, "ts_direction_changes")
    assert p.count("Exchange") == 1


def test_cusum_single_sort_no_udf(spark, sf_dir):
    """CUSUM via the prefix identity: one exchange, window frames only —
    no Python evaluation anywhere in the plan."""
    p = plan(spark, sf_dir, "ts_cusum_alarm")
    assert p.count("Exchange") == 1
    assert "Python" not in p
    assert "Window" in p


def test_column_profile_single_scan_expand(spark, sf_dir):
    """The 6-column profiler must read orders ONCE: multi-distinct
    plans as one scan + Expand, and the long-format unpivot unions
    projections of the same 1-row aggregate, not re-reads."""
    p = plan(spark, sf_dir, "dq_column_profile")
    assert p.count("Scan parquet") == 1, p
    assert "Expand" in p


def test_log2_histogram_map_side_partial_agg(spark, sf_dir):
    """Integer-log2 bucketing is map-side; the groupBy partial-aggregates
    before its one exchange."""
    p = plan(spark, sf_dir, "agg_histogram_log2_bins")
    assert "partial_" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_repurchase_intervals_lag_then_tiny_histogram(spark, sf_dir):
    """Gap computation is one per-customer window; the bucket histogram
    aggregates the lag output (no self-join of orders)."""
    p = plan(spark, sf_dir, "ts_repurchase_intervals")
    assert "Window" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_rarity_score_equi_join_on_vocab(spark, sf_dir):
    """Token→df join must be an equi hash join; the doc-count scalar is
    the only nested-loop (1-row broadcast)."""
    p = plan(spark, sf_dir, "llm_rarity_score")
    assert "CartesianProduct" not in p
    assert (
        "BroadcastHashJoin" in p
        or "ShuffledHashJoin" in p
        or "SortMergeJoin" in p
    )


def test_isoweek_bundle_map_side_pushed_filter(spark, sf_dir):
    """Calendar bundle: zero shuffle, keyed filter pushed to the scan."""
    p = plan(spark, sf_dir, "fn_isoweek_bundle")
    assert "Exchange" not in p


def test_all_rewrite_is_aggregate_left_join(spark, sf_dir):
    """> ALL decorrelation: per-key max LEFT-joined back (empty groups
    kept) — one BroadcastHashJoin LeftOuter, no per-row subplan."""
    p = plan(spark, sf_dir, "subquery_all_rewrite")
    assert "BroadcastHashJoin" in p
    assert "LeftOuter" in p


def test_new_vs_returning_no_window_no_sort(spark, sf_dir):
    """Growth accounting is groupBys + an equi-join on custkey — no
    window, no per-partition sort of the fact."""
    p = plan(spark, sf_dir, "ts_new_vs_returning")
    assert "Window" not in p
    assert "rangepartitioning" not in p.lower()


def test_status_transitions_normalize_over_aggregated_matrix(spark, sf_dir):
    """The row normalization's window runs AFTER the pair groupBy (9-row
    input), so the plan has exactly one fact-sized exchange (custkey for
    the lag) plus the matrix-sized ones."""
    p = plan(spark, sf_dir, "ts_status_transitions")
    assert "Window" in p
    assert p.count("Scan parquet") == 1


def test_bounce_rate_composes_sessionize_one_session_shuffle(spark, sf_dir):
    """Bounce rate adds only a rollup over session rows; the session
    assignment's exchange is the only fact-sized one."""
    p = plan(spark, sf_dir, "ts_bounce_rate")
    assert "Scan parquet" in p
    assert "CartesianProduct" not in p


def test_in_list_pushdown_reaches_scan(spark, sf_dir):
    """The IN list and the price range must land in PushedFilters."""
    p = plan(spark, sf_dir, "scan_pushdown_in_list")
    pushed = p.split("PushedFilters:")[1][:400]
    assert "In(o_orderpriority" in pushed, pushed
    assert "GreaterThan(o_totalprice" in pushed, pushed


def test_hop_distinct_two_phase_aggregate(spark, sf_dir):
    """Exact sliding distinct: window expansion then partial+final
    distinct aggregate — no rangepartitioning, no join."""
    p = plan(spark, sf_dir, "win_hop_distinct_users")
    assert "partial_" in p
    assert "rangepartitioning" not in p.lower()


def test_strsim_bundle_equi_join_map_side_arrays(spark, sf_dir):
    """Adjacent-pair blocking is an equi join; bigram sets build in-row
    (no explode, no Python)."""
    p = plan(spark, sf_dir, "fn_strsim_bundle")
    assert "CartesianProduct" not in p
    assert "Generate" not in p
    assert "Python" not in p


def test_assortativity_single_edge_dedup_then_keyed_joins(spark, sf_dir):
    """Assortativity joins degrees back onto edges by key — no
    cartesian, no nested loop beyond the 1-row final projection."""
    p = plan(spark, sf_dir, "graph_degree_assortativity")
    assert "CartesianProduct" not in p
    assert "rangepartitioning" not in p.lower()


def test_retractable_agg_single_groupby_over_union(spark, sf_dir):
    """The weighted changelog merges through ONE aggregate: a Union
    feeding one partial+final HashAggregate pair, one exchange."""
    p = plan(spark, sf_dir, "ivm_retractable_agg")
    assert "Union" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ipv4_bundle_integer_ops_one_distinct_exchange(spark, sf_dir):
    """IPv4 bundle: the user distinct is the only exchange; address math
    is codegen'd integer div/mod (no Python)."""
    p = plan(spark, sf_dir, "fn_ipv4_bundle")
    assert "Python" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_event_bitmask_two_partial_aggs(spark, sf_dir):
    """Both bit_or and the combo count must partial-aggregate map-side."""
    p = plan(spark, sf_dir, "agg_event_type_bitmask")
    assert "partial_" in p
    assert "CartesianProduct" not in p


def test_conversion_latency_windows_over_converted_only(spark, sf_dir):
    """The global quartile rank runs AFTER two aggregations (converted
    users), never over raw events."""
    p = plan(spark, sf_dir, "ts_conversion_latency")
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_corpus_mix_windows_over_cells(spark, sf_dir):
    """Corpus mix: one fact-sized exchange (the groupBy); both windows
    run over the aggregated cell table."""
    p = plan(spark, sf_dir, "llm_corpus_mix_report")
    assert "Window" in p
    assert p.count("Scan parquet") == 1


def test_join_hints_force_merge_and_broadcast(spark, sf_dir):
    """MERGE(orders) must yield a SortMergeJoin on the fact join and
    BROADCAST(nation) a BroadcastHashJoin — a silently-ignored hint is
    the regression this pins."""
    p = plan(spark, sf_dir, "sql_join_hints")
    assert "SortMergeJoin" in p, p
    assert "BroadcastHashJoin" in p, p


def test_wilson_ci_single_groupby_broadcast_dims(spark, sf_dir):
    """Wilson CI: one partial-agg groupBy; dims broadcast."""
    p = plan(spark, sf_dir, "agg_rate_wilson_ci")
    assert "partial_" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_local_peaks_lag_lead_one_sort(spark, sf_dir):
    """lag + lead must share the per-user sort — one exchange."""
    p = plan(spark, sf_dir, "ts_local_peaks")
    assert p.count("Exchange hashpartitioning") == 1


def test_strict_contiguity_is_one_window_no_nfa(spark, sf_dir):
    """Strict adjacency compiles to one window pass — no Python runner."""
    p = plan(spark, sf_dir, "cep_strict_contiguity")
    assert "Python" not in p
    assert "Window" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_parameter_binding_pushes_bound_literal(spark, sf_dir):
    """The bound :min_price must reach the scan as a pushed literal
    filter, exactly as an inlined constant would."""
    p = plan(spark, sf_dir, "sql_parameter_binding")
    pushed = p.split("PushedFilters:")[1][:400]
    assert "GreaterThan(o_totalprice,150000" in pushed, pushed


def test_volume_monitor_single_scan_no_join(spark, sf_dir):
    """The median comes from a second frame over the same ranked
    84-month table — one fact scan, no join back."""
    p = plan(spark, sf_dir, "dq_volume_by_month")
    assert p.count("Scan parquet") == 1, p
    assert "Join" not in p


def test_token_offsets_posexplode_one_doc_exchange(spark, sf_dir):
    """Span offsets: Generate (posexplode) stays JVM-side; one doc_id
    exchange for the cumulative-length window."""
    p = plan(spark, sf_dir, "llm_token_offsets")
    assert "Generate" in p
    assert "Python" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_time_in_state_one_lead_then_partial_agg(spark, sf_dir):
    """Dwell accounting: one per-user lead window, then a partial-agg
    rollup — no self-join of events."""
    p = plan(spark, sf_dir, "ts_time_in_state")
    assert "Window" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_pk_uniqueness_groupbys_no_joins(spark, sf_dir):
    """Each key check is a groupBy + rollup; only the 3-row union and
    no join anywhere."""
    p = plan(spark, sf_dir, "dq_pk_uniqueness")
    assert "Union" in p
    assert "CartesianProduct" not in p


def test_skyline_single_window_pass_no_pair_join(spark, sf_dir):
    """2-D skyline must be the sort-filter form: one window over the
    price order — never a dominance pair join."""
    p = plan(spark, sf_dir, "agg_skyline_2d")
    assert "Window" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_series_correlation_grid_is_broadcast_metadata(spark, sf_dir):
    """The zero-fill grid builds from metadata-sized distincts (types
    broadcast); the pair join keys on the hour — no cartesian over
    rows."""
    p = plan(spark, sf_dir, "ts_series_correlation")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_modularity_composes_lpa_plus_keyed_joins(spark, sf_dir):
    """Modularity adds only label equi-joins and tiny aggregates to the
    audited LPA plan — no cartesian anywhere but the 1-row combines."""
    p = plan(spark, sf_dir, "graph_modularity")
    assert "CartesianProduct" not in p


def test_dedup_eval_composes_registry_pair_sets(spark, sf_dir):
    """P/R eval: the candidate∩truth overlap is a pair equi-join."""
    p = plan(spark, sf_dir, "llm_dedup_eval_pr")
    assert "CartesianProduct" not in p


def test_binary_codec_map_only(spark, sf_dir):
    """Codec chain is pure map-side with the keyed filter pushed."""
    p = plan(spark, sf_dir, "fn_binary_codec_bundle")
    assert "Exchange" not in p


def test_burstiness_lag_and_agg_share_partitioning(spark, sf_dir):
    """Gap lag and the moment groupBy both key on user_id — one
    exchange."""
    p = plan(spark, sf_dir, "ts_burstiness")
    assert p.count("Exchange hashpartitioning") == 1


def test_simpson_two_stacked_partial_aggs(spark, sf_dir):
    """Both groupBys partial-aggregate; second reuses the user keying."""
    p = plan(spark, sf_dir, "agg_simpson_diversity")
    assert "partial_" in p
    assert "Window" not in p


def test_median3_single_sort_no_percentile(spark, sf_dir):
    """Median-of-3 is sum − max − min over lag/lead on ONE sort — no
    percentile machinery, no join."""
    p = plan(spark, sf_dir, "ts_median3_smooth")
    assert p.count("Exchange hashpartitioning") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_seasonal_anomaly_profile_and_mad_broadcast(spark, sf_dir):
    """The 24-row profile and the 1-row MAD broadcast back — the events
    never shuffle for the residual test."""
    p = plan(spark, sf_dir, "ts_seasonal_anomaly")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_distinct_on_rewrite_is_max_by_no_sort(spark, sf_dir):
    """DISTINCT ON rewrite: one hash aggregate with map-side max_by —
    no window, no rangepartitioning."""
    p = plan(spark, sf_dir, "sql_distinct_on_rewrite")
    assert "Window" not in p
    assert "rangepartitioning" not in p.lower()
    assert "partial_" in p


def test_reconcile_monthly_left_join_on_rollups(spark, sf_dir):
    """Reconciliation joins two month-count-sized rollups — never the
    raw facts against each other."""
    p = plan(spark, sf_dir, "dq_reconcile_orders_lineitem")
    assert "CartesianProduct" not in p


def test_auc_rank_over_reduced_docs(spark, sf_dir):
    """AUC ranks docs (already reduced), join is keyed, no cartesian."""
    p = plan(spark, sf_dir, "llm_classifier_auc")
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_rouge_pair_join_is_gram_keyed(spark, sf_dir):
    """Clipped ROUGE overlap joins on (ref_id, gram) — equi only."""
    p = plan(spark, sf_dir, "llm_rouge_n_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_path_trigrams_two_lags_one_sort_tiny_rank(spark, sf_dir):
    """Both lags fold onto one per-user sort (one fact-sized exchange);
    the only other hash exchange carries the <=125-row partial path
    counts."""
    p = plan(spark, sf_dir, "ts_path_trigrams")
    assert p.count("Exchange hashpartitioning") == 2, p


def test_session_depth_composes_sessionize(spark, sf_dir):
    """Depth histogram adds one rollup over session rows."""
    p = plan(spark, sf_dir, "ts_session_depth_hist")
    assert "CartesianProduct" not in p


def test_dataset_card_scalar_branch_combines(spark, sf_dir):
    """The card's three aggregate branches combine as 1-row scalars —
    nested-loop joins allowed ONLY for those."""
    p = plan(spark, sf_dir, "llm_dataset_card")
    assert "CartesianProduct" not in p


def test_winsorize_fences_broadcast_clamp_map_side(spark, sf_dir):
    """Winsorize: rank fences once, broadcast back, clamp map-side."""
    p = plan(spark, sf_dir, "win_winsorize_p5p95")
    assert "BroadcastHashJoin" in p
    assert "rangepartitioning" not in p.lower()


def test_running_sum_reset_one_exchange_two_windows(spark, sf_dir):
    """(user, segment) is a prefix extension of user — the second
    window must reuse the first's exchange."""
    p = plan(spark, sf_dir, "win_running_sum_reset")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Window") >= 2


def test_hhi_two_partial_aggs_broadcast_nation(spark, sf_dir):
    """HHI: supplier rollup then nation aggregate, both partial-agg."""
    p = plan(spark, sf_dir, "agg_hhi_index")
    assert "partial_" in p
    assert "BroadcastHashJoin" in p


def test_snaive_join_over_hourly_rollup(spark, sf_dir):
    """The h-24h join runs on the hours-count-sized rollup — one fact
    scan feeding both sides (AQE reuse) or two rollup branches, never
    an event-level self-join."""
    p = plan(spark, sf_dir, "ts_forecast_snaive_mae")
    assert "CartesianProduct" not in p


def test_campaign_overlap_broadcast_calendar(spark, sf_dir):
    """The 3-row calendar broadcasts; the interval condition runs as a
    nested-loop over 3 rows per session — correct for a literal dim."""
    p = plan(spark, sf_dir, "join_campaign_overlap")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_rolling_mau_expands_user_days_not_events(spark, sf_dir):
    """The x28 replication must run on the DEDUPED (user, day) table —
    the distinct precedes the Generate in the plan."""
    p = plan(spark, sf_dir, "ts_rolling_mau")
    gen = p.index("Generate")
    assert "HashAggregate" in p[gen:], p  # distinct below the explode
    assert "CartesianProduct" not in p


def test_duration_format_map_side_after_groupby(spark, sf_dir):
    """One partial-agg groupBy; the ISO rendering is codegen'd."""
    p = plan(spark, sf_dir, "fn_duration_format")
    assert "partial_" in p
    assert "Python" not in p


def test_bpe_pairs_count_over_vocab_not_corpus(spark, sf_dir):
    """Pair expansion must run AFTER the word-frequency rollup — the
    vocab-sized explode, not the corpus-sized one: an aggregate sits
    below the Generate in the plan."""
    p = plan(spark, sf_dir, "llm_bpe_pair_counts")
    gen = p.index("Generate")
    assert "HashAggregate" in p[gen:], p


def test_community_sizes_reuses_lpa_core(spark, sf_dir):
    """Community sizes adds only tiny aggregates to the LPA plan."""
    p = plan(spark, sf_dir, "graph_community_sizes")
    assert "CartesianProduct" not in p


def test_target_encode_rows_never_shuffle(spark, sf_dir):
    """LOO encoding: category stats broadcast back; the fact rows have
    no exchange and no sort."""
    p = plan(spark, sf_dir, "agg_target_encode_loo")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    assert "rangepartitioning" not in p.lower()


def test_ab_test_one_conditional_pass(spark, sf_dir):
    """A/B z-test: one conditional-count pass over orders, no joins."""
    p = plan(spark, sf_dir, "agg_ab_test_ztest")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p


def test_twap_one_lead_then_partial_agg(spark, sf_dir):
    """TWAP: one per-user lead window then a partial-agg rollup."""
    p = plan(spark, sf_dir, "ts_twap")
    assert "Window" in p
    assert "partial_" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_luhn_in_row_no_python_no_shuffle(spark, sf_dir):
    """Luhn is in-row array arithmetic: no Python, no exchange."""
    p = plan(spark, sf_dir, "fn_luhn_checksum")
    assert "Python" not in p
    assert "Exchange" not in p


def test_slo_attainment_single_pass_no_rank(spark, sf_dir):
    """SLO bands: one conditional-count pass — no ranking machinery."""
    p = plan(spark, sf_dir, "dq_slo_attainment")
    assert "Window" in p  # the gap lag only
    assert "rangepartitioning" not in p.lower()


def test_langid_confusion_matrix_windows_over_matrix(spark, sf_dir):
    """Row shares window over the |langs|^2 matrix, not docs."""
    p = plan(spark, sf_dir, "llm_langid_confusion")
    assert "CartesianProduct" not in p


def test_attribution_bounded_interval_join(spark, sf_dir):
    """First/last touch: the pair join is the bounded lookback interval
    join; crediting is one min/max aggregate, no per-purchase sort."""
    p = plan(spark, sf_dir, "ts_attribution_first_last")
    assert "rangepartitioning" not in p.lower()
    assert "partial_" in p


def test_skyline_grid_no_global_sort(spark, sf_dir):
    """Grid skyline: cells sort independently — no global range
    partitioning anywhere; phase 2 runs over survivors only."""
    p = plan(spark, sf_dir, "agg_skyline_grid")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p


def test_content_checksum_partial_agg_per_table(spark, sf_dir):
    """Each table's checksum is one partial-agg pass (order-independent
    sum combine) — no sort, no join."""
    p = plan(spark, sf_dir, "dq_content_checksum")
    assert "partial_" in p
    assert "Join" not in p
    assert "Sort" not in p


def test_geo_grid_knn_no_cartesian(spark, sf_dir):
    """Expanding-ring k-NN: every phase (including the covering final
    ring) is a cell-id equi-join; the only nested-loop joins are the
    broadcast offset attaches — never a point×point cartesian."""
    p = plan(spark, sf_dir, "join_geo_grid_knn")
    assert "CartesianProduct" not in p


def test_decile_lift_binned_no_global_range_sort(spark, sf_dir):
    """Binned decile lift: the customer-sized rank window partitions by
    bin (local sorts only) — no global range partitioning of the spend
    table; the only single-partition window runs over the 1024-row bin
    offset table (metadata-sized)."""
    p = plan(spark, sf_dir, "agg_decile_lift_binned")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    # the big window is bin-partitioned: its exchange hashes on bin
    assert "hashpartitioning(bin" in p


def test_pca_projection_is_map_side_only(spark, sf_dir):
    """llm_embedding_pca_project: the eigen half happens at plan-build
    time (collected dimension-sized gram); the RETURNED projection plan
    must be pure scan + codegen'd fold — no exchange, no join, no window,
    no Python UDF."""
    p = plan(spark, sf_dir, "llm_embedding_pca_project")
    # the only allowed exchange is the fixture loader's round-robin
    # fan-out of the single small file — never a key shuffle
    assert "hashpartitioning" not in p and "rangepartitioning" not in p.lower()
    assert "Window" not in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pca_knn_grid_no_cartesian(spark, sf_dir):
    """PCA-plane grid kNN: every ring phase is a cell-id equi-join; the
    only nested-loop joins are broadcast offset attaches — never a
    point×point cartesian (the brute-force shape lives in the oracle
    only)."""
    p = plan(spark, sf_dir, "llm_pca_knn_grid")
    assert "CartesianProduct" not in p


def test_rfm_segments_binned_no_global_range_sort(spark, sf_dir):
    """Binned RFM (r11 valve): all three metric rankings partition by
    their bin keys — nothing range-partitions the customer aggregate;
    the single-partition windows run over bin-offset tables only."""
    p = plan(spark, sf_dir, "agg_rfm_segments_binned")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    for b in ("bin_r", "bin_f", "bin_m"):
        assert f"hashpartitioning({b}" in p


def test_conversion_latency_binned_no_global_range_sort(spark, sf_dir):
    """Binned conversion-latency quartiles (r11 valve): the converted-user
    rank window partitions by the delay bucket; no global range sort."""
    p = plan(spark, sf_dir, "ts_conversion_latency_binned")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    assert "hashpartitioning(bin" in p


def test_hop_distinct_hll_replicates_sketches_not_events(spark, sf_dir):
    """HLL hop-distinct: the ×4 expansion (Generate/explode) must sit
    ABOVE the per-slide sketch aggregate — events aggregate once, only
    sketch rows replicate."""
    p = plan(spark, sf_dir, "win_hop_distinct_hll")
    gen = p.find("Generate explode")
    assert gen != -1
    # below the explode (later in the printed tree) there is a partial
    # hll_sketch_agg — i.e. the aggregate feeds the explode, not vice versa
    assert "hll_sketch_agg" in p[gen:]


def test_modularity_by_community_composes_lpa(spark, sf_dir):
    """The drill-down adds only label equi-joins + community-sized
    aggregates to the audited LPA plan — no cartesian beyond the 1-row
    scalar attach."""
    p = plan(spark, sf_dir, "graph_modularity_by_community")
    assert "CartesianProduct" not in p


def test_kn_lm_gram_joins_partial_agg(spark, sf_dir):
    """KN scoring: bigram counts partial-aggregate map-side and the
    score join is gram-keyed equi — never a cartesian pair blowup."""
    p = plan(spark, sf_dir, "llm_ngram_lm_kn")
    assert "partial_" in p
    assert "CartesianProduct" not in p


def test_rouge_l_fold_stays_jvm(spark, sf_dir):
    """The LCS fold is pure codegen: no Python evals anywhere in the
    ROUGE-L plan (the bit-parallel aggregate is a JVM expression)."""
    p = plan(spark, sf_dir, "llm_rouge_l_pairs")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in p
    assert "CartesianProduct" not in p


# --- r9 wave-2 plan pins -------------------------------------------------------


def test_tokenizer_fertility_single_agg_no_joins(spark, sf_dir):
    """Fertility is ONE map-side-combine groupBy over the scan: partial
    aggregation present, no join of any kind, one exchange on lang."""
    p = plan(spark, sf_dir, "llm_tokenizer_fertility")
    assert "partial_" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_bleu_pairs_gram_keyed_no_cartesian(spark, sf_dir):
    """BLEU assembles via gram-keyed and pair-keyed equi-joins only —
    never a doc×doc product."""
    p = plan(spark, sf_dir, "llm_bleu_pairs")
    assert "CartesianProduct" not in p


def test_kn_heldout_gram_keyed_no_cartesian(spark, sf_dir):
    """Held-out scoring joins instances gram-keyed against aggregate-
    sized train tables; the only nested-loop is the broadcast 1-row nt
    attach — no cartesian over data-sized inputs."""
    p = plan(spark, sf_dir, "llm_kn_heldout_surprisal")
    assert "CartesianProduct" not in p


def test_ann_recall_broadcast_queries_never_corpus_squared(spark, sf_dir):
    """Ground truth is corpus × BROADCAST query sample (query side is
    the small side by construction); the approx side joins bucket-keyed.
    Pin: no CartesianProduct, and the per-query rank windows partition
    by the query id (never a global sort)."""
    p = plan(spark, sf_dir, "llm_ann_recall_eval")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the broadcast-query attach
    assert "Window" in p


def test_xcorr_lag_hour_keyed_join(spark, sf_dir):
    """The lag sweep attaches a broadcast literal lag table and joins
    the shifted grid HOUR-keyed — no cartesian over grid rows; the
    moments partial-aggregate."""
    p = plan(spark, sf_dir, "ts_cross_correlation_lag")
    assert "CartesianProduct" not in p
    assert "partial_" in p


def test_bootstrap_ci_single_fact_shuffle(spark, sf_dir):
    """The B-way resample explode must ride the SCAN (broadcast b-table
    crossJoin), partial-aggregate map-side into groups x B cells, and
    never shuffle the fact wider than that one (grp, b) aggregate."""
    p = plan(spark, sf_dir, "agg_bootstrap_ci")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 200-row resample attach
    assert "partial_" in p


def test_bootstrap_ci_hot_aggregate_is_decimal_free(spark, sf_dir):
    """The |rows|·B partial aggregate must run on compact-long buffers:
    sum(wt·cents) is split into hi/lo long sums (div/mod 2^20, exact —
    recombined in decimal once per (grp, b) CELL), because a
    decimal(38,0) buffer is BigDecimal-backed and paid a per-row
    BigDecimal multiply + add 30M times (r12: 3.32 s → 2.87 s clean
    A/B median, identical output)."""
    p = plan(spark, sf_dir, "agg_bootstrap_ci")
    assert "partial_sum(((cast(wt" in p  # the hi/lo long products
    assert "div 1048576" in p and "% 1048576" in p
    # no decimal anywhere in the wt-side partial sums: the only decimal
    # partial_sum is the per-row-once sum(cents) of the point-estimate arm.
    # Extract each FULL balanced partial_sum(...) argument — a non-greedy
    # regex truncated at the first ')' after 'wt', so a regression like
    # cast(wt as bigint) * cast(cents as decimal(38,0)) slipped past it
    # (r12 ADVICE item).
    wt_partials = []
    start = 0
    while True:
        i = p.find("partial_sum(", start)
        if i < 0:
            break
        depth, j = 0, i + len("partial_sum")
        while j < len(p):
            if p[j] == "(":
                depth += 1
            elif p[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        frag = p[i : j + 1]
        start = j + 1
        if "wt" in frag:
            wt_partials.append(frag)
    assert wt_partials and all("decimal" not in f for f in wt_partials)


def test_importance_dsir_broadcasts_model_never_reshuffles_corpus(spark, sf_dir):
    """DSIR: the 128-row score table must attach by BROADCAST hash join
    (never a shuffle of the doc-bucket tfs against it), both corpus
    aggregates partial-aggregate map-side, nothing cartesians, and the
    corpus explodes exactly TWICE (doc-level tfs + bucket cells) — the
    first cut's separate totals aggregate re-ran it a third time
    because Catalyst does not share subplans across join branches;
    totals now ride a window over the 128-row cell table."""
    p = plan(spark, sf_dir, "llm_importance_dsir")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # score table onto doc-bucket tf
    assert "partial_" in p
    assert p.count("Scan parquet") == 2


def test_perplexity_buckets_windows_partition_by_lang_bin(spark, sf_dir):
    """CCNet terciles: the doc-sized rank window partitions by
    (lang, bin) — no per-lang global range sort of the corpus; the only
    lang-wide windows run over the langs x ~20-bin offset table
    (metadata-sized)."""
    p = plan(spark, sf_dir, "llm_perplexity_buckets")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    # the doc-level window's exchange hashes on (lang, bin)
    assert "hashpartitioning(lang" in p and "bin" in p


def test_classifier_auc_binned_no_global_score_sort(spark, sf_dir):
    """Binned AUC (the executable form of llm_classifier_auc's scale
    valve): the corpus-sized rank window partitions by score bucket —
    rank and tie-peer count fused in ONE bin-partitioned window node —
    and nothing range-partitions the scored table; single-partition
    exchanges exist only for the bucket-offset table and the final
    1-row aggregate."""
    p = plan(spark, sf_dir, "llm_classifier_auc_binned")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    # the corpus window's exchange hashes on the score bucket
    assert "hashpartitioning(bin" in p
    # rank and peer count share one window node (one sort, one exchange):
    # no plan line carries rank() without count(1) beside it
    rank_lines = [ln for ln in p.splitlines() if "rank(" in ln]
    assert rank_lines and all("count(1)" in ln for ln in rank_lines)


def test_weighted_median_binned_no_data_sort_outside_crossing_bin(spark, sf_dir):
    """Binned weighted median (r12 valve): the weighted table is never
    range-partitioned; the bucket rollup hashes on (flag, bin) and the
    crossing-bin attach is a broadcast join — the only rows that reach a
    value-ordered window are the crossing bin's."""
    p = plan(spark, sf_dir, "win_weighted_median_binned")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    assert "hashpartitioning(flag" in p
    assert "__wmb" in p  # the bin key actually drives the rollup
    assert "BroadcastHashJoin" in p  # crossing-bin semi-filter


def test_rolling_mau_hll_replicates_sketches_not_events(spark, sf_dir):
    """HLL rolling MAU (r12 valve): the ×28 expansion (Generate/explode)
    must sit ABOVE the per-day sketch aggregate — events aggregate once,
    only KB-sized day-sketch rows replicate."""
    p = plan(spark, sf_dir, "ts_rolling_mau_hll")
    gen = p.find("Generate explode")
    assert gen != -1
    # below the explode (later in the printed tree) there is a partial
    # hll_sketch_agg — i.e. the aggregate feeds the explode, not vice versa
    assert "hll_sketch_agg" in p[gen:]


def test_seasonal_anomaly_bucketed_no_global_residual_sort(spark, sf_dir):
    """Bucketed seasonal-MAD (r12 valve): the residual rank window
    partitions by the |r| bucket — nothing range-partitions the residual
    table; single-partition windows run over the bucket-offset table
    only."""
    p = plan(spark, sf_dir, "ts_seasonal_anomaly_bucketed")
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p
    assert "hashpartitioning(bin" in p


def test_ivfpq_no_cartesian_and_codes_not_vectors(spark, sf_dir):
    """llm_ann_ivfpq (r12): the funnel never degrades to a data×data
    cartesian — candidate generation is a cell equi-join, ADC scoring a
    broadcast LUT join; the only nested-loop joins are 1-row query /
    centroid-table broadcasts."""
    p = plan(spark, sf_dir, "llm_ann_ivfpq")
    assert "CartesianProduct" not in p


def test_ivfpq_recall_no_cartesian(spark, sf_dir):
    """llm_ann_recall_ivfpq (r12): per-query candidates ride cell and
    code equi-joins (the brute-force shape lives only in the sampled
    ground-truth CTE with the query side broadcast)."""
    p = plan(spark, sf_dir, "llm_ann_recall_ivfpq")
    assert "CartesianProduct" not in p
