#!/usr/bin/env python
"""Headline benchmark for the engine (driver contract: one JSON line).

Runs the headline SURVEY §2 queries, or the registry ids given as
arguments (``python bench.py [query_id ...]``, e.g. to record baselines
for new ids), at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, then the ``stream_tumble_1h`` drain, and
prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the sum of per-query medians. Methodology matches BASELINE.md
§A exactly: per query, 1 warm-up run (JVM/codegen/planning) then the median
of 3 timed ``collect()`` runs. Compare against BASELINE.md §A.

A ``telemetry`` map (per query: 1-min load average sampled right before
the warm-up, post-GC JVM heap, Janino compiles, the bench process tree's
busy CPU-s and the host's steal over the timed runs, and the ratio vs the
BASELINE.md §A.1 row) is printed so a >2× reading is attributable inside
the artifact itself: r1-r3 each had at least one heavy-tail query whose
official number was inflated 1.5-4× purely by box load / bench-sequence
state, and the adjudication needed an out-of-band idle re-run every time.
The full HEADLINE run (no ids) also writes it to
``BENCH_TELEMETRY_c{cpus}.json`` and the full summary to
``BENCH_SUMMARY.json``; a subset run writes nothing into the checkout.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: headline set — one per SURVEY §2 family, matching BASELINE.md §A rows.
HEADLINE = (
    "agg_pricing_summary",      # TPC-H Q1 shape: scan→filter→hash agg
    "agg_global_revenue",       # Q6 shape: global agg
    "agg_count_distinct_users", # distinct agg
    "agg_rollup_nation_region", # grouping sets family
    "topk_revenue_orders",      # Q3 shape: 3-way join + topk
    "join_5way_regional_revenue",  # Q5 shape: 5-way join
    "join_asof_last_purchase",  # as-of via window (no pair explosion)
    "win_rank_orders_per_cust", # window rank
    "win_tumble_1h_batch",      # time window (events)
    "win_session_30m_batch",    # session window
    "llm_doc_token_stats",      # text analysis
    "llm_tfidf_top_terms",      # corpus featurization
    "llm_knn_cosine_label",     # similarity search (blocked brute force)
    "llm_knn_ivf",              # similarity search (IVF scale path)
    "llm_dedup_minhash_sig",    # minhash signatures
    "llm_dedup_minhash_pairs",  # LSH band-join candidates
    "llm_dedup_simhash",        # simhash (no-shuffle near-dup)
    "mm_decode_meta",           # multimodal Arrow decode pipeline
    # round-2 additions (baselines recorded in BASELINE.md §A.1 r2 block)
    "cep_pattern_abc",          # 3-state NFA pattern match (applyInPandas)
    "llm_quality_repetition",   # zero-shuffle repetition quality gates
    "llm_pack_sequences",       # GPT-style sequence packing
    "llm_dedup_keep",           # dedup survivor materialization (CC + filter)
    "graph_pagerank_suppliers", # 5-round fixed-point PageRank
    # round-2b additions (baselines in BASELINE.md §A.1 r2b block)
    "subquery_scalar_part_avg", # Q17 shape: decorrelated scalar subqueries
    "graph_triangle_count",     # degree-oriented triangle counting
    "llm_pii_redact",           # regex scrub, zero shuffle
    "llm_sample_temperature",   # domain-temperature sampling
    "llm_corpus_final",         # end-to-end pipeline composition
    "cep_pattern_funnel4",      # 4-state NFA through the pattern API
    # round-3 additions (baselines in BASELINE.md §A.1 r3 block)
    "graph_connected_components",  # pointer-jumping CC over session chains
    "enrich_async_orders_nation",  # async-I/O enrichment (mapInPandas+asyncio)
    "llm_kmeans_lloyd",            # 3-round Lloyd's (IVF training loop)
    "llm_embedding_gram",          # corpus gram matrix (PCA distributed half)
    "llm_boilerplate_grams",       # cross-doc boilerplate inverted index
    "join_range_binned",           # bucketized interval join (scale form)
    # round-4 additions (baselines in BASELINE.md §A.1 r4 block)
    "graph_sssp_hops",             # frontier/delta-iteration BFS
    "llm_chunk_overlap",           # sliding-window chunking, zero shuffle
    "dq_expectations_orders",      # one-pass expectation suite
    # round-5 additions (baselines in BASELINE.md §A.1 r5 block)
    "q8_market_share",             # 8-table TPC-H Q8 join
    "q18_large_volume_customer",   # grouped-HAVING, single-pass since r6
    "agg_cms_heavy_hitters",       # count-min sketch build + probe
    "join_bloom_pruned_fact",      # runtime bloom semi-join reduction
    # round-6 additions (baselines in BASELINE.md §A.1 r6 block)
    "graph_label_propagation",     # 4-round synchronous LPA
    "llm_ann_pq",                  # product-quantization ADC top-10
    "dq_anomaly_mad_window",       # bucketed robust anomaly detection
    "agg_theta_sketch_ops",        # KMV set algebra, single fused pass
    # round-7 additions (baselines in BASELINE.md §A.1 r7 block)
    "cep_match_recognize_quantified",  # counter-NFA quantified pattern
    "llm_dedup_semantic",          # SemDeDup: cells + cosine + CC + survivor
    "win_percent_rank_cume",       # relative-position window pair
    "join_asof_tolerance",         # as-of with staleness bound
    "ts_resample_ohlc",            # candlestick rollup (min_by/max_by)
    "ts_ewma_bitshift",            # fixed-point EWMA scan
    "fn_geo_bundle",               # geohash/tile/bbox integer bundle
    "join_scd2_point_in_time",     # temporal-table PIT join (union+window)
    "dq_freshness_lag",            # source freshness SLA gate
    "sql_group_by_all",            # inferred grouping keys
    "ts_linear_trend",             # exact-integer least squares per key
    "llm_dedup_url_canonical",     # crawl URL canonicalization dedup
    "win_range_numeric_frame",     # value-based two-sided RANGE frame
    "agg_filter_clause",           # SQL:2003 FILTER aggregates, one pass
    "llm_vocab_oov",               # top-K vocab + OOV-rate gate
    "dq_benford_digits",           # Benford first-digit screen
    "pivot_dynamic_discovery",     # discovered-values pivot
    "agg_rollup_grouping_id",      # ROLLUP + GROUPING() indicators
    "ts_seasonal_profile",         # hour-of-day seasonal means
    "agg_rollup_count_distinct",   # exact multi-level distinct
    # round-7 second wave (baselines in BASELINE.md §A.1 r7 block;
    # lake_snapshot_diff / stream_rate_limited_backfill stay out: sinks
    # and staged-file jobs are excluded from HEADLINE by convention)
    "lake_merge_upsert",           # MERGE semantics, broadcast change set
    "ts_interval_merge",           # interval de-overlap (islands on ranges)
    "agg_market_basket_pairs",     # co-occurrence support/lift
    "agg_rfm_segments",            # rank-exact RFM quartiles
    "cep_funnel_conversion",       # ordered-steps funnel rates
    "graph_link_prediction",       # Jaccard + RA over inverted index
    "join_geo_grid_radius",        # grid-blocked spatial radius join
    "llm_surprisal_bits",          # integer-log2 unigram surprisal
    "win_weighted_median",         # cumulative-weight median
    "fn_busday_bundle",            # business-day calendar arithmetic
    "llm_spell_candidates",        # SymSpell deletion-neighborhood join
    "agg_percentile_narrowed",     # two-pass exact percentile
    "dq_drift_chi2",               # chi-square drift monitor
    "join_asof_nearest",           # nearest as-of (union-marker window)
    "llm_dedup_incremental",       # new-batch-vs-corpus dedup admission
    # round-7 third wave (baselines in BASELINE.md §A.1 r7 block;
    # scan_csv_quoted_newlines stays out: staged-file job by convention)
    "agg_gini_concentration",      # rank-form Gini, one shared exchange
    "win_zscore_normalize",        # broadcast-moment standardization
    "dq_referential_integrity",    # 3-edge FK audit via anti joins
    "agg_pareto_topshare",         # top-20% revenue share per nation
    "ts_fill_forward_limit",       # LOCF with staleness bound
    "fn_uuid_deterministic",       # UUIDv3 minting, zero shuffle
    "cep_debounce_events",         # lag-based proximity suppression
    "sql_star_except",             # star-EXCEPT pruned projection
    "graph_degree_distribution",   # bipartite degree histograms
    "agg_decile_lift",             # ntile-10 lift table
    "dq_outlier_iqr",              # Tukey fences, integer-doubled test
    "ts_mom_growth",               # MoM revenue growth per nation
    "llm_dedup_token_sort",        # word-order-invariant dedup
    "llm_ngram_novelty",           # first-occurrence trigram novelty
    "ts_direction_changes",        # sign-reversal runs
    "ts_cusum_alarm",              # windowed CUSUM drift detection
    "dq_column_profile",           # single-scan multi-distinct profiler
    "agg_histogram_log2_bins",     # integer-log2 histogram
    "ts_repurchase_intervals",     # consecutive-order gap histogram
    "llm_rarity_score",            # integer-IDF rarity
    "fn_isoweek_bundle",           # ISO calendar arithmetic
    "subquery_all_rewrite",        # > ALL decorrelation with empty-group edge
    "ts_new_vs_returning",         # monthly growth accounting
    "ts_status_transitions",       # order-status Markov kernel
    "ts_bounce_rate",              # sessionize() composition
    "scan_pushdown_in_list",       # IN-list + range pushdown
    "win_hop_distinct_users",      # sliding exact distinct
    "fn_strsim_bundle",            # levenshtein + bigram jaccard
    "graph_degree_assortativity",  # endpoint-degree correlation
    "ivm_retractable_agg",         # weighted changelog merge
    "fn_ipv4_bundle",              # IPv4 integer toolkit
    "agg_event_type_bitmask",      # per-day behavior bitmasks
    "ts_conversion_latency",       # view→purchase delay quartiles
    "llm_corpus_mix_report",       # corpus composition + cumulative share
    "sql_join_hints",              # forced MERGE + BROADCAST strategies
    # round-7 fourth wave (baselines in BASELINE.md §A.1 r7 block)
    "agg_rate_wilson_ci",          # exact-integer Wilson interval
    "ts_local_peaks",              # strict local maxima census
    "cep_strict_contiguity",       # next()-semantics single window
    "sql_parameter_binding",       # named-parameter SQL, pushed literal
    "dq_volume_by_month",          # median-relative volume alarm
    "llm_token_offsets",           # span alignment table
    "ts_time_in_state",            # dwell-time accounting
    "dq_pk_uniqueness",            # key-multiplicity audit
    "agg_skyline_2d",              # Pareto frontier, RANGE-frame form
    "ts_series_correlation",       # zero-filled hourly series Pearson
    "cep_match_recognize_alternation",  # (C|E) via class relabel
    "graph_modularity",            # Newman Q over LPA communities
    "llm_dedup_eval_pr",           # LSH vs exact-Jaccard P/R
    "fn_binary_codec_bundle",      # hex/bytes/base64 round trip
    "ts_burstiness",               # Goh-Barabasi inter-event index
    "agg_simpson_diversity",       # categorical concentration
    "ts_median3_smooth",           # Tukey despiking filter
    "ts_seasonal_anomaly",         # deseasonalized MAD fence
    "sql_distinct_on_rewrite",     # keep-one-per-key via max_by
    "dq_reconcile_orders_lineitem",  # header-detail monthly reconcile
    "llm_classifier_auc",          # exact rank-sum AUC
    "llm_rouge_n_pairs",           # clipped ROUGE-2 overlap
    "ts_path_trigrams",            # second-order behavior paths
    "ts_session_depth_hist",       # engagement-shape histogram
    "llm_dataset_card",            # one-row corpus summary
    # round-7 fifth wave (baselines in BASELINE.md §A.1 r7 block)
    "win_winsorize_p5p95",         # robust clamp transform
    "win_running_sum_reset",       # accumulate-since-reset windows
    "agg_hhi_index",               # Herfindahl market concentration
    "ts_forecast_snaive_mae",      # seasonal-naive forecast eval
    "join_campaign_overlap",       # sessions x literal calendar overlap
    "ts_rolling_mau",              # DAU + trailing-28d MAU
    "fn_duration_format",          # ISO-8601 duration rendering
    "llm_bpe_pair_counts",         # tokenizer-training pair counts
    "graph_community_sizes",       # LPA size histogram
    "agg_target_encode_loo",       # leakage-safe target encoding
    "agg_ab_test_ztest",           # two-proportion z-test
    "ts_twap",                     # time-weighted average
    "fn_luhn_checksum",            # mod-10 ingest validation
    # round-7 sixth wave — the batch-28/29 ids (baselines in BASELINE.md
    # §A.1 r8 block; the two streaming batch-28/29 ids ride the batch loop
    # because their availableNow drains cost like any other query)
    "dq_slo_attainment",           # latency SLO attainment bands
    "llm_langid_confusion",        # language-ID confusion matrix
    "ts_attribution_first_last",   # first/last-touch credit assignment
    "agg_skyline_grid",            # grid-partitioned skyline (scale valve)
    "dq_content_checksum",         # order-independent table checksums
    "stream_cusum_alarm",          # streaming CUSUM drift (availableNow drain)
    "stream_topk_foreachbatch",    # streaming top-K ledger (foreachBatch)
    # round-8 additions (baselines in BASELINE.md §A.1 r8 block)
    "llm_rouge_l_pairs",           # bit-parallel LCS ROUGE-L on LSH pairs
    "graph_modularity_by_community",  # per-community Q_c drill-down
    "join_geo_grid_knn",           # expanding-ring exact spatial k-NN
    "sql_qualify_rewrite",         # QUALIFY → subquery+filter rewrite
    "llm_sample_reservoir_k",      # deterministic per-source k-sample
    "llm_ngram_lm_kn",             # Kneser-Ney bigram LM doc scoring
    "win_hop_distinct_hll",        # per-slide HLL sketches, union per hop
    "agg_decile_lift_binned",      # exact ntile via bin offsets (no global sort)
    # round-9 wave (baselines in BASELINE.md §A.1 r9 block)
    "llm_rouge_l_long",            # clip-126 multi-word bit-parallel LCS
    "llm_dedup_substring",         # Lee-et-al repeated-span remover
    "llm_kn_top_followers",        # per-context KN follower drill-down
    "llm_tokenizer_fertility",     # tokens/word + bytes/token per language
    "llm_bleu_pairs",              # clipped BLEU-2 on adjacent pairs
    "llm_kn_heldout_surprisal",    # held-out KN scoring (train-split LM)
    "llm_ann_recall_eval",         # recall@10 of LSH vs exact truth
    "ts_cross_correlation_lag",    # lagged cross-correlation + argmax lag
    "agg_bootstrap_ci",            # Poisson-bootstrap CI, integer-exact
    "llm_importance_dsir",         # DSIR importance weights (Q8 log-ratio)
    "llm_perplexity_buckets",      # CCNet per-lang terciles (binned ntile)
    # round-10 wave (baselines in BASELINE.md §A.1 r10 re-anchor block)
    "llm_classifier_auc_binned",   # exact AUC via binned-offset ranks
    "llm_bpe_train_merges",        # full N-merge BPE trainer loop
    "llm_bpe_segment",             # apply trained merges: fertility report
    "mm_decode_bmp_stats",         # real BMP encode->decode->stats pipeline
    "llm_pack_nostraddle",         # no-straddle packing + waste report
    "llm_classifier_auc_by_lang",  # per-slice AUC, grouped binned valve
    "llm_knn_ivf_multiprobe",      # FAISS nprobe=2 recall knob
    # round-11 wave (baselines in BASELINE.md §A.1 r11 wave block)
    "agg_rfm_segments_binned",     # RFM quartiles via shared binned_rank
    "ts_conversion_latency_binned",  # latency quartiles, binned valve
    "llm_embedding_pca_project",   # integer eigen + map-side projection
    "llm_bpe_apply_merges",        # merges.txt replay on held-out folds
    "llm_ann_recall_multiprobe",   # nprobe=1 vs 2 recall tuning table
    "llm_pca_recall_eval",         # 64d->2d recall delta per query
    "llm_pca_knn_grid",            # exact k-NN in the projected plane
    # round-12 wave (baselines in BASELINE.md §A.1 r12 wave block)
    "win_weighted_median_binned",  # histogram-narrowed weighted median
    "ts_rolling_mau_hll",          # per-day HLL union MAU valve
    "ts_seasonal_anomaly_bucketed",  # binned_rank-located global MAD
    "llm_ann_ivfpq",               # FAISS IVFPQ funnel: route+ADC+rerank
    "llm_ann_recall_ivfpq",        # IVFPQ row of the recall tuning table
    "llm_dedup_eval_pr_sampled",   # P/R eval on hash-stable doc sample
    "llm_dataset_card_hll",        # dataset card with HLL distinct faces
)

#: BASELINE.md §A.1 rows (sf0.1 full-sequence medians, seconds) — kept in
#: sync with that table so the artifact can carry ratio_vs_baseline.
BASELINE_SEC = {
    # FULL r10 RE-ANCHOR (2026-08-16, bench.py <ids>, settled
    # box): every row re-recorded in ONE methodology-identical run
    # because the host's serial-latency budget drifted ~2.3x since
    # most rows were recorded (SCALE.md cross-version experiment) and
    # unchanged-code queries re-measured 1.3-2.3x their stale rows.
    # Per-wave history and the honest-re-record notes live in
    # BASELINE.md SA.1; this table is the CURRENT-hardware anchor.
    "agg_pricing_summary": 0.68,
    "agg_global_revenue": 0.28,
    "agg_count_distinct_users": 0.27,
    "agg_rollup_nation_region": 0.4,
    "topk_revenue_orders": 0.59,
    "join_5way_regional_revenue": 0.51,
    "join_asof_last_purchase": 0.61,
    "win_rank_orders_per_cust": 0.66,
    "win_tumble_1h_batch": 0.31,
    "win_session_30m_batch": 1.28,
    "llm_doc_token_stats": 0.33,
    "llm_tfidf_top_terms": 1.12,
    "llm_knn_cosine_label": 0.8,
    "llm_knn_ivf": 2.71,
    "llm_dedup_minhash_sig": 1.46,
    "llm_dedup_minhash_pairs": 1.52,
    "llm_dedup_simhash": 0.46,
    "mm_decode_meta": 0.28,
    "cep_pattern_abc": 1.07,
    "llm_quality_repetition": 0.45,
    "llm_pack_sequences": 0.25,
    "llm_dedup_keep": 4.14,
    "graph_pagerank_suppliers": 4.46,
    "subquery_scalar_part_avg": 0.5,
    "graph_triangle_count": 3.86,
    "llm_pii_redact": 0.19,
    "llm_sample_temperature": 0.4,
    "llm_corpus_final": 3.65,
    "cep_pattern_funnel4": 0.91,
    "graph_connected_components": 2.01,
    "enrich_async_orders_nation": 1.47,
    "llm_kmeans_lloyd": 1.79,
    "llm_embedding_gram": 0.6,
    "llm_boilerplate_grams": 1.44,
    "join_range_binned": 0.61,
    "graph_sssp_hops": 3.75,
    "llm_chunk_overlap": 0.21,
    "dq_expectations_orders": 0.55,
    "q8_market_share": 0.36,
    "q18_large_volume_customer": 0.72,
    "agg_cms_heavy_hitters": 0.77,
    "join_bloom_pruned_fact": 0.55,
    "graph_label_propagation": 4.27,
    "llm_ann_pq": 0.94,
    "dq_anomaly_mad_window": 1.31,
    "agg_theta_sketch_ops": 0.84,
    "cep_match_recognize_quantified": 0.95,
    "llm_dedup_semantic": 4.93,
    "win_percent_rank_cume": 0.91,
    "join_asof_tolerance": 0.39,
    "ts_resample_ohlc": 0.33,
    "ts_ewma_bitshift": 0.92,
    "fn_geo_bundle": 1.03,
    "join_scd2_point_in_time": 0.59,
    "dq_freshness_lag": 0.67,
    "sql_group_by_all": 0.37,
    "ts_linear_trend": 0.87,
    "llm_dedup_url_canonical": 0.79,
    "win_range_numeric_frame": 0.79,
    "agg_filter_clause": 0.53,
    "llm_vocab_oov": 1.04,
    "dq_benford_digits": 0.67,
    "pivot_dynamic_discovery": 0.52,
    "agg_rollup_grouping_id": 0.23,
    "ts_seasonal_profile": 0.78,
    "agg_rollup_count_distinct": 0.37,
    "lake_merge_upsert": 0.96,
    "ts_interval_merge": 1.14,
    "agg_market_basket_pairs": 1.88,
    "agg_rfm_segments": 0.53,
    "cep_funnel_conversion": 1.07,
    "graph_link_prediction": 4.24,
    "join_geo_grid_radius": 2.95,
    "llm_surprisal_bits": 0.74,
    "win_weighted_median": 1.16,
    "fn_busday_bundle": 2.22,
    "llm_spell_candidates": 0.9,
    "agg_percentile_narrowed": 2.39,
    "dq_drift_chi2": 0.75,
    "join_asof_nearest": 0.86,
    "llm_dedup_incremental": 1.91,
    "agg_gini_concentration": 0.74,
    "win_zscore_normalize": 0.92,
    "dq_referential_integrity": 0.81,
    "agg_pareto_topshare": 0.48,
    "ts_fill_forward_limit": 0.81,
    "fn_uuid_deterministic": 0.09,
    "cep_debounce_events": 0.8,
    "sql_star_except": 0.2,
    "graph_degree_distribution": 1.34,
    "agg_decile_lift": 0.38,
    "dq_outlier_iqr": 1.61,
    "ts_mom_growth": 0.41,
    "llm_dedup_token_sort": 0.25,
    "llm_ngram_novelty": 1.09,
    "ts_direction_changes": 0.4,
    "ts_cusum_alarm": 0.42,
    "dq_column_profile": 0.87,
    "agg_histogram_log2_bins": 1.02,
    "ts_repurchase_intervals": 0.46,
    "llm_rarity_score": 0.84,
    "fn_isoweek_bundle": 0.11,
    "subquery_all_rewrite": 0.18,
    "ts_new_vs_returning": 0.48,
    "ts_status_transitions": 0.54,
    "ts_bounce_rate": 0.49,
    "scan_pushdown_in_list": 0.19,
    "win_hop_distinct_users": 0.7,
    "fn_strsim_bundle": 0.38,
    "graph_degree_assortativity": 2.36,
    "ivm_retractable_agg": 0.42,
    "fn_ipv4_bundle": 0.27,
    "agg_event_type_bitmask": 0.36,
    "ts_conversion_latency": 0.61,
    "llm_corpus_mix_report": 0.33,
    "sql_join_hints": 0.48,
    "agg_rate_wilson_ci": 0.36,
    "ts_local_peaks": 0.45,
    "cep_strict_contiguity": 0.45,
    "sql_parameter_binding": 0.23,
    "dq_volume_by_month": 0.4,
    "llm_token_offsets": 0.32,
    "ts_time_in_state": 0.36,
    "dq_pk_uniqueness": 0.95,
    "agg_skyline_2d": 0.18,
    "ts_series_correlation": 0.61,
    "cep_match_recognize_alternation": 1.04,
    "graph_modularity": 8.61,
    "llm_dedup_eval_pr": 2.87,
    "fn_binary_codec_bundle": 0.11,
    "ts_burstiness": 0.55,
    "agg_simpson_diversity": 0.28,
    "ts_median3_smooth": 0.69,
    "ts_seasonal_anomaly": 0.98,
    "sql_distinct_on_rewrite": 0.45,
    "dq_reconcile_orders_lineitem": 1.55,
    "llm_classifier_auc": 0.95,
    "llm_rouge_n_pairs": 1.76,
    "ts_path_trigrams": 0.52,
    "ts_session_depth_hist": 0.52,
    "llm_dataset_card": 0.87,
    "win_winsorize_p5p95": 1.75,
    "win_running_sum_reset": 0.86,
    "agg_hhi_index": 1.28,
    "ts_forecast_snaive_mae": 0.48,
    "join_campaign_overlap": 0.63,
    "ts_rolling_mau": 1.54,
    "fn_duration_format": 0.27,
    "llm_bpe_pair_counts": 0.87,
    "graph_community_sizes": 6.49,
    "agg_target_encode_loo": 1.4,
    "agg_ab_test_ztest": 0.7,
    "ts_twap": 0.85,
    "fn_luhn_checksum": 0.22,
    "dq_slo_attainment": 0.55,
    "llm_langid_confusion": 0.76,
    "ts_attribution_first_last": 0.96,
    "agg_skyline_grid": 0.71,
    "dq_content_checksum": 0.58,
    "stream_cusum_alarm": 2.34,
    "stream_topk_foreachbatch": 0.93,
    "llm_rouge_l_pairs": 4.69,
    "graph_modularity_by_community": 10.55,
    "join_geo_grid_knn": 5.33,
    "sql_qualify_rewrite": 0.6,
    "llm_sample_reservoir_k": 0.21,
    "llm_ngram_lm_kn": 2.45,
    "win_hop_distinct_hll": 0.99,
    "agg_decile_lift_binned": 1.11,
    "llm_rouge_l_long": 4.31,
    "llm_dedup_substring": 1.54,
    "llm_kn_top_followers": 2.11,
    "llm_tokenizer_fertility": 0.43,
    "llm_bleu_pairs": 2.1,
    "llm_kn_heldout_surprisal": 2.5,
    "llm_ann_recall_eval": 1.69,
    "ts_cross_correlation_lag": 1.41,
    "agg_bootstrap_ci": 6.82,
    "llm_importance_dsir": 1.85,
    "llm_perplexity_buckets": 1.59,
    "llm_classifier_auc_binned": 1.52,
    "llm_bpe_train_merges": 4.04,  # re-anchored r12: widened pre-tokenizer
    "llm_bpe_segment": 3.94,  # re-anchored r12: widened pre-tokenizer
    "mm_decode_bmp_stats": 0.34,
    "llm_pack_nostraddle": 0.34,
    # added after the re-anchor run (same day, settled median of THREE
    # bench.py <ids> sessions — single-session medians swung 2.6-3.8 s /
    # 4.3-5.7 s with no code change, the documented microVM jitter)
    "llm_classifier_auc_by_lang": 3.14,
    "llm_knn_ivf_multiprobe": 5.35,
    # r11 wave (2026-08-16, bench.py <ids> settled runs; the two
    # jittery rows are medians of 3 settled sessions — BASELINE.md §A.1)
    "agg_rfm_segments_binned": 5.18,
    "ts_conversion_latency_binned": 2.24,
    "llm_embedding_pca_project": 1.69,
    "llm_bpe_apply_merges": 4.79,  # re-anchored r12: widened pre-tokenizer
    "llm_ann_recall_multiprobe": 5.25,
    "llm_pca_recall_eval": 4.16,
    "llm_pca_knn_grid": 7.17,
    # r12 wave (BASELINE.md §A.1 r12 wave block, settled bench.py <ids>)
    "win_weighted_median_binned": 4.31,
    "ts_rolling_mau_hll": 3.29,
    "ts_seasonal_anomaly_bucketed": 4.52,
    "llm_ann_ivfpq": 4.31,
    "llm_ann_recall_ivfpq": 4.38,
    "llm_dedup_eval_pr_sampled": 4.38,  # median of 3 sessions: 5.01/4.38/3.78
    "llm_dataset_card_hll": 1.21,
}


def main(ids: list[str]) -> int:
    from perfbench import procfs
    from perfbench.sparktrace import DrainListener
    from streamline_hybrid_engine_spark.registry import all_queries
    from streamline_hybrid_engine_spark.session import (
        codegen_compiles,
        cpus,
        default_sf_dir,
        get_session,
    )

    sf_dir = default_sf_dir()
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_session("bench")
    qs = all_queries()
    names = ids or [n for n in HEADLINE if n in qs]
    tick = os.sysconf("SC_CLK_TCK")

    def drop_run_state() -> None:
        """Release checkpoint/broadcast blocks of finished runs.

        Queries that localCheckpoint shared subtrees (minhash pairs, IVF)
        leave RDD blocks in the block manager until their Python references
        are GC'd; across a 19-query sweep that accumulated enough executor
        memory pressure to distort later timings (r01: simhash 4.1x flagged,
        judge re-measure 1.36x). Forcing Python GC lets Spark's
        ContextCleaner free the blocks between queries.
        """
        import gc

        gc.collect()
        dropped = 0
        try:
            # drop EVERYTHING persisted, so no timed run reuses blocks a
            # warm-up or an earlier query left behind
            for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                rdd.unpersist(True)
                dropped += 1
        except Exception:
            pass
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        # settle: block/broadcast removal is ASYNC (ContextCleaner drains a
        # reference queue in a background thread) — without this pause the
        # cleanup RPCs run INSIDE the next timed query and small queries
        # following checkpoint-heavy ones (minhash family) measured 2-3×
        # slow (r4 repro: simhash 0.46 s with a 1 s settle, 1.17 s without;
        # the r1-r3 heavy-tail "sequence inflation" was exactly this).
        # r7: ADAPTIVE — the full second is only owed when checkpoint
        # blocks were actually unpersisted; after a stateless query the
        # cleanup queue holds only broadcasts and 0.25 s drains it (the
        # 62-query headline list made 4 × 1 s × query unaffordable).
        time.sleep(1.0 if dropped else 0.25)

    def heap_used_mb() -> float | None:
        """Post-GC JVM heap in MB (drop_run_state just ran System.gc)."""
        try:
            rt = spark._jvm.Runtime.getRuntime()
            return round((rt.totalMemory() - rt.freeMemory()) / 1e6, 1)
        except Exception:
            return None

    def cpu_steal() -> tuple[float, float]:
        """(busy CPU-s of this process tree, host steal-s) so far.

        The tree is the driver, its JVM and the JVM's Python workers.
        Disambiguates a slow reading: wall stretched with busy flat and
        steal up = hypervisor contention; busy up proportionally = the
        query itself did more work.
        """
        return procfs.cpu(os.getpid())[0], procfs.host_times()[0] / tick

    # start gate: the recurring heavy-tail inflation (r3 triangle 2.11×
    # official vs 1.14× idle; an r5 probe put dedup_keep at 3.42× when the
    # bench launched while a prior test JVM was still draining, 1.25×
    # clean) happens when the sequence STARTS on a descending load spike —
    # the first heavy queries then absorb the contention. Wait, bounded,
    # for load1 < 1.5 and record what happened either way.
    settle_waited = 0.0
    while os.getloadavg()[0] >= 1.5 and settle_waited < 90.0:
        time.sleep(5.0)
        settle_waited += 5.0

    # steal gate (r12, r11-verdict task 8): the load1 settle can't see
    # hypervisor contention — the r10 AND r11 official artifacts were both
    # recorded inside multi-minute steal bursts (up to 79% of busy) that
    # the per-row adjudication then had to discount. Probe steal UNDER
    # SYNTHETIC LOAD (an idle box accrues steal against near-zero busy, so
    # share-of-busy reads >90% on a harmlessly idle host — measured r12):
    # spin a few worker processes for the probe window, then gate on the
    # same 5%-of-busy criterion the per-query flags use; wait bounded,
    # record the outcome either way (the per-row flags remain the
    # backstop if a burst starts mid-sequence).
    def steal_probe(seconds: float = 3.0, workers: int = 8) -> float | None:
        import multiprocessing as mp

        def _spin(stop_t: float) -> None:
            while time.time() < stop_t:
                pass

        busy0, steal0 = cpu_steal()
        procs = [
            mp.Process(target=_spin, args=(time.time() + seconds,), daemon=True)
            for _ in range(workers)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        # the joined spinners count in the tree's reaped-children CPU
        busy1, steal1 = cpu_steal()
        if busy1 - busy0 <= 0:
            return None
        return round((steal1 - steal0) / (busy1 - busy0), 3)

    steal_waited = 0.0
    steal_share = None
    while True:
        steal_share = steal_probe()
        if steal_share is None or steal_share <= 0.05 or steal_waited >= 600.0:
            break
        time.sleep(27.0)
        steal_waited += 30.0

    times: dict[str, float] = {}
    telemetry: dict[str, dict] = {
        "_bench_start": {
            "cpus": cpus(),
            "load1": round(os.getloadavg()[0], 2),
            "settle_waited_s": settle_waited,
            "steal_probe_share": steal_share,
            "steal_waited_s": steal_waited,
        }
    }
    total = 0.0
    for name in names:
        fn = qs[name].fn
        load1 = round(os.getloadavg()[0], 2)
        fn(spark, sf_dir).collect()  # warm-up: codegen + parquet footers
        drop_run_state()
        runs = []
        busy0, steal0 = cpu_steal()
        k0 = codegen_compiles(spark)
        wall0 = time.time()
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            runs.append(time.time() - t0)
            # per-run, not per-query: iterative queries (PageRank, CC) pin
            # a set of checkpoint blocks per run, and 4 accumulated sets
            # were enough to double the later runs' time
            drop_run_state()
        busy1, steal1 = cpu_steal()
        dt = round(sorted(runs)[1], 3)
        times[name] = dt
        total += dt
        t = {
            "median_s": dt,
            "load1_before": load1,
            "heap_after_gc_mb": heap_used_mb(),
            # Janino compiles over the 3 timed runs: 0 when every class the
            # row generates is a codegen-cache hit after its warm-up
            "codegen_compiles": codegen_compiles(spark) - k0,
            # over the 3 timed runs + settles: busy cpu-s and steal-s
            "busy_cpu_s": round(busy1 - busy0, 1),
            "steal_s": round(steal1 - steal0, 2),
            "wall_s": round(time.time() - wall0, 1),
        }
        base = BASELINE_SEC.get(name)
        if base:
            t["baseline_sec"] = base
            t["ratio_vs_baseline"] = round(dt / base, 2)
        # machine-readable host-weather adjudication (r10-verdict task 7):
        # two rounds in a row a human re-derived exactly this flag from
        # steal_s to discard contended readings (the builder's discarded
        # r10 run; the driver's official BENCH_r10 artifact at 19.7%
        # steal). The criterion is STEAL-ONLY: >5% of the query's busy
        # cpu stolen by the hypervisor during its runs. load1_before is
        # recorded for human corroboration but is NOT a criterion — the
        # bench's own 32-way stages keep mid-sequence load1 at ~4-10 on
        # a healthy run (r11 calibration: median load1_before 4.17 on a
        # run whose flagged-vs-clean split was fully explained by steal).
        t["contaminated"] = (
            t["busy_cpu_s"] > 0 and t["steal_s"] > 0.05 * t["busy_cpu_s"]
        )
        telemetry[name] = t

    # streaming throughput: drain the events fixture through the tumbling
    # window job (file source → watermark agg → memory sink); rows/s over
    # the end-to-end micro-batch pipeline. One timed run (checkpoint setup
    # is part of the cost being measured).
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    fn = qs["stream_tumble_1h"].fn
    # drain phase anatomy (r9-verdict task 9): each micro-batch's
    # durationMs parts, as Structured Streaming reports them to a query
    # listener. This is what adjudicated the r7→r9 events/s drift (engine
    # vs host-serial-latency).
    listener = DrainListener()
    spark.streams.addListener(listener)
    stream_load1 = round(os.getloadavg()[0], 2)
    fn(spark, sf_dir).collect()  # warm-up
    listener.take()  # drop the warm-up drain's progress
    # same methodology as the batch loop (median of 3 with inter-run GC):
    # a single drain's wall time swings ±40% with checkpoint-dir and
    # block-manager state, which made r2/r3 single-shot numbers
    # incomparable across runs
    drop_run_state()
    runs = []
    phase_runs = []
    for _ in range(3):
        t0 = time.time()
        fn(spark, sf_dir).collect()
        runs.append(time.time() - t0)
        batches = [p for recs in listener.take().values() for p in recs]
        phases: dict[str, int] = {}
        for p in batches:
            for k, v in p.get("durationMs", {}).items():
                phases[k] = phases.get(k, 0) + int(v)
        phases["n_batches"] = len(batches)
        phase_runs.append(phases)
        drop_run_state()
    stream_dt = sorted(runs)[1]
    times["stream_tumble_1h"] = round(stream_dt, 3)
    times["stream_events_per_sec"] = round(n_events / stream_dt, 1)
    telemetry["stream_tumble_1h"] = {
        "load1_before": stream_load1,
        "heap_after_gc_mb": heap_used_mb(),
        # the phase row of the MEDIAN-wall run (same run the headline
        # events/s number comes from)
        "phase_ms": phase_runs[runs.index(stream_dt)],
    }
    total += stream_dt

    # The driver records only the LAST ~2000 chars of stdout and parses the
    # final line as the bench JSON. r5's single line with telemetry inlined
    # was 3.4k chars → truncated → BENCH_r05.json parsed:null, losing the
    # official total + medians. The headline list has since grown past 110
    # queries, so even a bare name→median map (~3.4k) no longer fits.
    # Protocol therefore: the FULL summary and telemetry go to earlier
    # stdout lines and, for the full HEADLINE run only (no ids given), to
    # repo sidecar files (BENCH_SUMMARY.json / BENCH_TELEMETRY_c{cpus}.json,
    # one telemetry file per core count so a scaling run keeps the official
    # run's steal flags — the judge reads files, not stdout); a subset run
    # leaves the committed sidecars alone. The FINAL stdout line stays under
    # ~1.6k by carrying the aggregate numbers plus the top-40-by-wall-time
    # queries (the informative tail; sub-0.5 s scalar rows live in the
    # sidecar).
    def write_sidecar(name: str, line: str) -> None:
        if ids:
            return
        try:
            with open(os.path.join(_REPO, name), "w") as f:
                f.write(line + "\n")
        except OSError:
            pass

    telemetry_line = json.dumps({"telemetry": telemetry}, separators=(",", ":"))
    write_sidecar(f"BENCH_TELEMETRY_c{cpus()}.json", telemetry_line)
    print(telemetry_line)
    full_summary = {
        "metric": "headline_query_wall_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    full_line = json.dumps(full_summary, separators=(",", ":"))
    write_sidecar("BENCH_SUMMARY.json", full_line)
    print(full_line)
    ratios = [
        t["ratio_vs_baseline"]
        for t in telemetry.values()
        if isinstance(t, dict) and "ratio_vs_baseline" in t
    ]
    clean_ratios = [
        t["ratio_vs_baseline"]
        for t in telemetry.values()
        if isinstance(t, dict)
        and "ratio_vs_baseline" in t
        and not t.get("contaminated")
    ]
    n_contaminated = sum(
        1
        for t in telemetry.values()
        if isinstance(t, dict) and t.get("contaminated")
    )
    top = dict(
        sorted(
            ((k, v) for k, v in times.items() if k != "stream_events_per_sec"),
            key=lambda kv: kv[1],
            reverse=True,
        )[:40]
    )
    top["stream_events_per_sec"] = times["stream_events_per_sec"]
    summary = {
        "metric": "headline_query_wall_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": top,
        "sf": sf,
        "n_queries": len(names),
        "n_baselined": len(ratios),
        "agg_ratio_vs_baseline": round(sum(ratios) / len(ratios), 3)
        if ratios
        else None,
        "n_over_2x": sum(1 for r in ratios if r > 2.0),
        # the self-adjudicated numbers (per-row `contaminated` flags live
        # in BENCH_TELEMETRY_c{cpus}.json): the aggregate over rows the host did
        # NOT interfere with, so consumers read one field instead of
        # re-deriving the steal adjudication
        "n_contaminated": n_contaminated,
        "agg_ratio_clean": round(sum(clean_ratios) / len(clean_ratios), 3)
        if clean_ratios
        else None,
        "n_over_2x_clean": sum(1 for r in clean_ratios if r > 2.0),
        "queries_full": "BENCH_SUMMARY.json",
    }
    print(json.dumps(summary, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
