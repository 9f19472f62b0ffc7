"""streamline_hybrid_engine_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of
``streamline-eu/streamline-hybrid-engine`` (a Flink-1.x-era hybrid
batch+stream fork; see SURVEY.md §0 — the reference mount was empty, so the
contract is SURVEY.md §2), re-expressed Spark-first:

- One abstraction: the DataFrame is simultaneously the batch API
  (Flink ``DataSet``), the stream API (``DataStream``), and the SQL
  ``Table`` — no bridges (SURVEY §3.4).
- No custom parser/planner/executor: Catalyst + Tungsten + AQE provide
  filter pushdown, column pruning, join-strategy selection, codegen,
  spillable sort/hash — everything Flink's optimizer/runtime hand-rolls
  (SURVEY §4.1).
- Custom logic (as-of join, sessionization, MinHash/SimHash dedup,
  cosine kNN, …) is composed from built-in DataFrame ops; Python UDFs
  only where genuinely required, always Arrow-batched.

Layout:
- ``session``   — SparkSession factory with pinned, scale-aware configs
- ``catalog``   — fixture lake loader (handles nanos-timestamp parquet)
- ``registry``  — the SURVEY §2 query contract: (spark_fn, oracle_sql) pairs
- ``operators/``— relational operators (row ops, joins, aggs, windows, …)
- ``functions/``— scalar/UDF/UDTF surface
- ``llm/``      — LLM-data-pipeline operators (dedup, similarity, text, multimodal)
- ``streaming/``— Structured Streaming jobs (tumble/session/watermark/state)
- ``sources/``  — source/sink round-trips
"""

__version__ = "0.1.0"

from streamline_hybrid_engine_spark.registry import all_queries, get_query  # noqa: F401

#: Library-facing primitives (lazy — resolving a name imports only its
#: module, so `import streamline_hybrid_engine_spark` stays light and the
#: driver's pre-session import path pulls in no pandas-UDF modules).
#: These are the reusable, any-DataFrame building blocks behind the
#: registry's fixture-bound contract queries; see README "Library API".
_LAZY_EXPORTS = {
    # joins / skew
    "salted_join": "streamline_hybrid_engine_spark.operators.skew",
    # enrichment
    "async_enrich": "streamline_hybrid_engine_spark.operators.enrichment",
    # graph
    "connected_components": "streamline_hybrid_engine_spark.operators.graph",
    # sessions / time
    "sessionize": "streamline_hybrid_engine_spark.operators.time_windows",
    # CDC
    "cdc_apply": "streamline_hybrid_engine_spark.operators.rowops",
    # CEP
    "compile_pattern": "streamline_hybrid_engine_spark.operators.cep",
    "compile_quantified": "streamline_hybrid_engine_spark.operators.cep",
    "match_pattern": "streamline_hybrid_engine_spark.operators.cep",
    "match_recognize": "streamline_hybrid_engine_spark.operators.cep",
    "parse_match_recognize": "streamline_hybrid_engine_spark.operators.cep",
    # dedup
    "minhash_dedup": "streamline_hybrid_engine_spark.llm.dedup",
    "per_row_band_signatures": "streamline_hybrid_engine_spark.llm.dedup",
    # incremental view maintenance
    "ivm_merge": "streamline_hybrid_engine_spark.operators.ivm",
    # pagination
    "keyset_page": "streamline_hybrid_engine_spark.operators.sort_limit",
    # intervals / medians (r7)
    "interval_merge": "streamline_hybrid_engine_spark.operators.time_windows",
    "weighted_median": "streamline_hybrid_engine_spark.operators.windows",
    # lake MERGE semantics (r7)
    "merge_apply": "streamline_hybrid_engine_spark.sources.io",
    # spatial blocking (r7)
    "grid_radius_join": "streamline_hybrid_engine_spark.operators.joins",
    # business-day calendar (r7)
    "busday_roll": "streamline_hybrid_engine_spark.functions.bundles",
    "busday_offset": "streamline_hybrid_engine_spark.functions.bundles",
    # drift / fills / sequences (r7 third wave)
    "cusum": "streamline_hybrid_engine_spark.operators.time_windows",
    "fill_forward_limited": "streamline_hybrid_engine_spark.operators.time_windows",
    "transition_matrix": "streamline_hybrid_engine_spark.operators.time_windows",
    "debounce": "streamline_hybrid_engine_spark.operators.cep",
    # budget allocation / eval / checksums / spatial / skyline (r8 pass 4)
    "waterfill": "streamline_hybrid_engine_spark.llm.text",
    "binary_auc": "streamline_hybrid_engine_spark.llm.text",
    "binary_auc_binned": "streamline_hybrid_engine_spark.llm.text",
    "confusion_matrix": "streamline_hybrid_engine_spark.llm.text",
    "first_last_touch": "streamline_hybrid_engine_spark.operators.time_windows",
    "content_checksum": "streamline_hybrid_engine_spark.operators.metrics",
    "skyline_grid": "streamline_hybrid_engine_spark.operators.aggregates",
    "grid_knn_join": "streamline_hybrid_engine_spark.operators.joins",
    # multi-word bit-parallel LCS expression generator (r9 pass 5)
    "lcs_fold_expr": "streamline_hybrid_engine_spark.llm.text",
    # per-doc mask-map spelling (candidate-degree-amortized LCS, r9)
    "lcs_bmap_expr": "streamline_hybrid_engine_spark.llm.text",
    "lcs_fold_map_expr": "streamline_hybrid_engine_spark.llm.text",
    # lagged cross-correlation with the checkpoint-grid 100 TB valve (r9)
    "hourly_xcorr": "streamline_hybrid_engine_spark.operators.time_windows",
    # data selection: DSIR importance model + exact-NTILE-from-rank (r9)
    "dsir_score_table": "streamline_hybrid_engine_spark.llm.selection",
    "bucketize_tokens": "streamline_hybrid_engine_spark.llm.selection",
    "ntile_from_rank": "streamline_hybrid_engine_spark.operators.ranks",
    # the shared binned-offset global-rank decomposition (r11 pass 6)
    "binned_rank": "streamline_hybrid_engine_spark.operators.ranks",
    # tokenizer train + deploy faces (r10/r11)
    "bpe_train_merges": "streamline_hybrid_engine_spark.llm.text",
    "bpe_apply_merges": "streamline_hybrid_engine_spark.llm.text",
    # driver-side integer eigen over the distributed gram (r11)
    "pca_power_component": "streamline_hybrid_engine_spark.llm.similarity",
}

__all__ = ["all_queries", "get_query", *sorted(_LAZY_EXPORTS)]


def __getattr__(name: str):
    """PEP 562 lazy re-export of the library primitives."""
    mod = _LAZY_EXPORTS.get(name)
    if mod is None:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        )
    import importlib

    return getattr(importlib.import_module(mod), name)
