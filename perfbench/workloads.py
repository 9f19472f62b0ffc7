"""The benchmark's workloads: which registry rows run, on which lake.

Every workload is one closed loop: a single caller runs each row as
``fn(spark, lake)`` and then ``.collect()``, waits for it, and starts the
next. The sequence is a *pass*; three warm-up passes precede the timed ones.
"""

from __future__ import annotations

import dataclasses

from lake import LakeSpec


@dataclasses.dataclass(frozen=True)
class Workload:
    """Why each workload is built as it is: ``design.json``."""

    name: str
    rows: tuple[str, ...]
    lake: LakeSpec


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch-mix",
            (
                "agg_pricing_summary",
                "topk_revenue_orders",
                "join_5way_regional_revenue",
                "q18_large_volume_customer",
                "q21_waiting_supplier",
                "subquery_scalar_part_avg",
                "win_rank_orders_per_cust",
                "graph_connected_components",
                "llm_dedup_minhash_pairs",
                "llm_ann_pq",
                "llm_pii_redact",
                "mm_decode_meta",
            ),
            LakeSpec(sf=0.003, replicas=5, row_groups=8, n_events=10_000),
        ),
        Workload(
            "stream-drain",
            (
                "stream_tumble_1h",
                "stream_static_enrich",
                "stream_user_session_state",
            ),
            LakeSpec(n_events=5000),
        ),
    )
}


#: Modules whose public functions the rows call, one layer each.
ROW_LAYERS = (
    "operators.aggregates",
    "operators.sort_limit",
    "operators.joins",
    "operators.tpch_suite",
    "operators.tpch_shapes",
    "operators.subqueries",
    "operators.windows",
    "operators.graph",
    "llm.dedup",
    "llm.similarity",
    "llm.text",
    "llm.multimodal",
    "streaming.jobs",
)

#: Per-row metrics, summed per pass over a layer's rows.
ROW_METRICS = (
    ("build_s", "s"),  # the fn call, eager jobs included
    ("exec_s", "s"),  # the collect
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_s", "s"),  # executor run time
    ("cpu_s", "s"),  # executor CPU time
    ("py_cpu_s", "s"),  # Python-worker CPU, from /proc
    ("shuffle_mb", "MB"),  # shuffle write
    ("spill_mb", "MB"),  # memory bytes spilled
)

LAYER_METRICS = (
    ("session.start_s", "s"),
    ("catalog.scan_s", "s"),
    ("catalog.scan_tasks", "count"),
    ("catalog.parallel_speedup", "ratio"),
    ("streaming.jobs.batches", "count"),
    ("streaming.jobs.batch_ms", "ms"),
    ("streaming.jobs.commit_ms", "ms"),
    ("streaming.jobs.state_rows", "rows"),
    ("streaming.jobs.state_commit_ms", "ms"),
)

PER_LAYER = tuple(
    (f"{layer}.{m}", unit) for layer in ROW_LAYERS for m, unit in ROW_METRICS
) + LAYER_METRICS

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("drain_eps", "records/s"),
    ("pass_cpu_s", "CPU-s"),
    ("peak_rss_mb", "MB"),
)


def layer_of(module: str) -> str:
    """``streamline_hybrid_engine_spark.operators.graph`` -> ``operators.graph``."""
    return module.split(".", 1)[1]
