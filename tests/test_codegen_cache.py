"""Generated code is compiled once per session, not once per query run.

Spark caches each whole-stage-codegen class keyed on its exact source.
At Spark's default of 100 entries the benchmark's batch-mix pass (about
245 distinct classes) recompiled every class on every pass; the session
pins the cache to hold a full registry pass (``session.get_session``),
and keeps the codegen stage ID out of class names, so that a rerun of a
pipeline finds its class whatever order AQE's stages finish in.
"""

from __future__ import annotations

from streamline_hybrid_engine_spark.registry import get_query
from streamline_hybrid_engine_spark.session import codegen_compiles

#: The rows of the benchmark's batch-mix workload (perfbench/workloads.py).
BATCH_MIX = (
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
)


def test_session_pins_the_codegen_cache(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == "8192"
    assert not spark.conf.isModifiable(key)  # a launch-only conf
    # AQE numbers codegen stages in the order earlier stages finish, so a
    # stage ID in the class name makes a rerun of one pipeline miss
    key = "spark.sql.codegen.useIdInClassName"
    assert spark.conf.get(key) == "false"
    assert spark.conf.isModifiable(key)  # re-pinned on foreign sessions


def test_second_pass_reuses_every_generated_class(spark, sf_dir):
    """A second pass over the batch-mix rows compiles nothing, under the
    session's own confs."""

    def run_pass():
        for qid in BATCH_MIX:
            get_query(qid).fn(spark, sf_dir).collect()

    run_pass()
    before = codegen_compiles(spark)
    run_pass()
    assert codegen_compiles(spark) - before == 0
