"""Scale-pattern tests: the 100 TB techniques SCALE.md promises, proven
on the local cluster — bucketed co-located joins (zero shuffle), streaming
checkpoint recovery (Flink savepoint analog), observed metrics
(accumulator analog).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from streamline_hybrid_engine_spark.catalog import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketing both fact tables on the join key at write time makes the
    join zero-shuffle (SCALE.md joins: co-location option (a))."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the in-memory catalog forgets tables between sessions but their files
    # survive in the warehouse dir — clear them or saveAsTable fails
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")

    joined = spark.table("b_lineitem").join(
        spark.table("b_orders").hint("MERGE"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    # sanity: result matches the unbucketed join
    assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_observed_metrics_accumulator_analog(spark, sf_dir):
    """Flink accumulators → Spark ``observe()``: per-action metrics
    collected on the driver without a second pass."""
    from pyspark.sql import Observation

    obs = Observation("li_metrics")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("total_qty"),
    )
    n = li.filter(F.col("l_quantity") >= 0).count()
    got = obs.get
    assert got["n_rows"] > 0
    assert got["n_rows"] >= n  # observe sees pre-filter rows
    assert got["total_qty"] > 0


def test_streaming_checkpoint_recovery_no_reprocessing(spark, sf_dir, tmp_path):
    """Exactly-once across restarts (Flink savepoint analog): a second run
    from the same checkpoint must process ONLY new files — counts continue,
    nothing is double-counted."""
    from streamline_hybrid_engine_spark.streaming.jobs import drain

    ev = load_table(spark, sf_dir, "events")
    stage, ckpt = str(tmp_path / "stage"), str(tmp_path / "ckpt")

    first = ev.filter(F.col("ts") < "2024-01-15")
    second = ev.filter(F.col("ts") >= "2024-01-15")
    first.coalesce(1).write.parquet(f"{stage}/f0")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def run() -> int:
        raw = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        seen = {"n": 0}

        def sink(batch_df, epoch_id):
            seen["n"] += batch_df.count()

        drain(raw, sf_dir, sink, checkpoint=ckpt)
        return seen["n"]

    n1 = run()
    assert n1 == first.count()
    # restart with new data only — the old file must not be reprocessed
    second.coalesce(1).write.parquet(f"{stage}/f1")
    n2 = run()
    assert n2 == second.count(), f"reprocessed: got {n2}, want {second.count()}"


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew-join handling (SCALE.md: 'skewed keys → AQE'): a join with
    one pathological hot key must still complete and stay correct; with
    skewJoin enabled Spark splits the hot partition at runtime."""
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # build: 1 hot key with 50k rows + 1k cold keys
    hot = spark.range(50_000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
    cold = spark.range(1_000).select(
        (F.col("id") + 1).alias("k"), F.col("id").alias("v")
    )
    left = hot.union(cold)
    right = spark.range(1_001).select(F.col("id").alias("k"), F.lit(1).alias("w"))
    # force a shuffle join (no broadcast) so skew handling is exercised
    joined = left.join(right.hint("SHUFFLE_MERGE"), "k")
    assert joined.count() == 51_000


def test_partitioned_lake_static_pruning(spark, sf_dir):
    """Date-partitioned lake layout → a date filter prunes partitions at
    plan time (PartitionFilters on the scan), the backbone of time-range
    queries at 100 TB."""
    lake = os.path.join(tempfile.gettempdir(), "she_part_lake")
    shutil.rmtree(lake, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.partitionBy("event_date").parquet(lake)

    back = spark.read.parquet(lake).filter(F.col("event_date") == "2024-01-15")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1][:300]
    assert "event_date" in pf
    # and the filter is NOT a post-scan row filter on the partition column
    want = ev.filter(F.to_date("ts") == "2024-01-15").count()
    assert back.count() == want


def test_dynamic_partition_pruning_from_join(spark, sf_dir):
    """DPP: a selective dim-side filter prunes fact partitions at runtime
    (subquery broadcast into the scan's partition filter)."""
    lake = os.path.join(tempfile.gettempdir(), "she_part_lake_dpp")
    shutil.rmtree(lake, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.partitionBy("event_date").parquet(lake)
    fact = spark.read.parquet(lake)
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") == 15)
    )
    joined = fact.join(dim.hint("BROADCAST"), fact.event_date == dim.d)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:600]
    assert joined.count() > 0


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salted_join (manual hot-key spreading) must be result-identical to
    the plain join while partitioning each hot key across n_salts."""
    from streamline_hybrid_engine_spark.operators.skew import salted_join

    hot = spark.range(20_000).select(F.lit(7).alias("k"), F.col("id").alias("v"))
    cold = spark.range(500).select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
    skewed = hot.union(cold)
    small = spark.range(100).select(F.col("id").alias("j"), (F.col("id") * 10).alias("w"))

    got = salted_join(skewed, small, "k", "j", n_salts=8)
    want = skewed.join(small, skewed.k == small.j)
    cols = ["k", "v", "j", "w"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    # the hot key really is spread: >1 distinct salt observed for k=7
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(8))
    n_salts_hot = (
        skewed.filter(F.col("k") == 7).select(salt.alias("s")).distinct().count()
    )
    assert n_salts_hot > 1


def _on_cores(cores: int):
    """A stand-in session with ``cores`` cores, for the width arithmetic."""
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))


def test_cc_loop_width_scales_with_graph_size():
    """The CC propagation loop's shuffle width must grow with the candidate
    graph instead of funneling any-sized graph through a constant number of
    tasks (the r2 scale-killer: a hard cap of 4), and never exceed the
    cluster's cores."""
    from streamline_hybrid_engine_spark.catalog import (
        EDGES_PER_LOOP_TASK,
        partition_width,
    )

    def width(n_edges, cores):
        return partition_width(_on_cores(cores), n_edges, EDGES_PER_LOOP_TASK)

    # fixture-sized graphs run on one task
    assert width(58, 32) == 1
    assert width(0, 32) == 1
    # a billion-edge LSH graph fans out to ~1000 tasks on a big cluster
    assert width(1_000_000_000, 4000) == 1000
    # monotone in graph size ...
    widths = [width(n, 4000) for n in (10**6, 10**7, 10**8, 10**9)]
    assert widths == sorted(widths) and widths[-1] > widths[0]
    # ... and capped at the cluster's cores
    assert width(10**12, 32) == 32


def test_exact_stats_partitioning_invariant(spark, sf_dir):
    """The exact-integer-sum statistics (corr/covar, skew/kurtosis) must be
    bit-identical under a different shuffle width — the property that
    justifies their existence over the native streaming-moment aggs."""
    from streamline_hybrid_engine_spark.registry import get_query

    before = spark.conf.get("spark.sql.shuffle.partitions")
    for name in ("agg_corr_covar", "agg_skew_kurtosis"):
        q = get_query(name).fn
        a = sorted(map(tuple, q(spark, sf_dir).collect()))
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            b = sorted(map(tuple, q(spark, sf_dir).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        assert a == b, name


def test_connected_components_width_scales_with_edges(spark):
    """partition_width drives the loop's shuffle width from the MEASURED graph;
    the generic loop must keep the same labels at any width."""
    from streamline_hybrid_engine_spark.operators.graph import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(0, 30, 2)]  # 15 disjoint pairs
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = sorted(map(tuple, connected_components(df).collect()))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        b = sorted(map(tuple, connected_components(df).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b
    # pairs are (0,1),(2,3),…,(28,29): each component's min is the even id
    assert all(label == v - (v % 2) for v, label in a)


def test_drain_width_follows_input_rows(spark, sf_dir):
    """A drain's state width follows its input rows, never exceeds the
    session's cores, and drain_pin sets it only for the drain."""
    import streamline_hybrid_engine_spark.streaming.jobs as jobs
    from streamline_hybrid_engine_spark.catalog import (
        ROWS_PER_STATE_PARTITION,
        partition_width,
        table_rows,
    )

    cores = spark.sparkContext.defaultParallelism

    def width(rows, on=spark):
        return partition_width(on, rows, ROWS_PER_STATE_PARTITION)

    assert width(1_000) == 1  # sf0.001
    assert width(10_000) == 1  # sf0.01: the measured best width
    assert width(100_000) == min(cores, 8)  # sf0.1: the measured knee
    assert width(10**12) == cores
    for rows in (0, 1, 12_500, 12_501, 10**5, 10**6, 10**9, 10**12):
        assert 1 <= width(rows) <= cores
    for n_cores in (1, 2, 4, 8, 32):
        assert width(100_000, _on_cores(n_cores)) == min(n_cores, 8)

    # the pin sizes from the footer of the table the drain reads (events
    # by default) and restores the session value
    for table in ("events", "documents"):
        rows = table_rows(sf_dir, table)
        assert rows == load_table(spark, sf_dir, table).count()
        before = spark.conf.get("spark.sql.shuffle.partitions")
        with jobs.drain_pin(spark, sf_dir, table):
            pinned = spark.conf.get("spark.sql.shuffle.partitions")
        assert pinned == str(width(rows))
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with jobs.drain_pin(spark, sf_dir):
        pinned = spark.conf.get("spark.sql.shuffle.partitions")
    assert pinned == str(width(table_rows(sf_dir, "events")))


def test_drains_are_sized_from_the_table_they_read(spark, sf_dir, monkeypatch):
    """The four drains over ``documents`` ask drain_pin for the documents
    footer; events drains keep asking for the events footer, the
    foreachBatch drains included."""
    import streamline_hybrid_engine_spark.streaming.jobs as jobs
    from streamline_hybrid_engine_spark.registry import get_query

    class Pinned(Exception):
        """Raised in place of starting the drain, once its table is known."""

    def record(_spark, _sf, table="events"):
        raise Pinned(table)

    monkeypatch.setattr(jobs, "drain_pin", record)
    expected = {
        "stream_dedup_minhash_lsh": "documents",
        "stream_dedup_minhash_lsh_ttl": "documents",
        "stream_dsir_filter": "documents",
        "stream_perplexity_router": "documents",
        "stream_tumble_1h": "events",
        "stream_user_session_state": "events",
        "stream_update_changelog": "events",
        "stream_sink_parquet": "events",
        "stream_watermark_deadletter": "events",
        "stream_dynamic_rules": "events",
        "stream_sink_exactly_once": "events",
        "stream_rate_limited_backfill": "events",
        "stream_checkpoint_resume": "events",
        "stream_topk_foreachbatch": "events",
    }
    for qid, table in expected.items():
        with pytest.raises(Pinned) as pinned:
            get_query(qid).fn(spark, sf_dir)
        assert pinned.value.args == (table,), qid


def test_two_phase_sessions_equal_native_and_salt_the_shuffle(spark, sf_dir):
    """The skew rewrite must be invisible in values (== native
    session_window output) and visible in the plan: phase 1's window
    partitions on (user_id, bucket) — the deterministic time salt — so no
    single task owns a whole hot user."""
    from streamline_hybrid_engine_spark.plans import executed_plan
    from streamline_hybrid_engine_spark.registry import get_query

    two = get_query("win_session_two_phase").fn(spark, sf_dir)
    native = get_query("win_session_30m_batch").fn(spark, sf_dir)
    a = sorted(map(tuple, two.collect()))
    b = sorted(map(tuple, native.collect()))
    assert a == b and len(a) > 0
    import re

    p = executed_plan(two)
    assert re.search(r"Exchange hashpartitioning\(user_id#\d+L?, bucket#", p), p


def test_rolling_mau_hll_day_set_and_anchor_match_exact_form(spark, sf_dir):
    """ts_rolling_mau_hll (r12 valve): report-day set identical to the
    exact form's, the exact anchor equals the exact form's mau28 per
    day, and the 28-sketch-union estimate lands within the 5% contract
    on every day."""
    from streamline_hybrid_engine_spark.registry import get_query

    exact = {
        r["report_day"]: r["mau28"]
        for r in get_query("ts_rolling_mau").fn(spark, sf_dir).collect()
    }
    hll = get_query("ts_rolling_mau_hll").fn(spark, sf_dir).collect()
    assert {r["report_day"] for r in hll} == set(exact)
    assert len(hll) > 0
    for r in hll:
        assert r["mau28_exact"] == exact[r["report_day"]]
        assert r["hll_within_5pct"] is True


def test_seasonal_anomaly_bucketed_flags_equal_global_form(spark, sf_dir):
    """ts_seasonal_anomaly_bucketed (r12 valve): the bucketed-MAD rank
    reconstructs the exact global rank, so the emitted flag SET is
    row-identical to the global form's."""
    from streamline_hybrid_engine_spark.registry import get_query

    a = sorted(
        map(tuple, get_query("ts_seasonal_anomaly").fn(spark, sf_dir).collect())
    )
    b = sorted(
        map(
            tuple,
            get_query("ts_seasonal_anomaly_bucketed").fn(spark, sf_dir).collect(),
        )
    )
    assert a == b
    assert len(a) > 0
