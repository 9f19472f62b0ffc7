"""Streaming == batch equivalence (SURVEY §5.2 harness pattern).

The reference's identity is hybrid batch-stream: the same logical query on
bounded input must give the same answer through the streaming path
(file source → availableNow micro-batches → memory sink) as through
``spark.read``. These tests assert exactly that.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from streamline_hybrid_engine_spark.catalog import load_table
from streamline_hybrid_engine_spark.registry import all_queries


def _rows(df, *key):
    return sorted(tuple(r) for r in df.select(*key).collect())


def test_stream_tumble_equals_batch(spark, sf_dir):
    """Tumbling-window agg: streaming result == identical batch query."""
    out = all_queries()["stream_tumble_1h"].fn(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    cols = ["ws", "event_type", "n", "sum_value"]
    assert _rows(out, *cols) == _rows(batch, *cols)


def test_stream_static_enrich_equals_batch_join(spark, sf_dir):
    """Hybrid stream-static join == the same join done fully in batch."""
    out = all_queries()["stream_static_enrich"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    batch = (
        ev.join(c, "user_id")
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    cols = ["n_name", "event_type", "n_events"]
    assert _rows(out, *cols) == _rows(batch, *cols)


def test_stream_watermark_drops_late_file(spark, sf_dir):
    """Late micro-batch (entirely behind the watermark) must not appear."""
    out = all_queries()["stream_watermark_drop"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "no finalized windows emitted"
    # batch 1 is all ts < 2024-01-05 and entirely late; every emitted
    # window start must come from the on-time file (ts >= 2024-01-05).
    assert min(r["ws"] for r in rows).day >= 5


def test_stream_session_state_matches_batch_sessionization(spark, sf_dir):
    """applyInPandasWithState sessions == session_window batch sessions."""
    out = all_queries()["stream_user_session_state"].fn(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )
    ours = sorted((r["user_id"], r["n_events"]) for r in out.collect())
    theirs = sorted(tuple(r) for r in batch.collect())
    assert ours == theirs


def test_stream_sink_parquet_exactly_once(spark, sf_dir):
    """foreachBatch sink: written rows == source purchase rows, no dupes."""
    out = all_queries()["stream_sink_parquet"].fn(spark, sf_dir)
    got = {r["user_id"]: r["n_purchases"] for r in out.collect()}
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_hop_equals_batch(spark, sf_dir):
    """Hopping-window streaming agg == the same window() in batch."""
    out = all_queries()["stream_hop_15m"].fn(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    assert _rows(out, "ws", "n") == _rows(batch, "ws", "n")


def test_stream_session_native_equals_batch(spark, sf_dir):
    """Native streaming session_window == batch session_window."""
    out = all_queries()["stream_session_native"].fn(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(out, *cols) == _rows(batch, *cols)


def test_deadletter_captures_late_rows_and_loses_nothing(spark, sf_dir):
    """Flink allowedLateness side-output emulation: rows below the
    maintained watermark land in the dead-letter sink; main + dead letters
    together account for every input row exactly once."""
    from streamline_hybrid_engine_spark.catalog import scratch_path
    from streamline_hybrid_engine_spark.registry import get_query

    dead = get_query("stream_watermark_deadletter").fn(spark, sf_dir)
    n_dead = dead.count()
    base = scratch_path(spark, sf_dir, "dlq")
    n_main = spark.read.parquet(f"{base}/main").count()
    total = load_table(spark, sf_dir, "events").count()
    assert n_dead > 0  # the staged old-data batches must be flagged late
    assert n_dead + n_main == total  # routed, never dropped
    # every dead-letter row is genuinely old: below the batch-0 watermark
    # (batch 0 holds all ts >= Jan 10, watermark = its max - 1h)
    wm_floor = dead.agg(F.max("ts")).first()[0]
    import datetime as dt

    assert wm_floor < dt.datetime(2024, 1, 10)


def test_upsert_snapshot_equals_batch_totals(spark, sf_dir):
    """The published upsert snapshot must equal the batch aggregate over
    the same input — the changelog-to-table contract."""
    from streamline_hybrid_engine_spark.registry import get_query

    snap = {
        (r.user_id, r.n_events, r.total_value)
        for r in get_query("stream_upsert_snapshot").fn(spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.n_events, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .collect()
    }
    assert snap == batch and len(snap) > 0


def test_stream_left_join_equals_batch_left_join(spark, sf_dir):
    """LEFT OUTER stream-stream join vs the same left join in batch.

    MATCHED pairs must agree exactly (they emit as they join). UNMATCHED
    purchases emit only once the watermark proves no click can arrive, and
    the final watermark stops 1 h short of max event time — so purchases
    in that tail stay pending (correct streaming semantics, not loss).
    The test pins: matched == batch; mature-unmatched ⊆ streamed-unmatched
    ⊆ all-unmatched, per user."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.registry import get_query

    got = {
        r.user_id: (r.n_pairs, r.n_unmatched)
        for r in get_query("stream_stream_left_join").fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(
        c,
        (p.p_user == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (c.c_ts <= p.p_ts),
        "left",
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    def batch_counts(frame):
        return {
            r.p_user: (r.n_pairs, r.n_unmatched)
            for r in frame.groupBy("p_user")
            .agg(
                F.count("*").alias("n_pairs"),
                F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0)).alias(
                    "n_unmatched"
                ),
            )
            .collect()
        }

    full = batch_counts(j)
    # provably-closed boundary, conservatively: 1 h watermark delay + 30 m
    # join range + one micro-batch of slack for watermark propagation
    mature = batch_counts(
        j.filter(F.col("p_ts") < F.lit(max_ts) - F.expr("INTERVAL 150 MINUTES"))
    )
    for user, (n_pairs, n_unmatched) in full.items():
        s_pairs, s_unmatched = got.get(user, (0, 0))
        # matched pairs emit as they join — exact in every region
        assert s_pairs - s_unmatched == n_pairs - n_unmatched, user
        # unmatched: everything provably closed must have emitted; nothing
        # beyond the batch truth may emit
        m_unmatched = mature.get(user, (0, 0))[1]
        assert m_unmatched <= s_unmatched <= n_unmatched, user


def test_state_store_read_equals_batch_agg(spark, sf_dir):
    """Queryable state: reading the checkpoint's state store back as a
    DataFrame must reproduce the aggregate it is the memory of."""
    from streamline_hybrid_engine_spark.registry import get_query

    got = {
        (r.user_id, r.event_type): r.n
        for r in get_query("stream_state_store_read").fn(spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_exactly_once_sink_replay_is_noop(spark, sf_dir):
    """Re-committing every epoch must leave the sink byte-for-byte
    equivalent: same row count, all event ids still unique."""
    from streamline_hybrid_engine_spark.registry import get_query

    row = get_query("stream_sink_exactly_once").fn(spark, sf_dir).collect()[0]
    assert row.replay_is_noop, row
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert row.n_before == row.n_after == row.distinct_after == n_purchases


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_state_checkpoint_restart_resumes_not_reprocesses(
    spark, sf_dir, tmp_path, provider
):
    """Checkpoint/restore parity (SURVEY §4.1): a restarted stateful query
    must RESUME from checkpointed state — the second run reads only the new
    file, yet its complete-mode output equals the full batch aggregate.
    Identical behavior required from the default and RocksDB providers."""
    import os

    from streamline_hybrid_engine_spark.session import pinned_confs
    from streamline_hybrid_engine_spark.streaming.jobs import (
        PROVIDER_CONF,
        ROCKSDB_PROVIDER,
        drain,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/a=0")
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    n_b = half_b.count()

    name = f"she_restart_{provider}"
    prov = ROCKSDB_PROVIDER if provider == "rocksdb" else None

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sv")
        )
        with pinned_confs(spark, {PROVIDER_CONF: prov} if prov else {}):
            q = drain(agg, sf_dir, name, "complete", checkpoint=ckpt)
        processed = sum(p["numInputRows"] for p in (q.recentProgress or []))
        return sorted(tuple(r) for r in spark.table(name).collect()), processed

    first_rows, _ = run()
    half_b.coalesce(1).write.parquet(f"{src}/a=1")
    second_rows, second_processed = run()

    batch = sorted(
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sv"))
        .collect()
    )
    assert second_rows == batch
    assert second_rows != first_rows  # state genuinely advanced
    # resume, not reprocess: run 2 ingested only the new file's rows
    assert second_processed == n_b, (second_processed, n_b)


def test_update_changelog_reconstructs_batch_and_is_selective(spark, sf_dir):
    """UPDATE-mode changelog: last-writer-wins reconstruction must equal
    the batch aggregate, and the raw log must show update-mode
    SELECTIVITY — each epoch emitted only the keys it touched (the staged
    micro-batches are date-disjoint, so no key repeats; complete mode
    would have re-emitted every seen key every epoch)."""
    import os

    from streamline_hybrid_engine_spark.catalog import scratch_path
    from streamline_hybrid_engine_spark.registry import get_query

    got = {
        (r.day_start, r.event_type): (r.n, r.sum_value)
        for r in get_query("stream_update_changelog").fn(spark, sf_dir).collect()
    }
    batch = {
        (r.day_start, r.event_type): (r.n, r.sum_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n", "sum_value")
        .collect()
    }
    assert got == batch and len(got) > 0
    # selectivity: the changelog has exactly one row per key (disjoint
    # epochs never re-touch a day), across >= 2 epochs
    base = scratch_path(spark, sf_dir, "updlog")
    epochs = [d for d in os.listdir(f"{base}/log") if d.startswith("epoch=")]
    assert len(epochs) >= 2, epochs
    n_log_rows = spark.read.parquet(f"{base}/log").count()
    assert n_log_rows == len(got), (n_log_rows, len(got))


def test_dynamic_rules_reconfigure_between_epochs(spark, sf_dir):
    """Broadcast-state analog: epoch 0 must match under rule set v1, every
    later epoch under v2 (published by epoch 0's commit), and each match
    must satisfy its epoch's own thresholds."""
    from streamline_hybrid_engine_spark.registry import get_query

    rows = get_query("stream_dynamic_rules").fn(spark, sf_dir).collect()
    assert rows
    epochs = {r.epoch for r in rows}
    assert 0 in epochs and len(epochs) >= 2, epochs
    for r in rows:
        expected_version = 1 if r.epoch == 0 else 2
        assert r.rule_version == expected_version, r
        floor = 8.0 if r.rule_version == 1 else 0.0
        assert r.min_matched_value >= floor, r
        assert r.n_matched > 0, r


def test_state_store_read_works_over_rocksdb_checkpoints(spark, sf_dir, tmp_path):
    """The State Data Source must read a ROCKSDB-backed checkpoint (a
    different on-disk format than the default provider's .delta files)
    back to the same aggregate state, and the checkpoint must carry
    RocksDB snapshots, not .delta files."""
    import os

    from streamline_hybrid_engine_spark.session import pinned_confs
    from streamline_hybrid_engine_spark.streaming.jobs import (
        PROVIDER_CONF,
        ROCKSDB_PROVIDER,
        drain,
        read_events_stream,
    )

    ckpt = str(tmp_path / "rocks_state")
    ev = read_events_stream(spark, sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    with pinned_confs(spark, {PROVIDER_CONF: ROCKSDB_PROVIDER}):
        drain(counts, sf_dir, "she_rocks_state_src", "complete", checkpoint=ckpt)
    state = spark.read.format("statestore").load(ckpt)
    got = {
        (r["key"]["user_id"], r["key"]["event_type"]): r["value"]["count"]
        for r in state.collect()
    }
    batch = {
        (r.user_id, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch and len(got) > 0
    state_files = [
        f for dp, _, fs in os.walk(os.path.join(ckpt, "state")) for f in fs
    ]
    assert any(f.endswith((".zip", ".sst")) for f in state_files), state_files
    assert not any(f.endswith(".delta") for f in state_files), state_files


def test_progress_metrics_capture_drops_and_watermark(spark, sf_dir):
    """The progress records must account for every staged input row, show
    the all-late batch's rows as dropped-by-watermark, and carry a
    non-decreasing event-time watermark."""
    from streamline_hybrid_engine_spark.registry import get_query

    rows = sorted(
        get_query("stream_progress_metrics").fn(spark, sf_dir).collect(),
        key=lambda r: r.batch_id,
    )
    assert len(rows) >= 3  # three staged files -> three micro-batches
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.input_rows for r in rows) == n_events
    assert sum(r.dropped_by_watermark for r in rows) > 0
    marks = [r.watermark for r in rows if r.watermark]
    assert marks == sorted(marks)  # non-decreasing watermark
    # the drop happens in the batch AFTER the watermark advanced past it
    dropping = [r for r in rows if r.dropped_by_watermark > 0]
    assert all(r.batch_id >= 2 for r in dropping), rows


def test_transform_with_state_env_gate(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 TWS API) ships fully
    implemented but hard-requires google.protobuf for its Python
    state-server protocol. Whichever branch this environment supports
    must behave: with protobuf absent the operator raises the documented
    RuntimeError (never the opaque STREAMING_PYTHON_RUNNER init crash);
    with protobuf present it must drain and agree with the batch
    groupBy over the same purchases."""
    import pytest

    from streamline_hybrid_engine_spark.streaming.jobs import (
        stream_transform_with_state,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            stream_transform_with_state(spark, sf_dir)
        return
    out = {
        r["user_id"]: r
        for r in stream_transform_with_state(spark, sf_dir).collect()
    }
    from streamline_hybrid_engine_spark.catalog import load_table
    import pyspark.sql.functions as F

    batch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for r in batch:
        assert out[r["user_id"]]["n_purchases"] == r["n"]


def test_stream_session_dynamic_gap_equals_batch(spark, sf_dir):
    """Streaming dynamic-gap sessions must equal the oracle-checked batch
    twin on the same bounded input."""
    from streamline_hybrid_engine_spark.registry import all_queries

    qs = all_queries()
    stream = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in qs["stream_session_dynamic_gap"].fn(spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in qs["win_session_dynamic_gap"].fn(spark, sf_dir).collect()
    }
    assert stream == batch


def test_stream_python_datasource_drains_bounded_source(spark, sf_dir):
    """The streaming Python data source must drain all 5 deterministic
    batches and agree with the batch source's generator arithmetic over
    the same id range."""
    from streamline_hybrid_engine_spark.registry import all_queries
    from streamline_hybrid_engine_spark.sources.pydatasource import (
        MOD,
        MULT,
        STREAM_BATCHES,
        STREAM_ROWS_PER_BATCH,
    )

    rows = {
        r["bucket"]: (r["n"], r["sum_score"])
        for r in all_queries()["stream_python_datasource"]
        .fn(spark, sf_dir)
        .collect()
    }
    cap = STREAM_BATCHES * STREAM_ROWS_PER_BATCH
    expect = {}
    for i in range(cap):
        n, s = expect.get(i % 7, (0, 0))
        expect[i % 7] = (n + 1, s + (i * MULT) % MOD)
    assert rows == expect


def test_stream_full_join_matches_and_exclusive_unmatched(spark, sf_dir):
    """FULL OUTER stream-stream join invariants vs batch: matched pairs
    equal the batch inner interval join exactly; no id emits both as
    matched and as unmatched; both unmatched directions are present."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.registry import get_query

    rows = get_query("stream_stream_full_join").fn(spark, sf_dir).collect()
    matched = {
        (r.purchase_id, r.click_id)
        for r in rows
        if r.purchase_id is not None and r.click_id is not None
    }
    unmatched_p = {r.purchase_id for r in rows if r.click_id is None}
    unmatched_c = {r.click_id for r in rows if r.purchase_id is None}

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch_pairs = {
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (p.p_user == c.c_user)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
            & (c.c_ts <= p.p_ts),
        ).collect()
    }
    assert matched == batch_pairs and len(matched) > 0
    assert not unmatched_p & {pid for pid, _ in matched}
    assert not unmatched_c & {cid for _, cid in matched}
    assert unmatched_p and unmatched_c


def test_per_row_band_signatures_match_batch_band_frame(spark, sf_dir):
    """The streaming-safe per-row signature fold must produce the exact
    (doc_id, band, bandsig) set the batch explode+groupBy path does —
    same shingles, same Carter-Wegman arithmetic, same digest text."""
    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.llm.dedup import (
        _bands_with_sig,
        per_row_band_signatures,
    )

    batch = {
        (r["doc_id"], r["band"], r["bandsig"])
        for r in _bands_with_sig(spark, sf_dir)
        .select("doc_id", "band", "bandsig")
        .collect()
    }
    per_row = {
        (r["doc_id"], r["band"], r["bandsig"])
        for r in per_row_band_signatures(
            load_table(spark, sf_dir, "documents")
        ).collect()
    }
    assert per_row == batch and per_row


def test_stream_dedup_minhash_lsh_equals_batch_lsh(spark, sf_dir):
    """Streaming LSH dedup == batch LSH on the bounded slice: a doc is
    flagged near-dup iff it appears as the LARGER side of at least one
    batch candidate pair (bucket occupied by an earlier = smaller doc_id),
    and every banded doc gets exactly one verdict."""
    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.llm.dedup import per_row_band_signatures
    from streamline_hybrid_engine_spark.registry import all_queries

    qs = all_queries()
    verdicts = {
        r["doc_id"]: r["is_near_dup"]
        for r in qs["stream_dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    batch_dups = {
        r["d2"]
        for r in qs["llm_dedup_minhash_pairs"].fn(spark, sf_dir).collect()
    }
    banded_docs = {
        r["doc_id"]
        for r in per_row_band_signatures(load_table(spark, sf_dir, "documents"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert set(verdicts) == banded_docs
    assert {d for d, dup in verdicts.items() if dup} == batch_dups
    assert batch_dups  # fixture must exercise the drop branch


def test_stream_dedup_minhash_lsh_ttl_matches_watermark_simulation(spark, sf_dir):
    """The TTL variant's verdicts must equal a pure-Python replay of the
    event-time contract: per batch (doc_id-range file), a bucket is
    occupied iff its expiry (last touch + horizon) is still ahead of the
    watermark (max event time through PRIOR batches - delay). Also pins
    that eviction is actually exercised (re-occupations > 0) and that
    state is bounded: buckets are removed during the drain and the final
    state is strictly smaller than the buckets-touched universe."""
    from collections import defaultdict

    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.llm.dedup import per_row_band_signatures
    from streamline_hybrid_engine_spark.streaming.jobs import (
        LSH_TTL_HORIZON_MS,
        lsh_ttl_dedup,
    )

    progress = []
    verdicts = {
        r["doc_id"]: r["is_near_dup"]
        for r in lsh_ttl_dedup(spark, sf_dir, progress_out=progress).collect()
    }

    rows = per_row_band_signatures(load_table(spark, sf_dir, "documents")).collect()
    hi = max(r["doc_id"] for r in rows)
    cut1, cut2 = hi // 3, 2 * hi // 3
    t0_ms = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
    delay_ms = 10 * 60 * 1000

    def ts_ms(doc_id):
        return t0_ms + doc_id * 60_000

    batches = [[], [], []]
    for r in rows:
        b = 0 if r["doc_id"] <= cut1 else 1 if r["doc_id"] <= cut2 else 2
        batches[b].append((r["doc_id"], r["band"], r["bandsig"]))

    wm, state, flags, reoccupations = 0, {}, defaultdict(bool), 0
    for batch in batches:
        by_bucket = defaultdict(list)
        for doc_id, band, sig in batch:
            by_bucket[(band, sig)].append(doc_id)
        for bucket, docs in by_bucket.items():
            first, expiry = state.get(bucket, (None, None))
            if expiry is not None and expiry <= wm:
                first, expiry = None, None
                reoccupations += 1
            docs.sort()
            last = None
            for d in docs:
                flags[d] |= first is not None
                if first is None:
                    first = d
                last = ts_ms(d)
            state[bucket] = (first, max(expiry or 0, last + LSH_TTL_HORIZON_MS))
        wm = max(wm, max(ts_ms(d) for d, _, _ in batch) - delay_ms)

    assert verdicts == dict(flags)
    assert reoccupations > 0  # fixture exercises evict-then-reoccupy
    # bounded state: buckets were removed during the drain, and the final
    # state holds strictly fewer rows than the buckets-touched universe
    ops = [
        (p.get("stateOperators") or [{}])[0]
        for p in progress
        if p.get("stateOperators")
    ]
    assert sum(int(op.get("numRowsRemoved", 0)) for op in ops) > 0
    assert 0 < int(ops[-1].get("numRowsTotal", 0)) < len(state)
    # a TTL dup always shares a bucket with an earlier doc, so the TTL
    # dup set must be a subset of the hold-forever (= batch LSH) dup set
    from streamline_hybrid_engine_spark.registry import all_queries

    batch_dups = {
        r["d2"]
        for r in all_queries()["llm_dedup_minhash_pairs"].fn(spark, sf_dir).collect()
    }
    ttl_dups = {d for d, dup in flags.items() if dup}
    assert ttl_dups <= batch_dups


def test_stream_ohlc_equals_batch_ohlc(spark, sf_dir):
    """Streaming candlesticks must equal the batch OHLC rollup on the
    bounded drain (hybrid promise), keyed by the shared epoch-aligned
    integer bucket."""
    from streamline_hybrid_engine_spark.registry import all_queries

    qs = all_queries()
    stream = {tuple(r) for r in qs["stream_ohlc_6h"].fn(spark, sf_dir).collect()}
    batch = {tuple(r) for r in qs["ts_resample_ohlc"].fn(spark, sf_dir).collect()}
    assert stream == batch and stream


def test_stream_cusum_equals_batch_cusum(spark, sf_dir):
    """Keyed-state streaming CUSUM == the window-identity batch CUSUM:
    same parameters, same output schema, bounded drain."""
    out = all_queries()["stream_cusum_alarm"].fn(spark, sf_dir)
    batch = all_queries()["ts_cusum_alarm"].fn(spark, sf_dir)
    cols = ["user_id", "n_points", "n_alarms", "first_alarm_us"]
    assert _rows(out, *cols) == _rows(batch, *cols)


def test_stream_topk_foreachbatch_equals_batch_topk(spark, sf_dir):
    """The foreachBatch top-10 ledger == the batch top-10 with the same
    (value desc, event_id asc) tiebreak — K-bounded merge associativity
    makes epoch boundaries invisible."""
    stream = all_queries()["stream_topk_foreachbatch"].fn(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 1000000).cast("long").alias(
                "value_micros"
            ),
        )
        .orderBy(F.col("value_micros").desc(), F.col("event_id"))
        .limit(10)
    )
    assert [tuple(r) for r in stream.collect()] == [
        tuple(r) for r in batch.collect()
    ]
