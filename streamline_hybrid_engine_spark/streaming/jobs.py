"""Structured Streaming jobs — SURVEY §2.9 / §M6.

The reference IS a hybrid batch-stream engine (STREAMLINE's Flink fork:
bounded side inputs consumable inside streaming jobs). Spark's equivalent
needs zero custom machinery: a streaming DataFrame and a batch DataFrame
are the same type, so "hybrid" is just ``streamDF.join(staticDF, key)``
(stream-static join, ``stream_static_enrich`` below).

Test/driver harness pattern (SURVEY §5.2): file source over the fixture
parquet → transformations → sink, ``availableNow`` trigger (drains all
input then stops — deterministic). Every stream here is bounded, and every
one runs through :func:`drain`, the module's one ``writeStream`` site: it
pins the state width, checkpoints into :func:`ckpt_root`, and pays the
per-epoch fixed cost (offset WAL, commit log, state-store commit) in one
place. The sink is a memory table (:func:`run_to_memory` returns it as a
batch DataFrame) or a ``foreachBatch`` function. The SAME transformations
run over ``spark.read`` in operators/time_windows.py — streaming == batch
equivalence is asserted in tests/test_streaming.py.

These queries are rows-only in the driver gate (DuckDB has no streaming
semantics); their *logic* is oracle-checked via the batch analogs.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from streamline_hybrid_engine_spark.catalog import (
    ROWS_PER_STATE_PARTITION,
    load_table,
    partition_width,
    scratch_dir,
    table_rows,
)
from streamline_hybrid_engine_spark.registry import get_query, query
from streamline_hybrid_engine_spark.session import ensure_runtime_confs, pinned_confs

EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


def ckpt_root() -> str | None:
    """Directory for ephemeral streaming checkpoints.

    Structured Streaming commits every micro-batch through fsync'd
    offset/commit/state files; on the default system tempdir that means
    a burst of small synchronous writes to the SHARED ROOT DISK per
    batch — which is exactly the resource a noisy co-tenant VM saturates
    (r9 root-cause of the r8→r9 drain-throughput slide: batch CPU
    ratios moved ~1.1× while the fsync-bound drain moved ~1.9×, and
    host steal/IO telemetry was elevated both rounds). These drains are
    throwaway availableNow runs (the TemporaryDirectory deletes the
    checkpoint on exit), so durability of the checkpoint ACROSS BOX
    FAILURE buys nothing — put it on tmpfs when available and decouple
    throughput from neighbor disk traffic. Production pendant:
    cluster-local NVMe or a memory-backed volume for ephemeral
    checkpoints, durable object storage only for resumable jobs
    (stream_checkpoint_resume documents that distinction).
    `SHE_CKPT_DIR` overrides; None falls back to the system default."""
    env = os.environ.get("SHE_CKPT_DIR")
    if env:
        return env
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a micro-batch stream (nanos ts → micros, as batch)."""
    ensure_runtime_confs(spark)
    # file sources need a directory; glob-filter the events file out of the lake
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # The explicit LongType schema yields NANOS on builds that honor
    # nanosAsLong but MICROS on builds that read TIMESTAMP(NANOS) natively
    # (the long is then the internal micros value — same drift handled in
    # catalog._load_events for batch). Unit-detect by magnitude: 1e17
    # micros is year 5138, 1e17 nanos is 1973, so the boundary cannot
    # misclassify event data from either era.
    return raw.withColumn(
        "ts",
        F.timestamp_micros(
            F.expr("CASE WHEN ts > 100000000000000000 THEN ts div 1000 ELSE ts END")
        ),
    )


def drain_pin(spark: SparkSession, sf_dir: str, table: str = "events"):
    """Pin the state width of the drains started inside (context manager).

    The state-store partition count is fixed into the checkpoint at the
    first micro-batch, and every batch opens and commits each partition's
    store, so the width follows the input: the row count of ``table``, the
    table the drain reads, from its parquet footer, through
    ``catalog.partition_width``. At cluster scale the input fills every
    core; a bounded local drain stays narrow. The session's own value comes
    back after the drain, so batch queries keep their sizing."""
    rows = table_rows(sf_dir, table)
    width = partition_width(spark, rows, ROWS_PER_STATE_PARTITION)
    return pinned_confs(spark, {"spark.sql.shuffle.partitions": str(width)})


def drain(
    df: DataFrame,
    sf_dir: str,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
    table: str = "events",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Drain the bounded stream ``df`` over ``sf_dir``; return the finished
    query (its ``recentProgress`` holds the per-batch records).

    ``sink`` is a memory table name, whose live query of that name is
    stopped first, or a ``foreachBatch`` function. The drain runs under
    :func:`drain_pin`, sized from ``table``, the fixture table the stream
    reads, with an ``availableNow`` trigger. It checkpoints into a
    temporary directory under :func:`ckpt_root` unless the caller passes
    a ``checkpoint`` that it reads or resumes from afterwards."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode(output_mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        for q in spark.streams.active:
            if q.name == sink:
                q.stop()
        writer = writer.format("memory").queryName(sink)
    with drain_pin(spark, sf_dir, table), (
        tempfile.TemporaryDirectory(dir=ckpt_root(), prefix="she_ckpt_")
        if checkpoint is None
        else contextlib.nullcontext(checkpoint)
    ) as ckpt:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str,
    sf_dir: str,
    table: str = "events",
) -> DataFrame:
    """:func:`drain` ``df`` into the memory table ``name``; return it."""
    drain(df, sf_dir, name, output_mode, table)
    return df.sparkSession.table(name)


@query("stream_tumble_1h", oracle=None, tags=("streaming",))
def stream_tumble_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate (Flink TumblingEventTimeWindows).

    The same 1-hour windows and per-type counts as win_tumble_1h_batch, but
    the sum is ``round(sum(value), 6)`` where the batch row sums
    fixed-point micros (``dsum``), so a window's sum can differ from the
    batch row's in the sixth decimal. Its exact answer is this query text
    run as batch SQL over the same events. Complete mode keeps every
    window visible for the check; production uses append + watermark (see
    stream_watermark_drop).
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    return run_to_memory(agg, "she_stream_tumble_1h", "complete", sf_dir)


@query("stream_static_enrich", oracle=None, tags=("streaming", "hybrid"))
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid batch-stream: STREAMLINE's headline capability.

    A bounded (static) customer/nation table is consumed inside a streaming
    job as the build side of a join — Flink needed fork-level side-input
    machinery for this; in Spark it is literally ``stream.join(static)``
    (broadcast hash join per micro-batch, no shuffle of the stream).
    """
    ev = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    static = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "user_id", "c_name", "n_name"
    )
    enriched = (
        ev.join(F.broadcast(static), "user_id")
        .groupBy("n_name", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_memory(enriched, "she_stream_static_enrich", "complete", sf_dir)


def _staged_events_stream(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """Stage the events fixture as three time-ordered files (new → mid →
    old) and open them as a maxFilesPerTrigger=1 stream, so each file is
    its own micro-batch and late-arrival semantics are observable. File
    mtimes are pinned strictly increasing — the file source orders by
    modification time, and the batch order IS the semantics here."""
    ensure_runtime_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    stage = scratch_dir(spark, sf_dir, f"{tag}_stage")
    parts = (
        ("00_main", F.col("ts") >= "2024-01-10"),
        ("01_mid", (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-10")),
        ("02_late", F.col("ts") < "2024-01-05"),
    )
    now = time.time()
    for i, (name, cond) in enumerate(parts):
        ev.filter(cond).coalesce(1).write.parquet(f"{stage}/{name}")
        for f in os.listdir(f"{stage}/{name}"):
            os.utime(f"{stage}/{name}/{f}", (now + i * 10, now + i * 10))
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )


@query("stream_watermark_drop", oracle=None, tags=("streaming", "watermark"))
def stream_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics: late rows beyond the delay are dropped.

    Input is staged as three files processed as separate micro-batches
    (maxFilesPerTrigger=1, modification-time order). Spark filters late
    events with the watermark of the PREVIOUS batch (one-batch lag), so
    three batches are needed to observe a drop:
    batch 0 = ts >= Jan 10 (raises the watermark to max(ts) - 1h);
    batch 1 = Jan 5..10  (filter still sees the initial watermark; its
    windows emit normally);
    batch 2 = ts < Jan 5 (filter now sees the batch-0 watermark → rows
    dropped, ``numRowsDroppedByWatermark`` > 0, verified).
    Append mode emits only finalized windows, so the result visibly
    excludes every window before Jan 5 — Flink's ``allowedLateness`` drop
    path, minus the side output (documented divergence, SURVEY §4.2).
    """
    raw = _staged_events_stream(spark, sf_dir, "wm")
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    return run_to_memory(agg, "she_stream_watermark_drop", "append", sf_dir)


@query("stream_user_session_state", oracle=None, tags=("streaming", "state"))
def stream_user_session_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed stateful processing (Flink ProcessFunction + keyed state +
    timers) via ``applyInPandasWithState``: per-user sessionization with a
    30-minute gap.

    State = (session_start, last_ts, n_events). Closed sessions are emitted
    as the gap is crossed; the still-open session is flushed at end of
    batch — under the bounded ``availableNow`` drain (single input file)
    end-of-input plays the role of Flink's event-time timer firing at the
    final watermark. (A wall-clock timeout here would force the harness to
    idle-spin micro-batches waiting for processing time to pass — wrong
    tool for a bounded drain.)
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        sessions = []
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        for t in sorted(ts_list):
            if last_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us >= gap_us:
                sessions.append((key[0], start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        # end-of-input flush of the open session (event-time timer analog)
        if n:
            sessions.append((key[0], start_us, last_us, n))
        state.remove()
        if sessions:
            yield pd.DataFrame(
                sessions, columns=["user_id", "start_us", "end_us", "n_events"]
            )

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts")
    out = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, start_us long, end_us long, n_events int",
        stateStructType="start_us long, last_us long, n_events int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "she_stream_user_session_state", "append", sf_dir)


@query("stream_sink_parquet", oracle=None, tags=("streaming", "sink"))
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file sink (Flink BucketingSink / 2PC analog):
    ``foreachBatch`` overwrites a PER-EPOCH directory (``epoch=<id>/``), so
    a retried micro-batch replaces its own partial output instead of
    double-appending — idempotent writes + the checkpoint commit log give
    exactly-once across restarts.
    """
    out = scratch_dir(spark, sf_dir, "sink")
    ev = read_events_stream(spark, sf_dir)
    filtered = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # overwrite of the epoch's own dir is the idempotence mechanism:
        # replaying epoch N after a crash rewrites epoch=N, never duplicates
        batch_df.write.mode("overwrite").parquet(f"{out}/data/epoch={epoch_id}")

    drain(filtered, sf_dir, write_epoch)
    return (
        spark.read.parquet(f"{out}/data")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )


@query("stream_stream_interval_join", oracle=None, tags=("streaming", "join"))
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (Flink JoinedStreams / DataStreamWindowJoin).

    Purchases joined to clicks by the same user within [-30 min, 0] of the
    purchase — both sides unbounded, watermarked; Spark buffers each side's
    state and evicts with the watermark + time-range condition. Batch
    analog with the same predicate: ``join_interval_events`` (oracle-checked).
    """
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts
            """
        ),
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts")
    return run_to_memory(joined, "she_stream_stream_interval_join", "append", sf_dir)


@query("stream_dedup_events", oracle=None, tags=("streaming", "dedup"))
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` on a keyed stream —
    state holds seen keys, the watermark bounds how long (Flink analog:
    keyed ValueState + event-time timer eviction).

    The streaming face of llm_dedup_exact_docs: the same operator an
    ingestion pipeline runs so repeated deliveries (at-least-once sources)
    collapse before they reach training data. Duplicate event_ids within
    the watermark horizon are dropped; counts per type then match the
    batch distinct.
    """
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique_events"))
    return run_to_memory(agg, "she_stream_dedup_events", "complete", sf_dir)


@query("stream_hop_15m", oracle=None, tags=("streaming",))
def stream_hop_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding (hopping) window agg — Flink SlidingEventTimeWindows
    / SQL HOP. Each event lands in 4 overlapping 1h windows on a 15m hop;
    batch analog win_hop_batch is the oracle-checked twin."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    return run_to_memory(agg, "she_stream_hop_15m", "complete", sf_dir)


@query("stream_session_native", oracle=None, tags=("streaming", "session"))
def stream_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (Flink EventTimeSessionWindows /
    SQL SESSION): ``session_window`` in a watermarked streaming groupBy —
    state merges adjacent sessions as events arrive. The stateful-process
    variant (stream_user_session_state) hand-rolls the same semantics;
    batch twin win_session_30m_batch carries the oracle."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, "she_stream_session_native", "complete", sf_dir)


@query(
    "stream_watermark_deadletter",
    oracle=None,
    tags=("streaming", "watermark", "sink"),
)
def stream_watermark_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data dead-letter sink — Flink's ``sideOutputLateData`` /
    ``allowedLateness`` side stream, which Spark lacks natively (documented
    divergence, SURVEY §4.2): watermark-late rows are dropped silently.

    Emulation via ``foreachBatch`` over the RAW stream: the job maintains
    the event-time watermark itself (max event time seen through the
    PREVIOUS batch minus the 1h delay — the same one-batch lag Spark's
    stateful operators apply), routes each batch's rows below that
    watermark to a side parquet (the dead letters) and the on-time rows to
    the main sink. Both writes are per-epoch overwrite directories
    (idempotent under micro-batch retry, as stream_sink_parquet). The
    watermark lives driver-side — foreachBatch runs on the driver, and at
    cluster scale this is the same place StreamExecution tracks it.

    Staged input = three files new→mid→old (as stream_watermark_drop), so
    batches 2 and 3 arrive entirely below the batch-1 watermark and land in
    the dead-letter sink deterministically. Returns the dead-letter rows —
    the stream a production pipeline would replay or audit.
    """
    base = scratch_dir(spark, sf_dir, "dlq")
    raw = _staged_events_stream(spark, sf_dir, "dlq")
    wm = {"us": None}  # event-time watermark in micros, None = not yet set

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        if wm["us"] is None:
            late = batch_df.limit(0)
            ontime = batch_df
        else:
            is_late = F.unix_micros(F.col("ts")) < F.lit(wm["us"])
            late = batch_df.filter(is_late)
            ontime = batch_df.filter(~is_late)
        late.select(cols).write.mode("overwrite").parquet(
            f"{base}/deadletter/epoch={epoch_id}"
        )
        ontime.select(cols).write.mode("overwrite").parquet(
            f"{base}/main/epoch={epoch_id}"
        )
        batch_max = batch_df.agg(F.max(F.unix_micros("ts"))).first()[0]
        if batch_max is not None:
            candidate = batch_max - 3600 * 1_000_000  # 1h allowed lateness
            wm["us"] = (
                candidate if wm["us"] is None else max(wm["us"], candidate)
            )

    drain(raw, sf_dir, route)
    return spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(f"{base}/deadletter")


@query("stream_upsert_snapshot", oracle=None, tags=("streaming", "sink", "upsert"))
def stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert sink (Flink upsert-kafka / JDBC upsert sink analog): a keyed
    aggregate stream materialized as a queryable latest-value table.

    Spark has no native upsert sink for files; the standard emulation is
    complete-mode aggregation + ``foreachBatch`` atomically replacing the
    snapshot (write temp dir, swap via rename). Each micro-batch publishes
    the full current state per key — exactly the changelog-to-table
    contract of Flink's upsert sinks, for dimension-sized outputs (the
    aggregate, not the raw stream, must fit the sink). Returns the final
    snapshot: per-user running totals after the bounded drain.
    """
    base = scratch_dir(spark, sf_dir, "upsert")
    ev = read_events_stream(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )

    def publish(batch_df: DataFrame, epoch_id: int) -> None:
        tmp = f"{base}/_staging_epoch_{epoch_id}"
        batch_df.write.mode("overwrite").parquet(tmp)
        live, retired = f"{base}/live", f"{base}/_retired_{epoch_id}"
        if os.path.exists(live):
            os.rename(live, retired)
        os.rename(tmp, live)  # atomic publish: readers see old or new, never mixed
        shutil.rmtree(retired, ignore_errors=True)

    drain(totals, sf_dir, publish, "complete")
    return spark.read.parquet(f"{base}/live")


@query("stream_async_enrich", oracle=None, tags=("streaming", "async"))
def stream_async_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async-I/O enrichment on an unbounded input — the streaming face of
    `enrich_async_orders_nation` (Flink: AsyncDataStream.orderedWait over a
    DataStream). ``mapInPandas`` composes with Structured Streaming
    unchanged: the async event loop runs per Arrow batch inside each
    micro-batch, so the same enrichment callable serves bounded and
    unbounded inputs — the hybrid promise again.

    The "service" is the deterministic broadcast dict (user → nation via
    customer), so streaming-vs-batch equivalence is assertable in tests.
    """
    from streamline_hybrid_engine_spark.operators.enrichment import async_enrich

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "n_name")
        .collect()
    )
    lookup = {r.c_custkey: r.n_name for r in dim}
    ev = read_events_stream(spark, sf_dir).select("event_id", "user_id")
    enriched = async_enrich(ev, "user_id", "nation", lookup)
    out = enriched.groupBy("nation").agg(F.count("*").alias("n_events"))
    return run_to_memory(out, "she_stream_async_enrich", "complete", sf_dir)


@query("stream_stream_left_join", oracle=None, tags=("streaming", "join", "outer"))
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the outer face of the windowed
    stream join (Flink's windowed outer joins). Purchases with their
    preceding clicks, KEEPING purchases that had none: outer rows can only
    emit once the watermark proves no match will arrive, so both
    watermarks + the time-range condition are mandatory (Spark rejects the
    query otherwise — state could never be evicted). NULL click_id marks
    the no-click purchases in the same result.
    """
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts
            """
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
    )
    out = run_to_memory(joined, "she_stream_left_join", "append", sf_dir)
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0)).alias(
            "n_unmatched"
        ),
    )


@query("stream_progress_metrics", oracle=None, tags=("streaming", "metrics"))
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming job observability (Flink's per-operator metrics / web UI
    counters, SURVEY §2.2's accumulator row extended to streams): run the
    watermarked tumbling aggregation over the 3-file staged stream and
    surface each micro-batch's PROGRESS RECORD — input rows, rows dropped
    by the watermark, state rows, and the event-time watermark itself —
    as a queryable DataFrame. This is the operational contract a pipeline
    owner actually monitors: batch 2 (the all-late file) must show its
    rows in ``dropped_by_watermark``, and the watermark must be
    non-decreasing across batches (both pinned by the test).

    Metrics come from ``StreamingQuery.recentProgress`` — the engine's
    own per-batch accounting (no second job, no sampling); at scale these
    records are what you ship to the metrics store, one row per
    micro-batch regardless of data volume.
    """
    ensure_runtime_confs(spark)
    raw = _staged_events_stream(spark, sf_dir, "metrics")
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = drain(agg, sf_dir, "she_stream_progress_metrics")
    rows = []
    for p in q.recentProgress or []:
        op = (p.get("stateOperators") or [{}])[0]
        rows.append(
            (
                int(p["batchId"]),
                int(p.get("numInputRows", 0)),
                int(op.get("numRowsDroppedByWatermark", 0)),
                int(op.get("numRowsTotal", 0)),
                str((p.get("eventTime") or {}).get("watermark", "")),
            )
        )
    return spark.createDataFrame(
        rows,
        "batch_id int, input_rows bigint, dropped_by_watermark bigint,"
        " state_rows bigint, watermark string",
    )


@query("stream_update_changelog", oracle=None, tags=("streaming", "changelog"))
def stream_update_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode as a changelog stream — the Flink
    ``toRetractStream`` / upsert-stream face (SURVEY §1.1 changelog row):
    each micro-batch emits ONLY the aggregate keys it changed, and a
    downstream consumer reconstructs the table by last-writer-wins over
    the (key, epoch) log — exactly the ``cdc_apply_latest`` pattern, here
    fed by the engine's own streaming output instead of an external CDC
    feed.

    Input is the 3-file staged stream (date-disjoint micro-batches), so
    update mode's selectivity is observable: each epoch's changelog
    carries only that file's (day, event_type) keys — complete mode would
    re-emit every key every epoch (the test pins the difference). The
    returned DataFrame is the reconstructed table: per (day, event_type)
    the latest count/sum, which must equal the batch aggregate.
    """
    ensure_runtime_confs(spark)
    base = scratch_dir(spark, sf_dir, "updlog")
    raw = _staged_events_stream(spark, sf_dir, "updlog")
    agg = (
        raw.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n", "sum_value")
    )

    def emit(batch_df: DataFrame, epoch_id: int) -> None:
        # per-epoch overwrite: the changelog write is idempotent under
        # epoch replay (same contract as stream_sink_exactly_once)
        batch_df.write.mode("overwrite").parquet(f"{base}/log/epoch={epoch_id}")

    drain(agg, sf_dir, emit, "update")
    from pyspark.sql import Window

    log = spark.read.parquet(f"{base}/log")  # partition col: epoch
    rk = F.row_number().over(
        Window.partitionBy("day_start", "event_type").orderBy(F.desc("epoch"))
    )
    return (
        log.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("day_start", "event_type", "n", "sum_value")
    )


@query("stream_dynamic_rules", oracle=None, tags=("streaming", "broadcast-state"))
def stream_dynamic_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic rule reconfiguration without restart — the Flink
    BROADCAST-STATE pattern (BroadcastProcessFunction: a low-volume
    control stream updates rules that a high-volume data stream is matched
    against). Spark's micro-batch analog needs no special state: each
    ``foreachBatch`` epoch RE-READS the current rules table (a tiny
    broadcast-joined snapshot), so a rules publish between epochs takes
    effect at the next micro-batch — the same freshness contract as
    Flink's broadcast channel, minus any custom operator.

    The job proves the reconfiguration in-band: epoch 0 runs with rule set
    v1 (flag events with value >= 8) and its commit PUBLISHES v2 (per-type
    thresholds, purchases >= 2); later epochs visibly match under v2. The
    returned DataFrame aggregates the per-epoch matched rows by
    (epoch, rule_version) — the test pins that epoch 0 used v1, epochs > 0
    used v2, and that every match satisfied its epoch's own rules.

    Scale: rules are dimension-sized (broadcast join per epoch); the data
    stream never shuffles; re-reading rules per epoch costs one tiny scan
    per micro-batch — the price of restart-free reconfiguration.
    """
    ensure_runtime_confs(spark)
    base = scratch_dir(spark, sf_dir, "rules")

    def publish_rules(version: int, rules: list[tuple[str, float]]) -> None:
        # atomic publish via temp-dir rename (same pattern as the upsert sink)
        tmp = f"{base}/_rules_staging_{version}"
        spark.createDataFrame(
            [(et, thr, version) for et, thr in rules],
            "event_type string, min_value double, rule_version int",
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        live, retired = f"{base}/rules", f"{base}/_rules_retired_{version}"
        if os.path.exists(live):
            os.rename(live, retired)
        os.rename(tmp, live)
        shutil.rmtree(retired, ignore_errors=True)

    # v1: one catch-all threshold per known type
    publish_rules(
        1, [(t, 8.0) for t in ("view", "click", "purchase", "signup", "error")]
    )

    def match_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        rules = F.broadcast(spark.read.parquet(f"{base}/rules"))
        matched = (
            batch_df.join(rules, "event_type")
            .filter(F.col("value") >= F.col("min_value"))
            .select(
                "event_id",
                "event_type",
                "value",
                "rule_version",
                F.lit(epoch_id).alias("epoch"),
            )
        )
        matched.write.mode("overwrite").parquet(f"{base}/out/epoch={epoch_id}")
        if epoch_id == 0:
            # the control-plane update: takes effect from the NEXT epoch
            publish_rules(2, [("purchase", 2.0), ("error", 0.0)])

    raw = _staged_events_stream(spark, sf_dir, "rules")
    drain(raw.select("event_id", "event_type", "value"), sf_dir, match_epoch)
    out = spark.read.parquet(f"{base}/out")  # partition col: epoch
    return (
        out.groupBy("epoch", "rule_version")
        .agg(
            F.count("*").alias("n_matched"),
            F.round(F.min("value"), 6).alias("min_matched_value"),
        )
        .select("epoch", "rule_version", "n_matched", "min_matched_value")
    )


#: RocksDB state store provider (SURVEY §4.1 checkpointing row) — Flink's
#: production state backend is RocksDB with incremental checkpoints; Spark
#: ships the same backend for Structured Streaming state. HDFS-backed
#: in-memory state (the default) holds every key on-heap; RocksDB spills to
#: local disk, which is what bounds executor memory when keyed state is
#: larger than RAM (the 100 TB sessionization/dedup case).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
#: The provider conf is read at stream start and pinned into the
#: checkpoint, so it is set (``pinned_confs``) before ``start()``, and a
#: restarted query keeps the provider it checkpointed with.
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@query("stream_state_store_read", oracle=None, tags=("streaming", "state"))
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable state (SURVEY §2.9's last "—" row): Flink exposed running
    keyed state to external point queries via the queryable-state service
    (flink-runtime .../query/). Spark's equivalent is the State Data
    Source: every stateful operator's store inside a checkpoint is
    readable as a batch DataFrame with ``spark.read.format("statestore")``
    — state becomes a TABLE you join/aggregate instead of a KV endpoint
    you probe (the scale-appropriate shape: state reads parallelize over
    the store's partitions instead of hammering one service).

    The job: per-(user, event_type) counts over the events stream,
    checkpointed; after the availableNow drain the state store itself is
    read back and flattened to scalar columns. The test asserts it equals
    the batch groupBy — state IS the aggregate's memory, so reading it
    must reproduce the aggregate.
    """
    ensure_runtime_confs(spark)
    base = scratch_dir(spark, sf_dir, "statestore")
    ev = read_events_stream(spark, sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    drain(counts, sf_dir, "she_state_src", "complete", checkpoint=base)
    state = spark.read.format("statestore").load(base)
    # key/value are structs in the OPERATOR's layout, not the query's: the
    # value carries the aggregation buffer's internal field names (count(*)
    # aliased `n` is stored as field `count`); contract output re-projects
    # to scalar columns per registry convention
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    )


@query("stream_sink_exactly_once", oracle=None, tags=("streaming", "sink", "2pc"))
def stream_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once sink contract (Flink TwoPhaseCommitSinkFunction): a
    replayed epoch must not duplicate rows. Spark's micro-batch analog of
    2PC is (epoch id + idempotent commit): foreachBatch receives a stable
    ``epoch_id`` per micro-batch, and the sink writes epoch ``N`` to a
    directory keyed by ``N`` with overwrite — committing the same epoch
    twice (the crash-between-commit-and-ack window 2PC exists for) lands
    on the same path and replaces itself.

    This query PROVES the property on the contract surface: drain the
    purchases stream through the idempotent sink, snapshot the sink's
    (row count, distinct event ids), then replay every epoch's commit a
    second time with identical data, and emit both snapshots plus the
    verdict — ``replay_is_noop`` must be true and n == distinct ids.
    """
    ensure_runtime_confs(spark)
    base = scratch_dir(spark, sf_dir, "e1x")
    ev = read_events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )

    def commit_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # phase-2 commit, idempotent by construction: the epoch's dir is
        # the transaction id; overwrite == re-commit replaces, never appends
        batch_df.write.mode("overwrite").parquet(f"{base}/data/epoch={epoch_id}")

    drain(purchases, sf_dir, commit_epoch)
    sink = spark.read.parquet(f"{base}/data")
    before = (
        sink.agg(
            F.count("*").alias("n_before"),
            F.countDistinct("event_id").alias("distinct_before"),
        )
        .localCheckpoint(eager=True)  # pin: must predate the replay
    )
    # replay: re-commit every epoch with identical data (what a recovering
    # driver does after a crash between commit and offset-log ack); the
    # epoch must be materialized BEFORE the overwrite deletes its files,
    # and re-read without partition discovery's synthetic `epoch` column
    for d in sorted(os.listdir(f"{base}/data")):
        if d.startswith("epoch="):
            eid = int(d.split("=")[1])
            replayed = (
                spark.read.parquet(f"{base}/data/{d}")
                .select("event_id", "user_id", "value")
                .localCheckpoint(eager=True)
            )
            commit_epoch(replayed, eid)
    after = spark.read.parquet(f"{base}/data").agg(
        F.count("*").alias("n_after"),
        F.countDistinct("event_id").alias("distinct_after"),
    )
    return before.crossJoin(after).select(
        "n_before",
        "n_after",
        "distinct_after",
        (
            (F.col("n_before") == F.col("n_after"))
            & (F.col("n_after") == F.col("distinct_after"))
        ).alias("replay_is_noop"),
    )


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENV-BLOCKED (not a registered contract query): arbitrary keyed
    state via the ``transformWithStateInPandas`` API
    (Spark 4's successor to ``applyInPandasWithState``, and the closest
    analog of Flink's ``KeyedProcessFunction`` with typed state
    descriptors): a per-user purchase profile — running count, running
    cents total, max single purchase — held in a typed ValueState that
    SURVIVES across micro-batches and is updated incrementally, with
    update-mode emission of only the keys each batch touched.

    Why this API at 100 TB: state lives in named, schema'd stores
    (ValueState/ListState/MapState with optional TTL) behind the RocksDB
    provider — keyed state larger than executor RAM spills to local disk
    with incremental checkpoints, the regime where the older
    applyInPandasWithState's single unnamed state tuple and the default
    on-heap HDFS backend both stop scaling. The input is the 3-file
    staged stream, so cross-batch state survival is observable: a user
    seen in batches 0 and 2 must emit a batch-2 row whose running count
    includes batch 0 (tests/test_streaming.py pins this against the
    batch groupBy).

    Env limit (why this is NOT in the contract registry): the TWS Python
    worker is a separate long-lived "driver worker" process that speaks
    protobuf to the JVM state server, so it hard-requires the
    ``google.protobuf`` package — absent in this container (verified:
    the stream fails at STREAMING_PYTHON_RUNNER_INITIALIZATION with
    ``ImportError: cannot import name 'descriptor' from
    'google.protobuf'``). Same policy as the Kafka/JDBC/Avro builders:
    the full implementation ships, the missing-dependency path raises a
    clear error, and tests/test_streaming.py pins whichever branch this
    environment can reach. applyInPandasWithState
    (``stream_user_session_state``) remains the registered custom-state
    contract row — it uses the classic Arrow worker protocol and needs no
    protobuf.
    """
    try:  # the TWS driver worker imports this lazily and then crashes the
        import google.protobuf  # noqa: F401, PLC0415
    except ImportError as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "transformWithStateInPandas requires the google.protobuf "
            "package for its Python state-server protocol; install "
            "protobuf to enable this operator (env-blocked here)"
        ) from e
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class PurchaseProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "profile", "n long, cents long, max_cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents, max_cents = 0, 0, 0
            if self._st.exists():
                n, cents, max_cents = self._st.get()
            for pdf in rows:
                c = (pdf["value"] * 100).round().astype("int64")
                n += len(pdf)
                cents += int(c.sum())
                if len(c):
                    max_cents = max(max_cents, int(c.max()))
            self._st.update((n, cents, max_cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_purchases": [n],
                    "total_cents": [cents],
                    "max_cents": [max_cents],
                }
            )

        def close(self) -> None:
            pass

    raw = _staged_events_stream(spark, sf_dir, "tws")
    purchases = raw.filter(F.col("event_type") == "purchase").select(
        "user_id", "value"
    )
    out = purchases.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PurchaseProfile(),
        outputStructType=(
            "user_id long, n_purchases long, total_cents long, max_cents long"
        ),
        outputMode="Update",
        timeMode="None",
    )
    with pinned_confs(spark, {PROVIDER_CONF: ROCKSDB_PROVIDER}):
        return run_to_memory(
            out,
            "she_stream_tws",
            "update",
            sf_dir,
        )


@query(
    "stream_dedup_within_watermark",
    oracle=None,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark`` —
    the 100 TB-correct form of stream_dedup_events. Plain streaming
    ``dropDuplicates`` keeps every seen key forever unless the event-time
    column is part of the key (state grows with the key universe — the
    classic unbounded-state leak of long-running ingestion jobs);
    WithinWatermark instead guarantees dedup only among events whose
    TIMESTAMPS differ by less than the watermark delay and EVICTS keys
    once the watermark passes them, so state is bounded by delay × rate
    regardless of the key universe. That matches what at-least-once
    sources actually need — redeliveries arrive close together — and is
    Flink's keyed-state + event-time-timer eviction made declarative.

    Same staged 3-file drain as the watermark jobs so eviction across
    micro-batches is exercised; output counts unique deliveries per type
    within the horizon.
    """
    raw = _staged_events_stream(spark, sf_dir, "dwm")
    deduped = raw.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_unique_events")
    )
    return run_to_memory(
        agg,
        "she_stream_dedup_within_watermark",
        "complete",
        sf_dir,
    )


@query(
    "stream_session_dynamic_gap",
    oracle=None,
    tags=("streaming", "session", "dynamic"),
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of win_session_dynamic_gap: ``session_window`` with a
    per-event gap EXPRESSION in a watermarked streaming groupBy —
    engagement events hold sessions open 60 minutes, passive ones 15.
    State-side this is the same merging-session store as the fixed-gap
    job; only the merge horizon varies per event (Flink analog:
    ``SessionWindowTimeGapExtractor``). The watermark delay must cover
    the LARGEST gap an event can contribute, or a still-open long-gap
    session could be finalized early — hence 60 minutes here. Batch twin
    carries the exact interval-merge oracle; streaming == batch
    equivalence is test-pinned."""
    ev = read_events_stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"),
        F.expr("make_interval(0, 0, 0, 0, 0, 60, 0)"),
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 15, 0)"))
    agg = (
        ev.withWatermark("ts", "60 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(
        agg,
        "she_stream_session_dynamic_gap",
        "complete",
        sf_dir,
    )


@query(
    "stream_stream_full_join",
    oracle=None,
    tags=("streaming", "join", "outer"),
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — both unmatched sides survive:
    purchases with no prior click AND clicks that converted to no
    purchase, in one result (the two-sided completion of
    stream_stream_left_join). Each side's unmatched rows emit only when
    ITS OWN watermark passes the row's join window, so both watermarks +
    the time-range condition are mandatory and state on both sides is
    evicted at the watermark — the same bounded-state discipline, twice.
    Flink analog: coGroup-based windowed full outer join.

    Output marks provenance: matched rows carry both ids; NULL click_id
    = un-clicked purchase; NULL purchase_id = un-converted click.
    """
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts
            """
        ),
        "fullOuter",
    ).select(
        "purchase_id",
        F.coalesce("p_user", "c_user").alias("user_id"),
        "click_id",
        "p_ts",
        "c_ts",
    )
    return run_to_memory(
        joined,
        "she_stream_stream_full_join",
        "append",
        sf_dir,
    )


DOCUMENTS_RAW_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a micro-batch stream (ingestion-pipeline face)."""
    ensure_runtime_confs(spark)
    return (
        spark.readStream.schema(DOCUMENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@query(
    "stream_dedup_minhash_lsh",
    oracle=None,
    tags=("streaming", "llm", "dedup", "state"),
)
def stream_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup dedup — the MinHash-LSH family's ingestion face
    (batch twin: llm_dedup_minhash_pairs on the same slice; equivalence is
    test-pinned).

    Pipeline: per-row band signatures (zero-shuffle fold,
    llm.dedup.per_row_band_signatures — a stream cannot run the batch
    path's unwatermarked shingle groupBy) → ONE shuffle keying each band
    row by its (band, bandsig) bucket → ``applyInPandasWithState`` holds
    per-bucket keyed state = the first-arrived doc_id; every later doc
    hitting the bucket is flagged as a near-dup THERE → the drained
    verdicts reduce to per-doc keep/drop (a doc is dropped if ANY of its
    bands hit an occupied bucket — same OR-over-bands rule that makes
    batch LSH candidates). First-arrival-wins is the streaming survivor
    rule (batch uses min doc_id; the bounded fixture drain arrives in
    doc_id order, so the two agree — the equivalence test relies on
    this).

    State per bucket is ONE long — |state| is bounded by the number of
    distinct band signatures, not the corpus. This variant holds buckets
    forever (NoTimeout): on an unbounded stream state grows with the
    signature universe — ``stream_dedup_minhash_lsh_ttl`` is the
    production form, evicting buckets via EventTimeTimeout once the
    watermark passes their horizon. Docs under 3 tokens have no
    shingles, enter no bucket, and are trivially kept (not emitted).
    Flink analog: keyed ProcessFunction holding a seen-signature
    ValueState per LSH bucket.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from streamline_hybrid_engine_spark.llm.dedup import per_row_band_signatures

    def bucket_keeper(key, pdfs, state: GroupState):
        first = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            rows.extend(pdf["doc_id"].tolist())
        rows.sort()  # within-batch arrival tiebreak: smallest doc_id wins
        out = []
        for doc_id in rows:
            out.append((int(doc_id), int(key[0]), first is not None))
            if first is None:
                first = int(doc_id)
        state.update((first,))
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "band", "hit_occupied"])

    bands = per_row_band_signatures(read_documents_stream(spark, sf_dir))
    verdicts = bands.groupBy("band", "bandsig").applyInPandasWithState(
        bucket_keeper,
        outputStructType="doc_id long, band int, hit_occupied boolean",
        stateStructType="first_doc long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory(
        verdicts,
        "she_stream_dedup_minhash_lsh",
        "append",
        sf_dir,
        table="documents",
    )
    # stateless post-reduction (downstream stage in production): OR the
    # per-band verdicts into the per-doc keep/drop decision
    return drained.groupBy("doc_id").agg(
        F.max("hit_occupied").alias("is_near_dup")
    )


#: TTL parameters for the evicting LSH dedup: a bucket lives HORIZON
#: beyond the event time of its last touch; the watermark trails the
#: stream by DELAY. Both are event-time quantities — no wall clock.
LSH_TTL_HORIZON_MS = 60 * 60 * 1000
LSH_TTL_DELAY = "10 minutes"

#: deterministic synthetic event time for the documents fixture (it has no
#: timestamp column): doc_id minutes after T0 — arrival order == event-time
#: order, the ingestion-stream shape. Pure function of doc_id, so it can be
#: re-derived after any projection.
LSH_TTL_T0 = "2024-01-01 00:00:00"
_INGEST_TS = (
    f"timestamp '{LSH_TTL_T0}' + make_interval(0, 0, 0, 0, 0, doc_id, 0)"
)


def staged_documents_stream(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """documents.parquet staged as three doc_id-range files (mtime-pinned
    ascending) read one file per micro-batch — with event time assigned as
    doc_id minutes, each batch covers a disjoint ascending time range, so
    the watermark advances between batches and event-time timers fire."""
    ensure_runtime_confs(spark)
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]  # 1-row scalar: split bounds
    stage = scratch_dir(spark, sf_dir, f"{tag}_stage")
    cut1, cut2 = hi // 3, 2 * hi // 3
    parts = (
        ("00_early", F.col("doc_id") <= cut1),
        ("01_mid", (F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        ("02_late", F.col("doc_id") > cut2),
    )
    now = time.time()
    for i, (name, cond) in enumerate(parts):
        docs.filter(cond).coalesce(1).write.parquet(f"{stage}/{name}")
        for f in os.listdir(f"{stage}/{name}"):
            os.utime(f"{stage}/{name}/{f}", (now + i * 10, now + i * 10))
    return (
        spark.readStream.schema(DOCUMENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )


def lsh_ttl_dedup(
    spark: SparkSession, sf_dir: str, progress_out: list | None = None
) -> DataFrame:
    """Shared implementation of ``stream_dedup_minhash_lsh_ttl`` — split
    out so tests can capture per-batch progress (state rows, watermark)
    through ``progress_out``, which receives the drain's recentProgress."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from streamline_hybrid_engine_spark.llm.dedup import per_row_band_signatures

    horizon_ms = LSH_TTL_HORIZON_MS

    def bucket_keeper(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # GC: the watermark passed this bucket's horizon
            return
        wm = state.getCurrentWatermarkMs()
        first, expiry = state.get if state.exists else (None, None)
        if expiry is not None and expiry <= wm:
            # stale on arrival (timer simply hasn't fired yet this batch,
            # or data and timer landed in the same batch): self-evict so
            # semantics depend on event time only, never on timer races
            first, expiry = None, None
        rows = []
        for pdf in pdfs:
            ms = (
                pd.to_datetime(pdf["ingest_ts"])
                .astype("datetime64[ns]")
                .astype("int64")
                // 1_000_000
            ).tolist()
            rows.extend(zip(pdf["doc_id"].tolist(), ms))
        rows.sort()  # ts is monotone in doc_id: arrival == event-time order
        out = []
        last_ms = None
        for doc_id, ms in rows:
            out.append((int(doc_id), int(key[0]), first is not None))
            if first is None:
                first = int(doc_id)
            last_ms = ms
        expiry = max(expiry or 0, last_ms + horizon_ms)
        state.update((first, expiry))
        state.setTimeoutTimestamp(max(expiry, wm + 1))
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "band", "hit_occupied"])

    bands = per_row_band_signatures(
        staged_documents_stream(spark, sf_dir, "lshttl")
    ).withColumn("ingest_ts", F.expr(_INGEST_TS))
    verdicts = (
        bands.withWatermark("ingest_ts", LSH_TTL_DELAY)
        .groupBy("band", "bandsig")
        .applyInPandasWithState(
            bucket_keeper,
            outputStructType="doc_id long, band int, hit_occupied boolean",
            stateStructType="first_doc long, expiry_ms long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    name = "she_stream_dedup_minhash_lsh_ttl"
    q = drain(verdicts, sf_dir, name, table="documents")
    if progress_out is not None:
        progress_out.extend(q.recentProgress or [])
    return spark.table(name).groupBy("doc_id").agg(
        F.max("hit_occupied").alias("is_near_dup")
    )


@query(
    "stream_dedup_minhash_lsh_ttl",
    oracle=None,
    tags=("streaming", "llm", "dedup", "state", "watermark"),
)
def stream_dedup_minhash_lsh_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup dedup with EVENT-TIME TTL eviction —
    the state-bounded production form of ``stream_dedup_minhash_lsh``
    (which holds buckets forever). Each band bucket's keyed state carries
    (first_doc, expiry); every touch extends expiry to event_time +
    1 hour; an EventTimeTimeout timer fires once the watermark (10 min
    delay) passes expiry and removes the bucket, so |state| is bounded by
    horizon × ingest rate instead of distinct-signatures-ever — the same
    discipline as ``stream_dedup_within_watermark``, applied to LSH
    buckets. A bucket touched by data AFTER its horizon self-evicts on
    arrival (checked against the current watermark), so dedup semantics
    are pure event-time — a near-dup is only suppressed if it lands
    within the horizon of the bucket's last occupant — and never depend
    on timer/data batch races. Event time is assigned deterministically
    (doc_id minutes after T0: the fixture carries no timestamps; no wall
    clock involved); the 3-file doc_id-range staging makes the watermark
    advance between micro-batches so eviction is actually exercised (the
    test pins streaming == a pure-Python watermark simulation, eviction
    count > 0, and final state rows < buckets touched). Flink analog:
    keyed ProcessFunction + event-time timer clearing ValueState."""
    return lsh_ttl_dedup(spark, sf_dir)


@query(
    "stream_ohlc_6h",
    oracle=None,
    tags=("streaming", "timeseries", "window"),
)
def stream_ohlc_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming candlesticks — the live face of ``ts_resample_ohlc``:
    watermarked 6-hour tumbling windows per user over purchase events,
    open/close via the same min_by/max_by-over-(ts, event_id) hash
    aggregate (both are declarative aggregates with partial merge, so
    they run in streaming state exactly like sum/count — each window
    holds ONE candidate struct per extreme, not the events). Window
    starts are epoch-aligned, so the batch twin's integer bucket key
    equals ``unix_seconds(window.start)`` — streaming == batch
    equivalence is test-pinned on that key. At scale this is the
    standard watermark + tumbling-agg state shape: state = open windows
    × users, evicted as the watermark passes."""
    ev = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.window("ts", "6 hours").alias("w"))
        .agg(
            F.round(F.min_by("value", tiebreak), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", tiebreak), 6).alias("close"),
            F.count("*").alias("n_trades"),
        )
        .select(
            "user_id",
            F.unix_seconds(F.col("w.start")).alias("bucket_start_s"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
        )
    )
    return run_to_memory(
        agg,
        "she_stream_ohlc_6h",
        "complete",
        sf_dir,
    )


@query("stream_rate_limited_backfill", oracle=None, tags=("streaming", "source"))
def stream_rate_limited_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited historical backfill — the kappa-architecture replay:
    reprocess a bounded lake directory THROUGH the streaming engine with
    source admission control (``maxFilesPerTrigger``), so a month of
    history cannot arrive as one giant micro-batch that overwhelms state
    stores and sinks. The events table is staged as 8 files and drained
    at 2 files/trigger under availableNow → exactly 4 micro-batches
    (asserted in the test); each batch's size is recorded via
    ``foreachBatch``, and the returned per-batch ledger certifies that
    (a) admission control actually split the backlog and (b) nothing
    was lost or duplicated across batches (Σ batch rows == table rows,
    test-pinned). At 100 TB the same two knobs (maxFilesPerTrigger /
    maxBytesPerTrigger) are how a backfill shares a cluster with the
    live stream; the checkpoint makes the replay resumable mid-backlog."""
    staged = scratch_dir(spark, sf_dir, "backfill")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(8).write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(spark.read.parquet(staged).schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(staged)
    )
    ledger: list[tuple[int, int]] = []

    def record(batch_df: DataFrame, epoch_id: int) -> None:
        ledger.append((int(epoch_id), batch_df.count()))

    drain(stream, sf_dir, record)
    return spark.createDataFrame(
        sorted(ledger), "batch_id bigint, n_rows bigint"
    )


@query("stream_checkpoint_resume", oracle=None, tags=("streaming", "checkpoint"))
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume across job restarts — THE streaming guarantee a
    migrating user depends on (Flink's savepoint/restore): a file-source
    job drains a directory under a checkpoint, STOPS, new files land,
    and a second run with the SAME checkpoint processes ONLY the new
    files — no reprocessing, no loss. Phase 1 stages events with
    event_id % 3 == 0, drains availableNow; phase 2 appends the
    remaining events and re-runs the identical query against the same
    checkpoint. The returned ledger (phase, n_rows, n_batches) lets the
    test pin phase2_rows == total − phase1_rows exactly — the
    exactly-once accounting across a restart. The checkpoint's source
    offsets (file listing position) are the whole mechanism; at scale
    the same restart works mid-backlog with maxFilesPerTrigger
    admission control (stream_rate_limited_backfill)."""
    base = scratch_dir(spark, sf_dir, "ckptres")
    data, ckpt = f"{base}/data", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.filter(F.col("event_id") % 3 == 0).write.mode("overwrite").parquet(data)

    counts: list[tuple[str, int, int]] = []

    def run(phase: str) -> None:
        batches: list[int] = []

        def record(batch_df: DataFrame, epoch_id: int) -> None:
            batches.append(batch_df.count())

        stream = spark.readStream.schema("event_id long, user_id long").parquet(data)
        drain(stream, sf_dir, record, checkpoint=ckpt)
        counts.append((phase, sum(batches), len(batches)))

    run("phase1")
    # new files land while the job is DOWN; mode=append on the same dir
    ev.filter(F.col("event_id") % 3 != 0).write.mode("append").parquet(data)
    run("phase2")
    return spark.createDataFrame(
        counts, "phase string, n_rows bigint, n_batches bigint"
    )


@query("stream_cusum_alarm", oracle=None, tags=("streaming", "stateful", "anomaly"))
def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of ts_cusum_alarm: per-user one-sided CUSUM drift
    detection as keyed state. Where the batch op exploits the prefix
    identity (two window frames), the stream carries EXACTLY the two
    longs the identity says are sufficient state — running sum C and its
    running minimum — plus the alarm summary; each event is O(1). Same
    parameters (target+slack 55.0, h 100.0, in micros) and same output
    schema as the batch op, so the suite pins stream≡batch equivalence
    on the bounded drain. Events are ordered (us, event_id) within the
    drain — the bounded-input stand-in for event-time ordering; a
    production stream would buffer per watermark first (the
    stream_watermark_drop pattern). End-of-input flushes the summary,
    as in stream_user_session_state."""
    import math

    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    target_us, h_us = 55_000_000, 100_000_000

    def cusum(key, pdfs, state: GroupState):
        if state.exists:
            cum, minc, n_pts, n_al, first_us = state.get
        else:
            cum, minc, n_pts, n_al, first_us = 0, 0, 0, 0, None
        rows = []
        for pdf in pdfs:
            for t, v, e in zip(
                pd.to_datetime(pdf["ts"]), pdf["value"], pdf["event_id"]
            ):
                # half-up like Spark's round(), not Python's banker's round
                rows.append((int(t.value // 1000), int(e), math.floor(v * 1_000_000 + 0.5)))
        for us, _eid, v_us in sorted(rows):
            cum += v_us - target_us
            minc = min(minc, cum)
            n_pts += 1
            if cum - min(0, minc) > h_us:
                n_al += 1
                if first_us is None:
                    first_us = us
        state.update((cum, minc, n_pts, n_al, first_us))
        if n_pts:
            yield pd.DataFrame(
                [(key[0], n_pts, n_al, first_us)],
                columns=["user_id", "n_points", "n_alarms", "first_alarm_us"],
            )

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    out = ev.groupBy("user_id").applyInPandasWithState(
        cusum,
        outputStructType=(
            "user_id long, n_points long, n_alarms long, first_alarm_us long"
        ),
        stateStructType=(
            "cum long, minc long, n_points long, n_alarms long, first_us long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(
        out, "she_stream_cusum_alarm", "append", sf_dir
    )


@query("stream_topk_foreachbatch", oracle=None, tags=("streaming", "sink"))
def stream_topk_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 maintenance across micro-batches via foreachBatch:
    each epoch merges its batch's candidates into a driver-held top-K
    ledger (merge = union → re-rank → truncate: K-bounded state, the
    classic streaming top-K accumulator — contrast with complete-mode
    aggregation, which would hold EVERY key's state to re-emit rank).
    Bounded drain over the events lake; the suite pins the final
    ledger equals the batch top-10 (same tiebreak), the hybrid
    batch≡stream identity every streaming face here carries. K-bounded
    merges are associative, so the same callable distributes over
    arbitrary epoch boundaries — re-chunking the stream cannot change
    the answer."""
    import heapq
    import math

    ledger: list = []  # (value_micros, -event_id) max-ish via heapq of negatives

    def merge_topk(batch_df: DataFrame, _epoch: int) -> None:
        rows = (
            batch_df.select("event_id", "user_id", "value")
            .orderBy(F.col("value").desc(), F.col("event_id"))
            .limit(10)
            .collect()
        )
        for r in rows:
            # half-up like Spark round(), not Python banker's rounding
            v = math.floor(r["value"] * 1_000_000 + 0.5)
            heapq.heappush(ledger, (v, -int(r["event_id"]), int(r["user_id"])))
            if len(ledger) > 10:
                heapq.heappop(ledger)

    ev = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    drain(ev, sf_dir, merge_topk)
    out = sorted(ledger, key=lambda t: (-t[0], -t[1]))
    return spark.createDataFrame(
        [(-(neg_id), uid, v) for v, neg_id, uid in out],
        "event_id long, user_id long, value_micros long",
    )


@query("stream_dsir_filter", oracle=None, tags=("streaming", "llm", "hybrid"))
def stream_dsir_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR scoring: the online half of importance-resampled
    corpus construction. The hashed-unigram model (the 128-row
    (bucket, score_q8) table from ``llm_importance_dsir``) is fit ONCE
    on the static seed corpus, then every arriving document is scored
    per micro-batch — explode, bucket, broadcast-join the model, one
    stateful per-doc sum — so an ingestion pipeline can route
    target-like docs (dsir_q8 >= 0) to the training corpus as they
    land, without rescanning history. Hybrid batch-stream like
    stream_static_enrich: the model is the static build side; the
    stream is never shuffled except by the doc_id state aggregate.
    Unseen-bucket tokens (hash buckets the static seed corpus never
    occupied) still COUNT toward n_tokens and contribute score 0 —
    a bucket the model knows nothing about is uninformative, not
    absent (LEFT join + coalesce; the first cut's inner join silently
    dropped such tokens from both outputs, which undercounts whenever
    the seed corpus is smaller than the stream's vocabulary — the
    fixture occupies all 128 buckets, so only a sparse real seed hits
    it). Rows-only by design (streaming drain); equivalence to the
    batch id on the same fixture is test-pinned (complete-mode drain
    == batch llm_importance_dsir restricted to the same columns)."""
    from ..llm.selection import bucketize_tokens, dsir_score_table

    model = dsir_score_table(load_table(spark, sf_dir, "documents"))
    docs = read_documents_stream(spark, sf_dir)
    scored = (
        bucketize_tokens(docs)
        .join(F.broadcast(model), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("score_q8", F.lit(0)))
            .cast("long")
            .alias("dsir_q8"),
        )
    )
    return run_to_memory(
        scored,
        "she_stream_dsir_filter",
        "complete",
        sf_dir,
        table="documents",
    )


@query(
    "stream_perplexity_router", oracle=None, tags=("streaming", "llm", "hybrid")
)
def stream_perplexity_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CCNet staging: route arriving documents to head/middle/
    tail quality tiers using TERCILE THRESHOLDS fit batch-side (the
    `llm_perplexity_buckets` boundaries) — the deployment mode of
    quantile bucketing at 100 TB, where the online path cannot rank
    against history and instead compares each doc's score to frozen
    per-lang cut points (score <= head_hi -> head, <= middle_hi ->
    middle, else tail; boundary ties route LOW, so routed counts may
    differ from exact batch terciles exactly at tied cut points — the
    documented semantic gap between rank- and threshold-bucketing).

    Sparse-language edges (both deliberate): a language with fewer
    than 3 batch docs has no middle tercile, so its middle cut point
    coalesces down to head_hi — the middle band is EMPTY (docs above
    head_hi route straight to tail), never a NULL comparison silently
    skipping a branch. A language the batch corpus has never seen has
    NO cut points at all; the inner threshold join drops its docs —
    routing an unknown language anywhere would be arbitrary, and the
    production fix is refreshing the cut table, not guessing.

    Static side: the unigram vocab model (token counts + corpus total;
    stats-driven broadcast <-> shuffle like the batch id) and the
    3-rows-per-lang threshold table (always broadcast). Stream side:
    explode -> vocab join (unseen tokens OOV-drop, the llm_vocab_oov
    convention) -> per-doc stateful score -> broadcast threshold join
    -> per-(lang, route) complete-mode counts. Per-route score bounds
    vs the batch boundaries are test-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = toks.groupBy("t").agg(F.count("*").alias("cnt"))
    n = toks.agg(F.count("*").alias("total"))
    cuts = (
        get_query("llm_perplexity_buckets")
        .fn(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.max(F.when(F.col("bucket") == "head", F.col("hi_micro"))).alias(
                "head_hi"
            ),
            F.max(
                F.when(F.col("bucket") == "middle", F.col("hi_micro"))
            ).alias("middle_hi"),
        )
    )
    stream = read_documents_stream(spark, sf_dir)
    scored = (
        stream.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("t")
        )
        .join(vocab, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "lang",
            (F.length(F.bin(F.expr("total div cnt"))) - 1).alias("bits"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.expr(
                "CAST((sum(CAST(bits AS DECIMAL(38,0))) * 1000000)"
                " div count(*) AS BIGINT)"
            ).alias("mean_micro")
        )
    )
    routed = scored.join(F.broadcast(cuts), "lang").select(
        "lang",
        "mean_micro",
        # middle_hi coalesces to head_hi for <3-doc languages: the
        # middle band collapses to empty instead of a NULL comparison
        # skipping the branch (docstring, sparse-language edges)
        F.when(F.col("mean_micro") <= F.col("head_hi"), "head")
        .when(
            F.col("mean_micro")
            <= F.coalesce(F.col("middle_hi"), F.col("head_hi")),
            "middle",
        )
        .otherwise("tail")
        .alias("route"),
    )
    # ONE stateful operation on the stream (the per-doc score agg); the
    # per-(lang, route) rollup runs batch-side on the drained table —
    # Spark's multiple-stateful-operator correctness check rejects
    # chained stateful aggregates on an unwatermarked stream, and the
    # rollup needs no stream state anyway.
    drained = run_to_memory(
        routed,
        "she_stream_perplexity_router",
        "complete",
        sf_dir,
        table="documents",
    )
    return drained.groupBy("lang", "route").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("mean_micro").alias("lo_micro"),
        F.max("mean_micro").alias("hi_micro"),
    )
