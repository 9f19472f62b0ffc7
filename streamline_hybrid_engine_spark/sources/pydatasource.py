"""Custom data source via the Python Data Source API — SURVEY §2.1.

Reference analog: Flink's user-defined ``InputFormat`` (FileInputFormat
subclasses, ~900 LoC base) — the extension point users implement to read
bespoke formats/systems. Spark 4's equivalent is the Python Data Source
API (``pyspark.sql.datasource``): declare schema, enumerate
InputPartitions (the split/parallelism contract, = Flink's
``createInputSplits``), and yield rows per partition — the engine handles
scheduling, Arrow transfer, and composition with the whole relational
surface.

The demo source generates deterministic synthetic telemetry (multiplicative
-hash scores), so the full path — partition planning, per-partition
generation, downstream aggregation — is oracle-checkable against DuckDB
``generate_series`` arithmetic. A real connector (REST pages, message
queue, proprietary format) swaps the generator loop only.

Scale notes: partitions are independent generator tasks (no driver
bottleneck, no shuffle until the query asks for one); options flow from
``.option(...)`` so parallelism is caller-controlled. Python-side row
generation is the honest cost of the extension point — columnar/Arrow
batch yield (``read`` returning pyarrow batches) is the fast path when
the source format supports it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from streamline_hybrid_engine_spark.catalog import (
    ROWS_PER_STATE_PARTITION,
    partition_width,
)
from streamline_hybrid_engine_spark.registry import query
from streamline_hybrid_engine_spark.session import pinned_confs

N_ROWS = 10_000
N_PARTS = 8
MULT = 2654435761  # Knuth multiplicative hash constant
MOD = 1_000_003


def _register(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _Part(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class SyntheticTelemetryReader(DataSourceReader):
        def __init__(self, options) -> None:
            self.n = int(options.get("n", N_ROWS))
            self.parts = int(options.get("partitions", N_PARTS))

        def partitions(self):
            step = -(-self.n // self.parts)  # ceil
            return [
                _Part(i * step, min((i + 1) * step, self.n))
                for i in range(self.parts)
                if i * step < self.n
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i, i % 7, (i * MULT) % MOD)

    class SyntheticTelemetrySource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_telemetry"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, score BIGINT"

        def reader(self, schema):
            return SyntheticTelemetryReader(self.options)

    # re-registering the same name is an overwrite, not an error (verified
    # on PySpark 4.1) — no except needed; real failures must propagate
    spark.dataSource.register(SyntheticTelemetrySource)


@query(
    "scan_python_datasource",
    oracle=f"""
    SELECT CAST(i % 7 AS INT) AS bucket,
           count(*) AS n,
           CAST(sum((i * {MULT}) % {MOD}) AS BIGINT) AS sum_score,
           CAST(max((i * {MULT}) % {MOD}) AS BIGINT) AS max_score
    FROM (SELECT unnest(range(0, {N_ROWS})) AS i)
    GROUP BY bucket
    """,
    tags=("sources", "datasource"),
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source end to end: register the format, read it
    with caller-chosen partitioning, aggregate downstream like any table.
    The oracle recomputes the deterministic generator arithmetically, so
    partition planning + per-partition generation + Arrow handoff are all
    value-checked."""
    _register(spark)
    df = (
        spark.read.format("synthetic_telemetry")
        .option("n", str(N_ROWS))
        .option("partitions", str(N_PARTS))
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("score").alias("sum_score"),
        F.max("score").alias("max_score"),
    )


# ---------------------------------------------------------------------------
# Blob store source: BinaryType payloads + typed metadata (SURVEY §4.2's
# "v2 DataSource for multimodal blobs", realized on the Python DS API)

MODALITIES = ("image", "audio", "video")
BLOBS_PER_MODALITY = 200
BLOB_SHARDS = 4  # partitions per modality — 12 independent read tasks


def _blob_bytes(modality: str, blob_id: int) -> bytes:
    """Deterministic ASCII payload: the repeated '<modality>-<id>-' tag
    truncated to 64 + (id*37 mod 448) bytes — reproducible from the row
    KEY alone, so the oracle can rebuild and hash the exact bytes."""
    n = 64 + (blob_id * 37) % 448
    pat = f"{modality}-{blob_id}-"
    return (pat * (n // len(pat) + 1))[:n].encode("ascii")


def _register_blob(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _BlobPart(InputPartition):
        def __init__(self, modality: str, mi: int, start: int, end: int) -> None:
            self.modality, self.mi = modality, mi
            self.start, self.end = start, end

    class BlobStoreReader(DataSourceReader):
        def __init__(self, options) -> None:
            self.per_mod = int(options.get("per_modality", BLOBS_PER_MODALITY))
            self.shards = int(options.get("shards", BLOB_SHARDS))

        def partitions(self):
            step = -(-self.per_mod // self.shards)  # ceil
            return [
                _BlobPart(m, mi, s, min(s + step, self.per_mod))
                for mi, m in enumerate(MODALITIES)
                for s in range(0, self.per_mod, step)
            ]

        def read(self, part):
            for j in range(part.start, part.end):
                blob_id = part.mi * self.per_mod + j
                yield (blob_id, part.modality, _blob_bytes(part.modality, blob_id))

    class BlobStoreSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "blob_store"

        def schema(self) -> str:
            return "blob_id BIGINT, modality STRING, payload BINARY"

        def reader(self, schema):
            return BlobStoreReader(self.options)

    # re-registering the same name is an overwrite, not an error (verified
    # on PySpark 4.1) — no except needed; real failures must propagate
    spark.dataSource.register(BlobStoreSource)


@query(
    "scan_blob_datasource",
    oracle=f"""
    WITH b AS (
      SELECT m.modality, m.mi * {BLOBS_PER_MODALITY} + j.j AS blob_id
      FROM (VALUES ('image', 0), ('audio', 1), ('video', 2)) m(modality, mi),
           (SELECT unnest(range(0, {BLOBS_PER_MODALITY})) AS j) j
    )
    SELECT blob_id, modality,
           CAST(64 + (blob_id * 37) % 448 AS BIGINT) AS n_bytes,
           md5(substr(repeat(modality || '-' || blob_id || '-', 64),
                      1, 64 + (blob_id * 37) % 448)) AS payload_md5
    FROM b
    """,
    tags=("sources", "datasource", "multimodal"),
)
def scan_blob_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom BLOB source: BinaryType payloads with typed metadata through
    the Python Data Source API — the multimodal ingestion face of
    `scan_python_datasource` (SURVEY §4.2's "v2 DataSource for multimodal
    blobs"). Partition planning is (modality × shard): 12 independent read
    tasks, no driver bottleneck, exactly how a real object-store listing
    would shard (prefix × key range); a real connector swaps
    `_blob_bytes` for a GET.

    The contract row hashes every payload (`md5` over the BINARY column,
    JVM-side) next to its byte length; the oracle rebuilds the exact bytes
    from the row key and hashes the same string — so the check covers the
    full path: split planning, per-partition generation, Arrow binary
    transfer, and byte-precise payload integrity. The mm_* kernels
    (`mm_decode_meta`, `mm_ahash_dedup`) consume exactly this column
    shape downstream.
    """
    _register_blob(spark)
    df = spark.read.format("blob_store").load()
    return df.select(
        "blob_id",
        "modality",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


#: batches emitted by the streaming source before it idles (bounded so the
#: availableNow-style drain below terminates deterministically)
STREAM_BATCHES = 5
STREAM_ROWS_PER_BATCH = 200


def _register_stream(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class TelemetryStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked micro-batch reader: offset = rows emitted so far.
        ``read(start)`` advances one deterministic batch;
        ``readBetweenOffsets`` replays any committed range exactly —
        REPLAYABILITY is the whole exactly-once contract of the API
        (a failed batch is re-read from its offsets, same rows)."""

        def initialOffset(self) -> dict:
            return {"pos": 0}

        def _rows(self, start: int, end: int):
            # an ITERATOR over a list: the wrapper calls next() on an
            # exhausted batch to validate the offset didn't advance, and
            # pickles cached batches for executor replay — a generator
            # fails the pickle, a bare list fails the next(); a list
            # iterator satisfies both
            return iter([(i, i % 7, (i * MULT) % MOD) for i in range(start, end)])

        def read(self, start: dict):
            pos = start["pos"]
            cap = STREAM_BATCHES * STREAM_ROWS_PER_BATCH
            end = min(pos + STREAM_ROWS_PER_BATCH, cap)
            return self._rows(pos, end), {"pos": end}

        def readBetweenOffsets(self, start: dict, end: dict):
            return self._rows(start["pos"], end["pos"])

    class TelemetryStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_telemetry_stream"

        def schema(self) -> str:
            return "id BIGINT, bucket INT, score BIGINT"

        def simpleStreamReader(self, schema):
            return TelemetryStreamReader()

    # re-registering the same name is an overwrite, not an error (verified
    # on PySpark 4.1) — no except needed; real failures must propagate
    spark.dataSource.register(TelemetryStreamSource)


@query(
    "stream_python_datasource",
    oracle=None,
    tags=("streaming", "sources", "pydatasource"),
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom source via the Python Data Source API
    (``simpleStreamReader`` — Spark 4): the streaming face of
    scan_python_datasource. The reader tracks a monotonic offset dict,
    emits one deterministic batch per trigger, and supports
    ``readBetweenOffsets`` replay — the property that makes a custom
    source exactly-once restartable (a failed epoch re-reads its exact
    offset range). Flink analog: a user ``SourceFunction`` with
    checkpointed offsets.

    The drain stops when the bounded source stops advancing (5 batches ×
    200 rows); the aggregate over the drained rows equals the batch
    source's over the same id range — test-pinned, since the generator
    arithmetic is shared. Scale: the simple reader API is
    driver-executed prefetch with executor replay via
    readBetweenOffsets; for high-throughput partitioned sources the full
    ``streamReader`` (per-partition offsets) is the production path —
    same registration surface."""
    import tempfile
    import time

    from streamline_hybrid_engine_spark.streaming.jobs import ckpt_root

    _register_stream(spark)
    raw = spark.readStream.format("synthetic_telemetry_stream").load()
    agg = raw.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("score").alias("sum_score"),
    )
    name = "she_stream_pyds"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    # custom drain: a simple stream reader prefetches ONE batch per
    # trigger, so availableNow stops after the first 200 rows; run a
    # continuous micro-batch trigger until the bounded source stops
    # advancing (two consecutive empty batches), then stop. Bounded by
    # the source itself (5 batches) + a 120 s hard cap. The state width
    # follows the source's row count, like the events drains
    # (streaming.jobs.drain_pin); the pin is restored even when the
    # drain fails mid-way.
    drained = 0
    cap = STREAM_BATCHES * STREAM_ROWS_PER_BATCH
    width = partition_width(spark, cap, ROWS_PER_STATE_PARTITION)
    with pinned_confs(
        spark, {"spark.sql.shuffle.partitions": str(width)}
    ), tempfile.TemporaryDirectory(
        dir=ckpt_root(), prefix=f"she_ckpt_{name}_"
    ) as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        # the source is bounded and its total is known — drain until
        # the complete-mode sink holds every row (idle triggers
        # commit no new batch, so "N empty batches" never observably
        # happens), with a hard deadline as the safety net
        deadline = time.time() + 120
        while time.time() < deadline:
            time.sleep(0.2)
            try:
                drained = (
                    spark.table(name).agg(F.sum("n")).collect()[0][0] or 0
                )
            except AnalysisException:
                # memory sink table not materialized yet (first batch
                # pending) — anything else is a real failure and
                # propagates
                drained = 0
            if drained >= cap:
                break
        q.stop()
        q.awaitTermination()
    if drained < cap:
        raise TimeoutError(
            f"bounded stream drained only {drained}/{cap} rows before the "
            "120 s deadline — refusing to return a silently-partial table"
        )
    return spark.table(name)
