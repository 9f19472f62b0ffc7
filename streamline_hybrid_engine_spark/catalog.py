"""Fixture-lake catalog: loads the 10 test tables and registers temp views.

Reference analog: Flink's ``TableEnvironment`` catalog + ``TableSource``
registration (SURVEY §1.1, §2.1). Here a table IS a DataFrame; registration
is ``createOrReplaceTempView`` so every query can use either the fluent API
or ``spark.sql`` — the two entry points are the same object (SURVEY §3.4).

Scale notes (100 TB design point):
- Reads are plain ``spark.read.parquet`` → vectorized columnar scan with
  predicate pushdown + column pruning; at cluster scale the same loader
  works on a partitioned lake directory unchanged.
- The ``events.ts`` nanos→micros conversion is a column expression (JVM,
  codegen) — zero Python in the path.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from streamline_hybrid_engine_spark.session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS) (FIXTURES.md ⚠).

    Three reader behaviors exist across Spark 4.x builds, all handled:
    with ``spark.sql.legacy.parquet.nanosAsLong=true`` honored the column
    arrives as LongType nanos — truncate to micros (exact; the oracle
    compares at micro precision) and rebuild a timestamp; newer builds read
    nanos natively as TIMESTAMP_NTZ truncated to micros — cast to the
    session-timezone TimestampType (exact under the pinned UTC session) so
    the engine's schema contract is stable across builds; a build that
    refuses the file entirely falls back to an arrow round-trip via pyarrow
    (small table; fallback only).
    """
    try:
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type in ("bigint", "long"):
            # integral `div`, NOT `/`: float division of ~1.7e18 nanos exceeds
            # double's 2^53 mantissa and corrupts the microsecond digit.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    except Exception:
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        pdf = t.to_pandas()
        pdf["ts"] = pdf["ts"].dt.floor("us")
        return spark.createDataFrame(pdf)


#: Per-(session, sf_dir, table) DataFrame-object cache. A DataFrame is an
#: immutable logical plan, so handing the same object to every query is safe
#: and skips the per-call parquet footer read + analysis that dominated the
#: driver's 96-query correctness sweep (VERDICT r01 §next-round #1). Keyed on
#: applicationId so a restarted session never sees stale plans.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}
#: Scan partition counts (physical planning via df.rdd is not free either).
_NPARTS_CACHE: dict[tuple[str, str, str], int] = {}
#: Sessions whose runtime confs were already pinned.
_CONFED: set[str] = set()
#: (session, sf_dir) pairs already warmed (persisted) via :func:`warm`.
_WARMED: set[tuple[str, str]] = set()


def _key(spark: SparkSession, sf_dir: str, name: str = "") -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, os.path.realpath(sf_dir), name)


#: Input rows per state partition of a stateful drain. Every micro-batch
#: opens and commits each state partition's store, a fixed cost per
#: partition, so a drain is only as wide as its input needs. Measured on
#: the events drain: r9's width sweep found the knee at 8 on sf0.1
#: (100,000 events; widths 1/2/4/8/16 -> 57/60/71/79/46 k events/s), and
#: an interleaved A/B on sf0.01 (10,000 events) found width 1 best
#: (1.12 s against 1.18 s at 4 and 1.34 s at 8). 12,500 rows gives 8 and
#: 1 on those inputs.
ROWS_PER_STATE_PARTITION = 12_500
#: Edge rows per task of a graph loop round (CC, LPA). Not a swept
#: figure: it is the r2 CC sizing estimate (1M two-long edge rows are
#: ~16 MB of join input, so a round's per-task join and aggregate state
#: stays in tens of MB). Every fixture and benchmark graph is far below
#: one task's share, so no sweep here can move it.
EDGES_PER_LOOP_TASK = 1_000_000


def partition_width(spark: SparkSession, n: int | None = None, per_task: int = 1) -> int:
    """The package's one partition-count rule: ``ceil(n / per_task)``,
    at least 1 and at most the session's cores. A caller that knows no
    size (``n is None``) gets the core count. No floor and no cap besides
    those two, so a small input runs narrow and a large one fills the
    cluster."""
    cores = spark.sparkContext.defaultParallelism
    if n is None:
        return cores
    return max(1, min(cores, -(-n // per_task)))


#: Per-session scratch roots, each removed when the process exits.
_SCRATCH_ROOTS: set[str] = set()


def scratch_path(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Where the scratch directory ``tag`` over ``sf_dir`` lives: under a
    root keyed by the session's applicationId, so concurrent sessions on
    one fixture never race on one directory and a dead session's files
    cannot leak into a live one's read-back. The root goes when the
    process exits."""
    root = os.path.join(
        tempfile.gettempdir(), f"she_{spark.sparkContext.applicationId}"
    )
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, True)
    return os.path.join(root, f"{tag}_{os.path.basename(sf_dir)}")


def scratch_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """The empty directory :func:`scratch_path` names, for a query that
    writes files and reads them back."""
    path = scratch_path(spark, sf_dir, tag)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def table_rows(sf_dir: str, name: str) -> int:
    """A table's row count from its parquet footer: no Spark job."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load one fixture table; ``parallel=True`` fans the scan out to the
    compute width (:func:`_fan_out`) for compute-bound downstream work."""
    app = spark.sparkContext.applicationId
    if app not in _CONFED:  # once per session, not per call (py4j round trips)
        ensure_runtime_confs(spark)  # required on foreign (driver) sessions
        _CONFED.add(app)
    key = _key(spark, sf_dir, name)
    df = _DF_CACHE.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = _load_events(spark, path) if name == "events" else spark.read.parquet(path)
        _DF_CACHE[key] = df
    return _fan_out(df, key) if parallel else df


def warm(spark: SparkSession, sf_dir: str, persist_limit_bytes: int = 1 << 28) -> None:
    """Persist the fixture tables in memory for a many-query sweep.

    Intended for the driver's correctness gate (96 queries against the same
    sf0.01 directory): after ``warm``, every ``load_table`` serves an
    in-memory relation, so per-query cost is plan+execute only. Persistence
    is OPT-IN (only ``__spark_entry__.queries`` calls this) because cached
    scans replace the FileSourceScan node and would defeat the pushdown /
    pruning plan assertions in tests/test_plans.py — and at real scale you
    would not cache a 100 TB lake. Skipped entirely when the directory
    exceeds ``persist_limit_bytes`` (don't pin a bench-sized lake in RAM).
    Lazy: each table materializes on first use.
    """
    key = _key(spark, sf_dir)[:2]
    if key in _WARMED:
        return
    _WARMED.add(key)
    try:
        total = sum(
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        return
    if total > persist_limit_bytes:
        return
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name).persist()


def _fan_out(df: DataFrame, key: tuple[str, str, str] | None = None) -> DataFrame:
    """Round-robin a scan up to the compute width for compute-bound map work.

    Single-file fixtures are one parquet row group, so the scan yields ONE
    task and per-row compute (md5 shingling, cosine math, tokenization)
    serializes on one core. When the scan has fewer splits than the
    compute width, buy parallelism with one round-robin shuffle of the
    input; when the lake already provides enough splits — the 100 TB case,
    thousands of row groups — this is a NO-OP, so the extra exchange never
    appears in the at-scale plan. (AQE cannot help here: it only re-plans
    existing shuffles, it cannot split a row group.) The split count is
    not the footer's row-group count (a file of 8 row groups can plan as
    one split), so it comes from the planned scan, cached per ``key``.
    """
    n = _NPARTS_CACHE.get(key) if key else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key:
            _NPARTS_CACHE[key] = n
    target = partition_width(df.sparkSession)
    return df.repartition(target) if n < target else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables; pins runtime confs on the session first."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views (idempotent)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
