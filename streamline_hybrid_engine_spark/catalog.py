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

import os

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


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load one fixture table; ``parallel=True`` routes the scan through
    :func:`parallelize_compute` for compute-bound downstream operators."""
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
    if not parallel:
        return df
    n = _NPARTS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _NPARTS_CACHE[key] = n
    target = spark.sparkContext.defaultParallelism
    return df.repartition(target) if n < target else df


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


def parallelize_compute(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure a scan has enough partitions for compute-bound map work.

    Single-file fixtures are one parquet row group, so the scan yields ONE
    task and per-row compute (md5 shingling, cosine math, tokenization)
    serializes on one core. When input-split parallelism is below the
    session default, buy parallelism with one round-robin shuffle of the
    input; when the lake already provides enough splits — the 100 TB case,
    thousands of row groups — this is a NO-OP, so the extra exchange never
    appears in the at-scale plan. (AQE cannot help here: it only re-plans
    existing shuffles, it cannot split a row group.)
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def keyed_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Pin a group-key shuffle at full width for Python-heavy group ops.

    AQE's coalescePartitions sizes shuffle reads by BYTES; the Python cost
    of a downstream ``applyInPandas`` is invisible to it, so a small-but-
    compute-heavy keyed stage gets coalesced onto one task and serializes
    on a single Python worker (measured 3.7× on the CEP NFA at sf0.1). An
    explicit numbered ``repartition(n, keys)`` is exempt from AQE
    coalescing; the groupBy then reuses the partitioning (no second
    shuffle). At cluster scale the keyed shuffle is already wide, so the
    pin is a no-op in spirit — n tracks ``defaultParallelism``.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables; pins runtime confs on the session first."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views (idempotent)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
