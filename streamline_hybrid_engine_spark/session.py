"""SparkSession factory with pinned configs.

The reference (Flink 1.x) pins its runtime behavior via flink-conf.yaml
(managed memory fractions, network buffers). Our equivalent is a small set
of SQL configs chosen for correctness-vs-oracle and for 100 TB scale-out:

- ANSI on (Spark 4 default): matches DuckDB/Calcite arithmetic semantics.
- ``nanosAsLong``: the fixture ``events.parquet`` carries TIMESTAMP(NANOS),
  which Spark 4 otherwise refuses (PARQUET_TYPE_ILLEGAL). See catalog.py.
- UTC session timezone: deterministic rendering vs the (tz-naive) oracle.
- AQE on: runtime re-planning (skew joins, broadcast conversion) — the
  scale story replaces Flink's static cost-based optimizer choices.
- Codegen cache of 8192 classes (set on the builder only): Spark caches each
  class it generates (whole-stage pipelines, projections, orderings),
  keyed on its exact source, 100 by default.
  Measured at sf0.001, a full pass over the 413 registry ids compiles
  4,666–4,673 distinct classes, the benchmark's batch-mix pass about 245
  and its stream-drain pass under 100. LRU over a repeating working set
  larger than the cache never hits, so at 100 every warm batch-mix pass
  recompiled its classes with Janino (about 3 CPU-s of a 7.4 CPU-s pass
  at 4 cores); at 8192 a full registry pass fits with headroom and a warm
  pass reuses them. The conf is static: only a session this module builds
  gets it. A foreign driver's session (``__spark_entry__``, the vanilla
  session of ``tools/rehearse.py``) has started before we see it, so it
  keeps its own value (100 unless that driver set it). On a cluster the
  cache exists once per executor JVM as well, so long-lived executors that
  serve many queries reuse classes the same way.
- No codegen stage ID in generated class names: the ID depends on the
  order AQE's stages finish, so the same pipeline could miss the cache on
  a rerun. This conf is runtime-settable, so a foreign session gets it
  too.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

#: Runtime-settable configs, pinned at launch and re-pinned on every
#: foreign session by :func:`ensure_runtime_confs`. They MUST be set before
#: the JVM reads any fixture parquet.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas exchange path (UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local-mode shuffle: sized by cpus(); at cluster scale AQE coalesces.
    "spark.sql.ansi.enabled": "true",
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold, and let AQE rewrite SMJ->SHJ when every post-shuffle
    # partition is under 64 MB (guide §3.1/§9): drops the per-partition
    # sorts on every non-broadcast equi-join. Size-guarded on both paths
    # (static: canBuildLocalHashMap; runtime: the 64 MB local-map bound),
    # so per-task build memory stays bounded at cluster scale. Measured
    # r13 interleaved A/B on SMJ-heavy queries: -5..10% (graph_modularity
    # 3.2-3.5 -> 3.0 s, llm_dedup_keep 3.3-3.5 -> 3.0 s, CC 2.0-2.2 ->
    # 1.9 s), no row worse.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    # Keep the codegen stage ID out of generated class names. AQE hands
    # the IDs out in the order earlier stages finish, so an identical
    # pipeline can come back under another ID, and the codegen cache
    # (keyed on the exact source) misses: a warm batch-mix pass still
    # compiled 4-8 classes, a warm full-registry pass 264 (26 without IDs).
    "spark.sql.codegen.useIdInClassName": "false",
}

def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_session(app_name: str = "streamline-hybrid-engine-spark") -> SparkSession:
    """Build (or reuse) a local session with the engine's pinned configs."""
    n = cpus()
    import tempfile

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # static conf: managed tables (bucketing tests/demos) land in tmp,
        # never in the repo working directory
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "she_warehouse"),
        )
        # static conf, so never in RUNTIME_CONFS: a refused conf.set on a
        # live session costs a py4j exception (about 2.3 ms, against 0.7 ms
        # for the whole re-pin every drain runs). Working set measured at
        # sf0.001 (module docstring): 4,666-4,673 classes per full registry
        # pass, so 8192 holds it with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the driver JVM has compiled with Janino since it started
    (``CodegenMetrics``): a cache hit adds nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Best-effort re-pin of runtime-settable confs on a foreign session.

    The driver hands us ITS SparkSession; these confs are all runtime-settable
    in Spark 4 and are required for oracle parity (UTC rendering) and for
    reading the nanos-timestamp fixture.

    Shuffle width is additionally pinned to the session's core count: a
    foreign session at the 200-partition default makes every STATEFUL
    streaming job build 200 state-store partitions per micro-batch (the
    state partition count is fixed at first checkpoint, before AQE can
    coalesce anything) — measured ~3× slower across the streaming suite on
    local[8]. Batch queries are unaffected (AQE already right-sizes them).
    """
    confs = dict(RUNTIME_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(
        spark.sparkContext.defaultParallelism
    )
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build — catalog has a pyarrow fallback


@contextlib.contextmanager
def pinned_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for the jobs started inside, then restore each key:
    back to its prior session value, or unset when it had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
