"""Catalog/session behavior: fixture loading, nanos-ts handling, views."""

from __future__ import annotations

import datetime as dt

import pytest

from streamline_hybrid_engine_spark.catalog import TABLES, load_table, register_views


def test_all_tables_load(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_events_ts_is_microsecond_timestamp(spark, sf_dir):
    """The nanos fixture must arrive as a proper TimestampType (SURVEY §1.2)."""
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    row = ev.orderBy("event_id").first()
    assert isinstance(row["ts"], dt.datetime)
    # fixture domain: January 2024 (FIXTURES.md)
    assert dt.datetime(2024, 1, 1) <= row["ts"] <= dt.datetime(2024, 2, 1)


def test_events_ts_matches_duckdb_to_the_microsecond(spark, sf_dir, duck):
    """Nanos→micros truncation must agree with DuckDB's native nanos read."""
    ours = {
        r["event_id"]: r["ts"]
        for r in load_table(spark, sf_dir, "events").select("event_id", "ts").collect()
    }
    theirs = dict(
        duck.execute(
            "SELECT event_id, CAST(date_trunc('microseconds', ts) AS TIMESTAMP) FROM events"
        ).fetchall()
    )
    assert ours == theirs


def test_register_views_sql_roundtrip(spark, sf_dir):
    register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    assert n == load_table(spark, sf_dir, "lineitem").count()


@pytest.mark.parametrize("name", ["region", "nation", "customer"])
def test_dimension_row_counts_scale(spark, sf_dir, name):
    """Dimensions stay small — the broadcast-join size assumption."""
    assert load_table(spark, sf_dir, name).count() < 50_000


def test_parallel_load_fans_out_to_compute_width(spark, sf_dir):
    """Single-row-group scans fan out to the compute width (all cores:
    compute fan-out knows no size); already-parallel inputs pass through
    unchanged (the 100 TB no-op path)."""
    from streamline_hybrid_engine_spark.catalog import _fan_out, partition_width

    cores = partition_width(spark)
    assert cores == spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < cores

    boosted = _fan_out(docs)
    assert boosted.rdd.getNumPartitions() == cores
    # row set unchanged
    assert boosted.count() == docs.count()

    # no-op when the input already has enough partitions
    wide = docs.repartition(cores + 4)
    assert _fan_out(wide) is wide

    # the parallel=True flag takes the same path
    via_flag = load_table(spark, sf_dir, "documents", parallel=True)
    assert via_flag.rdd.getNumPartitions() == cores


def test_csv_permissive_captures_corrupt_records(spark, tmp_path):
    """§2.1 robustness: PERMISSIVE mode surfaces malformed rows in
    _corrupt_record instead of failing the scan; FAILFAST raises."""
    import pyspark.sql.functions as F

    p = tmp_path / "bad.csv"
    p.write_text("1,alpha,10\n2,beta\nnot_an_int,gamma,30\n4,delta,40\n")
    schema = "id int, name string, score int, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()  # corrupt-record column requires a materialized scan
    )
    try:
        n_bad = df.filter(F.col("_corrupt_record").isNotNull()).count()
        n_good = df.filter(F.col("_corrupt_record").isNull()).count()
        assert (n_good, n_bad) == (2, 2)
    finally:
        df.unpersist()

    import pytest as _pytest

    with _pytest.raises(Exception):
        (
            spark.read.schema("id int, name string, score int")
            .option("mode", "FAILFAST")
            .csv(str(p))
            .collect()
        )


def test_compaction_collapses_file_count(spark, sf_dir):
    """The compaction rewrite must actually shrink the file count to the
    byte-sized target (content preservation is the parity test's job)."""
    import math
    import os

    from streamline_hybrid_engine_spark.catalog import scratch_path
    from streamline_hybrid_engine_spark.registry import get_query
    from streamline_hybrid_engine_spark.sources.io import (
        COMPACT_SMALL_FILES,
        COMPACT_TARGET_BYTES,
    )

    get_query("lake_compact_small_files").fn(spark, sf_dir).collect()
    base = scratch_path(spark, sf_dir, "compact")
    n_small = len(
        [f for f in os.listdir(f"{base}/small") if f.endswith(".parquet")]
    )
    n_big = len(
        [f for f in os.listdir(f"{base}/compacted") if f.endswith(".parquet")]
    )
    staged = sum(
        f.stat().st_size
        for f in os.scandir(f"{base}/small")
        if f.name.endswith(".parquet")
    )
    assert n_small == COMPACT_SMALL_FILES
    assert n_big == max(1, math.ceil(staged / COMPACT_TARGET_BYTES))
    assert n_big < n_small
