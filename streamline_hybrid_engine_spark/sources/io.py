"""Sources / sinks — SURVEY §2.1.

Reference analog: Flink's ``FileInputFormat`` family (``TextInputFormat``,
``CsvInputFormat``, avro/parquet via Hadoop IF) and ``BucketingSink``.
Spark: ``spark.read.<format>`` DataSource V2 — splittable, predicate-pushdown,
schema-on-read. The CSV round-trip proves the text/CSV path end-to-end
(write then re-read with an explicit schema — never inference, SURVEY §1.1).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from streamline_hybrid_engine_spark.catalog import load_table, scratch_dir
from streamline_hybrid_engine_spark.functions.numeric import osum, dsum
from streamline_hybrid_engine_spark.registry import query
from streamline_hybrid_engine_spark.session import pinned_confs


@query(
    "scan_parquet_lineitem",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n, {osum("l_extendedprice", "sum_price")}
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sources",),
)
def scan_parquet_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native parquet scan: vectorized reader + column pruning (2 of 11 cols)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), dsum("l_extendedprice", "sum_price")
    )


@query(
    "scan_csv_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n, {osum("o_totalprice", "sum_price")}
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("sources", "csv"),
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip (Flink CsvInputFormat/OutputFormat analog).

    Writes orders (key/status/price — types that round-trip text exactly:
    doubles are serialized round-trippably by Spark CSV) to a temp CSV
    directory, re-reads with an explicit schema, aggregates. The aggregate
    must equal the same aggregate on the parquet original.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = scratch_dir(spark, sf_dir, "csv_roundtrip")
    o.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).option("header", "true").csv(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), dsum("o_totalprice", "sum_price")
    )


@query(
    "scan_json_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    tags=("sources", "json"),
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip (Flink JSON-format analog).

    Writes documents to temp JSON-lines, re-reads with an explicit schema
    (never inference — one pass, SURVEY §1.1), aggregates; must equal the
    same aggregate over the parquet original.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = scratch_dir(spark, sf_dir, "json_roundtrip")
    d.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n, CAST(sum(p_size) AS BIGINT) AS sum_size
    FROM part GROUP BY p_brand
    """,
    tags=("sources", "orc"),
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (the Hive-ecosystem columnar format —
    Flink reads it via HiveCatalog/OrcInputFormat). Spark's native ORC
    reader is vectorized with predicate pushdown, same as parquet; this
    proves the full write→read→aggregate path against the parquet
    original."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    out = scratch_dir(spark, sf_dir, "orc_roundtrip")
    p.write.mode("overwrite").orc(out)
    back = spark.read.schema("p_partkey long, p_brand string, p_size long").orc(out)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"), F.sum("p_size").alias("sum_size")
    )


@query(
    "scan_text_lines",
    oracle="""
    SELECT count(*) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(length(text)) AS min_len, max(length(text)) AS max_len
    FROM documents
    """,
    tags=("sources", "text"),
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-lines source (Flink TextInputFormat): document bodies
    written one per line, re-read as a `value: string` DataFrame — the
    ingestion shape of a raw web-scrape corpus. Line counts and char
    totals must reconcile with the structured original."""
    d = load_table(spark, sf_dir, "documents").select("text")
    out = scratch_dir(spark, sf_dir, "text_lines")
    d.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


@query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
           count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE o_orderdate >= '1997-01-01' GROUP BY 1
    """,
    tags=("sources", "sink", "partitioned"),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (Flink BucketingSink bucketed-by-
    time analog, and THE layout of a real lake): orders written
    ``partitionBy(order_month)``, re-read with a partition-pruning filter.

    The re-read plan prunes to the selected month directories at FILE
    LISTING time (PartitionFilters, not data filters) — the mechanism that
    makes a 100 TB lake queryable. Aggregate must reconcile with the
    unpartitioned original; prices are compared in exact integer cents."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    out = scratch_dir(spark, sf_dir, "part_sink")
    o.write.mode("overwrite").partitionBy("order_month").parquet(out)
    back = spark.read.parquet(out).filter(F.col("order_month") >= "1997-01")
    return back.groupBy("order_month").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


#: ONE SQL text executed verbatim by BOTH engines — the strongest possible
#: proof of the SQL-entry-point surface (Flink SQL / Table API analog,
#: SURVEY §3.4): same string through spark.sql over registered views and
#: through DuckDB over the parquet views. Stays in the shared dialect
#: (ANSI aggregates, fixed-point micro-sum convention, TIMESTAMP literal).
_Q1_SQL_TEXT = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(cast(sum(cast(floor(l_quantity * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS sum_qty,
           round(cast(sum(cast(floor(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS sum_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@query("sql_text_q1", oracle=_Q1_SQL_TEXT, tags=("sources", "sql"))
def sql_text_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text entry point: the engine accepts raw ANSI SQL over the
    registered catalog views and runs it through the same Catalyst planner
    as the DataFrame API (they produce one plan — SURVEY §3.4). The oracle
    is the IDENTICAL string, so this row also certifies the shared-dialect
    discipline the whole oracle suite relies on."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q1_SQL_TEXT)


@query(
    "sink_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("sources", "sink", "bucketed"),
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join (Flink's pre-partitioned DataSet /
    Hive-bucketing analog, and the 100 TB fact⋈fact answer): orders and
    lineitem written ``bucketBy(8, key)`` + sorted, then joined bucket-to-
    bucket — the executed join plan contains NO Exchange on either side
    (pinned in tests/test_plans.py). At lake scale this is how a daily
    fact-fact join avoids re-shuffling terabytes on every run: the shuffle
    is paid ONCE at write time and amortized over every subsequent join.

    The managed tables live in an explicit /tmp database so the operator
    is independent of the calling session's warehouse directory."""
    base = os.path.join(
        tempfile.gettempdir(), f"she_bucket_db_{os.path.basename(sf_dir)}"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS she_bucket LOCATION '{base}'")
    # a FRESH session won't know tables written by a previous one, but their
    # directories persist → LOCATION_ALREADY_EXISTS; drop both layers
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS she_bucket.{t}")
        shutil.rmtree(os.path.join(base, t), ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("she_bucket.b_orders")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("she_bucket.b_lineitem")
    )
    bo = spark.table("she_bucket.b_orders")
    bl = spark.table("she_bucket.b_lineitem")
    joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )


@query(
    "scan_merge_schema",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS o_channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_channel, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM unioned GROUP BY o_channel
    """,
    tags=("sources", "schema"),
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written with
    DIFFERENT schemas (the second adds an `o_channel` column), read back
    as ONE relation via ``mergeSchema`` — rows from the old batch surface
    NULL for the new column. The reference's type system is static
    (SURVEY §1.1: schemas fixed at graph-build time); a lake that lives
    for years cannot be — columns get added, and a 100 TB backfill to
    rewrite old files is exactly what this read path avoids. Footer-level
    merge only: no data is rewritten or scanned twice."""
    base = scratch_dir(spark, sf_dir, "evolve")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0)
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel",
        F.when(F.col("o_orderkey") % 3 == 0, "web").otherwise("store"),
    )
    v1.write.mode("overwrite").parquet(f"{base}/batch=1")
    v2.write.mode("overwrite").parquet(f"{base}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/batch=1", f"{base}/batch=2"
    )
    return back.groupBy("o_channel").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders
    )
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN cents * 2 ELSE cents END)
                AS BIGINT) AS cents_total
    FROM base GROUP BY o_orderstatus
    """,
    tags=("sources", "sink", "partitioned", "overwrite"),
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION
    semantics): write the full orders table partitioned by status, then
    overwrite ONLY the 'O' partition with doubled cents — with
    ``partitionOverwriteMode=dynamic`` the second write replaces exactly
    the partitions it produces and leaves every other partition's files
    untouched (static mode would truncate the whole table). The read-back
    proves it: 'O' rows carry the new values, 'F'/'P' survive from write
    one. This is the idempotent daily-reload primitive of a partitioned
    lake — re-running a day's job replaces that day, never the table.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus",
    )
    out = scratch_dir(spark, sf_dir, "dynover")
    overwrite_mode = "spark.sql.sources.partitionOverwriteMode"
    # write one MUST truncate (a prior run's partitions must not survive):
    # force static mode in case the session conf is already 'dynamic'
    with pinned_confs(spark, {overwrite_mode: "static"}):
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    with pinned_confs(spark, {overwrite_mode: "dynamic"}):
        (
            o.filter(F.col("o_orderstatus") == "O")
            .withColumn("cents", F.col("cents") * 2)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_total")
    )


#: Morton (z-order) interleave over two 16-bit normalized keys — the
#: space-filling-curve clustering used by lakehouse OPTIMIZE ZORDER BY:
#: sorting by the interleaved code gives every contiguous slice of rows a
#: bounded rectangle in (x, y) space, so per-file min/max column stats
#: prune on BOTH columns (a single-column sort clusters one dimension and
#: leaves the other's spans at full width). Bit math is portable integer
#: arithmetic, emitted per dialect below and exact-equal cross-engine.
ZBITS = 16


def _morton_spark(x: str, y: str) -> str:
    return " + ".join(
        f"shiftleft(shiftright({x}, {b}) & 1, {2 * b})"
        f" + shiftleft(shiftright({y}, {b}) & 1, {2 * b + 1})"
        for b in range(ZBITS)
    )


def _morton_duck(x: str, y: str) -> str:
    return " + ".join(
        f"(((({x} >> {b}) & 1) << {2 * b}) + ((({y} >> {b}) & 1) << {2 * b + 1}))"
        for b in range(ZBITS)
    )


_ZORDER_ORACLE = f"""
    WITH mx AS (SELECT max(l_partkey) + 1 AS mp, max(l_suppkey) + 1 AS ms
                FROM lineitem),
         keyed AS (SELECT (l_partkey * {1 << ZBITS}) // mp AS x,
                          (l_suppkey * {1 << ZBITS}) // ms AS y
                   FROM lineitem, mx),
         z AS (SELECT x, y, {_morton_duck("x", "y")} AS zval FROM keyed)
    SELECT zval >> {2 * ZBITS - 3} AS zbucket,
           count(*) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z
    GROUP BY 1
"""


@query(
    "lake_zorder_layout",
    oracle=_ZORDER_ORACLE,
    tags=("sources", "sink", "layout", "zorder"),
)
def lake_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered lake layout: lineitem keys normalized to a 16-bit
    grid, Morton-interleaved, bucketed by the code's top 3 bits, written
    partitioned-by-bucket with an in-file z sort, and read back for the
    per-bucket occupancy rectangle.

    The contract output IS the clustering proof: every z bucket's
    (x_min..x_max, y_min..y_max) rectangle is bounded in BOTH dimensions
    (top-3 z bits pin y's top 2 and x's top 1 — spans ≤ 2^14 and 2^15 on
    the 2^16 grid; test-pinned), which is what makes min/max file stats
    prune two-column predicates at 100 TB — a layout no single-column
    sort achieves. Buckets are DETERMINISTIC integer math (unlike
    repartitionByRange, whose sampled boundaries would not oracle), so
    DuckDB reproduces the exact bucket map from the raw table; the
    engine-side read-back equality additionally proves the sink
    round-trip. ``sortWithinPartitions(zval)`` gives parquet row groups
    within each bucket file ever-tighter rectangles — the recursive
    property of the curve."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True).select(
        "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        (F.max("l_partkey") + 1).alias("mp"),
        (F.max("l_suppkey") + 1).alias("ms"),
    )
    keyed = li.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(l_partkey * {1 << ZBITS}) div mp").alias("x"),
        F.expr(f"(l_suppkey * {1 << ZBITS}) div ms").alias("y"),
    )
    z = keyed.withColumn("zval", F.expr(_morton_spark("x", "y")))
    z = z.withColumn(
        "zbucket", F.shiftright("zval", 2 * ZBITS - 3).cast("long")
    )
    out = scratch_dir(spark, sf_dir, "zorder")
    (
        z.repartition("zbucket")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("zbucket").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    tags=("sources", "sql", "pipe"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL-style `|>` chaining): the same
    relational pipeline expressed as sequential stages instead of nested
    clauses — the surface modern SQL users migrate toward, and proof the
    engine's SQL entry point is the full Spark 4 dialect, not a subset.
    Catalyst lowers pipes to the identical logical plan as the clause
    form (same filter pushdown, same partial aggregation), so the oracle
    is the standard-SQL spelling of the same query, fixed-point
    convention included."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 1000000)
                       AS BIGINT) AS rev_fx
        |> AGGREGATE count(*) AS n,
                     round(CAST(sum(rev_fx) AS DOUBLE) / 1000000, 6) AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue
        """
    )


@query(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(extract(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
           count(*) AS n,
           round(CAST(sum(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    """,
    tags=("sources", "sql"),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — the modern-SQL convenience both Spark 4 and DuckDB
    resolve identically (every non-aggregate select item becomes a
    grouping key, computed expressions included): here the oracle text
    IS the Spark text, so the resolution rule itself is value-checked
    cross-engine — a divergence in which items each engine infers as
    keys would change the row set and break the hash. Plan-wise it
    lowers to the ordinary hash aggregate (same partial/final split,
    same shuffle on the inferred keys); there is nothing extra to pay
    for the sugar."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(extract(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
               count(*) AS n,
               round(CAST(sum(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) AS sum_qty
        FROM lineitem
        GROUP BY ALL
        """
    )


#: compaction target file size — small for the fixture; the knob a real
#: lake sets to 128-512 MiB.
COMPACT_TARGET_BYTES = 1 << 20
COMPACT_SMALL_FILES = 24


@query(
    "lake_compact_small_files",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS value_micros
    FROM events GROUP BY event_type
    """,
    tags=("sources", "sink", "compaction"),
)
def lake_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the lake-maintenance job every streaming
    sink eventually needs (micro-batches write file-per-trigger;
    footers, listing and task scheduling then dominate reads): stage the
    events table as {COMPACT_SMALL_FILES} deliberately-tiny files,
    size the rewrite from the OBSERVED staged bytes
    (ceil(total/target)), and coalesce-rewrite to that many files. The
    returned per-type aggregate (counts, distinct ids, exact integer
    value sum) reads from the COMPACTED copy, so the oracle (same
    aggregate over the original table) certifies the rewrite lost and
    duplicated nothing — the invariant that matters; the file-count
    collapse itself is asserted by the plan test (bytes vary with
    parquet encoder versions, so counts stay out of the hashed output).
    ``coalesce`` not ``repartition``: compaction must not pay a shuffle
    — it narrows existing partitions. At 100 TB this exact job runs per
    partition-directory with target 128-512 MiB."""
    import math

    ev = load_table(spark, sf_dir, "events")
    base = scratch_dir(spark, sf_dir, "compact")
    small, big = f"{base}/small", f"{base}/compacted"
    ev.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(small)
    staged_bytes = sum(
        f.stat().st_size
        for f in os.scandir(small)
        if f.name.endswith(".parquet")
    )
    n_out = max(1, math.ceil(staged_bytes / COMPACT_TARGET_BYTES))
    spark.read.parquet(small).coalesce(n_out).write.mode("overwrite").parquet(big)
    back = spark.read.parquet(big)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
            "value_micros"
        ),
    )


@query(
    "join_dpp_partition_pruning",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND strftime(CAST(o_orderdate AS DATE), '%Y') = '1997'
    GROUP BY 1
    """,
    tags=("sources", "join", "dpp"),
)
def join_dpp_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime companion to static
    partition pruning and Spark's marquee star-schema optimization: the
    fact is laid out partitioned by month; the year filter prunes
    STATICALLY at listing time, and the dimension's selective predicate
    (BUILDING customers) prunes fact partitions at RUNTIME via a
    DynamicPruningExpression subquery on the join key — the fact scan
    never reads partitions whose rows cannot survive the join. On a
    100 TB star schema this is the difference between scanning the
    month and scanning the table; the plan test pins the
    dynamicpruning filter on the scan (with the broadcast-reuse
    exchange). The dimension-keyed partition column (customer bucket)
    makes the runtime prune genuinely selective here: partitions =
    c_custkey % 8, dim filter keeps ~1/4 of customers."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.date_format("o_orderdate", "yyyy").alias("order_year"),
        (F.col("o_custkey") % 8).alias("cust_bucket"),
    )
    out = scratch_dir(spark, sf_dir, "dpp")
    o.write.mode("overwrite").partitionBy("cust_bucket").parquet(out)
    fact = spark.read.parquet(out).filter(F.col("order_year") == "1997")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", (F.col("c_custkey") % 8).alias("c_bucket"))
    )
    joined = fact.join(
        dim,
        (fact.cust_bucket == dim.c_bucket) & (fact.o_custkey == dim.c_custkey),
    )
    return joined.groupBy("order_month").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


@query(
    "scan_csv_malformed",
    oracle="""
    WITH slice AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 1000
    )
    SELECT count(*) AS n_rows,
           CAST(count(*) FILTER (o_orderkey % 7 = 0) AS BIGINT) AS n_corrupt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (o_orderkey % 7 <> 0) AS BIGINT) AS good_cents
    FROM slice
    """,
    tags=("sources", "csv", "malformed"),
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row CSV ingestion — the production concern the clean
    round-trip (scan_csv_roundtrip) skips: real feeds carry broken
    lines, and the contract is PERMISSIVE mode with
    ``columnNameOfCorruptRecord``: parseable fields survive, the failed
    field nulls out, and the RAW line lands in the corrupt column for a
    dead-letter sink — rows are never silently dropped (DROPMALFORMED)
    or fatal (FAILFAST). Staging is distributed and deterministic: the
    orders slice is formatted to CSV text lines with every
    key % 7 == 0 row's price replaced by unparseable junk, written via
    ``write.text``. The certification aggregate (row count, corrupt
    count, exact integer cents over the clean rows) proves the router
    lost nothing and flagged exactly the planted rows — the oracle
    states the same from the construction over the original table."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select("o_orderkey", "o_totalprice")
    )
    line = F.when(
        F.col("o_orderkey") % 7 == 0,
        F.concat(F.col("o_orderkey").cast("string"), F.lit(",not-a-price")),
    ).otherwise(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(","),
            F.col("o_totalprice").cast("string"),
        )
    )
    stage = scratch_dir(spark, sf_dir, "badcsv")
    o.select(line.alias("value")).write.mode("overwrite").text(stage)
    back = spark.read.csv(
        stage,
        schema="o_orderkey long, o_totalprice double, _corrupt string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("_corrupt").isNotNull()).alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.round(F.col("o_totalprice") * 100).cast("long"),
            )
        ).alias("good_cents"),
    )


# --- MERGE INTO semantics (upsert/delete apply without a table format) -------

_MERGE_ORACLE = """
    WITH chg AS (
      SELECT o_orderkey + 10000000 AS key,
             'INSERTED' AS new_status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS new_cents,
             'insert' AS op
      FROM orders WHERE o_orderkey % 11 = 0
      UNION ALL
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE 'UPDATED' END
               AS new_status,
             CAST(round(o_totalprice * 110) AS BIGINT) AS new_cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'delete' ELSE 'update' END
               AS op
      FROM orders WHERE o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
    ),
    applied AS (
      SELECT t.o_orderkey AS o_orderkey,
             CASE WHEN c.op = 'update' THEN c.new_status
                  ELSE t.o_orderstatus END AS status,
             CASE WHEN c.op = 'update' THEN c.new_cents
                  ELSE CAST(round(t.o_totalprice * 100) AS BIGINT)
             END AS cents,
             c.op AS op
      FROM orders t
      LEFT JOIN chg c ON c.key = t.o_orderkey AND c.op <> 'insert'
    )
    SELECT o_orderkey, status, cents FROM applied
    WHERE op IS NULL OR op <> 'delete'
    UNION ALL
    SELECT key AS o_orderkey, new_status AS status, new_cents AS cents
    FROM chg WHERE op = 'insert'
"""


@query(
    "lake_merge_upsert",
    oracle=_MERGE_ORACLE,
    tags=("sources", "sink", "merge"),
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
    WHEN NOT MATCHED INSERT) applied to a parquet snapshot without a
    table format. The change set is derived deterministically from the
    target itself: key%13 → delete, key%7 → update (status + 10% price),
    key%11 → insert under a fresh key.

    The plan deliberately avoids the naive full-outer join: MERGE's
    matched branches are a LEFT join of target→changes (broadcastable —
    the change set is ≪ target in every real CDC cycle) and the
    not-matched-by-target branch is a plain UNION ALL of the insert
    rows. A full-outer join can never broadcast and would shuffle the
    entire 100 TB target; left-join + union keeps the target scan
    shuffle-free when the change side broadcasts, which is exactly how
    Delta/Iceberg execute low-selectivity merges (modified-file rewrite
    aside). Delete precedence over update is encoded per-key (op column),
    mirroring MERGE's first-matching-clause-wins rule. Money is exact
    integer cents on both sides."""
    t = load_table(spark, sf_dir, "orders")
    target = t.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    changes = t.filter(
        (F.col("o_orderkey") % 13 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, None)
        .otherwise(F.lit("UPDATED"))
        .alias("status"),
        F.round(F.col("o_totalprice") * 110).cast("long").alias("cents"),
        F.when(F.col("o_orderkey") % 13 == 0, "delete")
        .otherwise("update")
        .alias("op"),
    ).unionAll(
        t.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("INSERTED").alias("status"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.lit("insert").alias("op"),
        )
    )
    return merge_apply(target, changes, "o_orderkey")


def merge_apply(
    target: DataFrame, changes: DataFrame, key: str, op_col: str = "op"
) -> DataFrame:
    """Library primitive: MERGE INTO semantics on any DataFrame pair.
    ``changes`` carries the target's schema plus ``op_col`` ∈
    {'update', 'delete', 'insert'}; matched updates replace the row's
    non-key columns, matched deletes drop the row, inserts append.
    Encode first-matching-clause precedence by emitting ONE op per key.
    The plan is the scale-correct one: a LEFT join of target→changes
    (broadcastable — the change set is ≪ target in every real CDC
    cycle) plus a UNION ALL of the inserts; never the unbroadcastable
    full-outer join (see lake_merge_upsert)."""
    value_cols = [c for c in target.columns if c != key]
    upd = changes.filter(F.col(op_col) != "insert").select(
        F.col(key).alias("_mk"),
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(f"_n_{c}") for c in value_cols],
    )
    applied = (
        target.join(F.broadcast(upd), target[key] == F.col("_mk"), "left")
        .filter(F.col("_op").isNull() | (F.col("_op") != "delete"))
        .select(
            key,
            *[
                F.when(F.col("_op") == "update", F.col(f"_n_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in value_cols
            ],
        )
    )
    ins = changes.filter(F.col(op_col) == "insert").select(key, *value_cols)
    return applied.unionAll(ins)


# --- Snapshot diff (added / deleted / changed between two lake versions) -----

_SNAPDIFF_ORACLE = """
    WITH snap_a AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    snap_b AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
             CASE WHEN o_orderkey % 5 = 0
                  THEN CAST(round(o_totalprice * 105) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS cents
      FROM orders WHERE o_orderkey % 17 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000 AS key, 'N' AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 19 = 0
    )
    SELECT COALESCE(a.key, b.key) AS key,
           CASE WHEN a.key IS NULL THEN 'added'
                WHEN b.key IS NULL THEN 'deleted'
                ELSE 'changed' END AS change_type,
           COALESCE(b.cents, 0) - COALESCE(a.cents, 0) AS cents_delta
    FROM snap_a a
    FULL JOIN snap_b b ON a.key = b.key
    WHERE a.key IS NULL OR b.key IS NULL
       OR a.status <> b.status OR a.cents <> b.cents
"""


@query(
    "lake_snapshot_diff",
    oracle=_SNAPDIFF_ORACLE,
    tags=("sources", "lake", "diff"),
)
def lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the audit query behind every time-travel/rollback
    story: given two physical parquet snapshots of the same logical
    table, emit each changed key as added / deleted / changed with its
    value delta. Snapshot B is derived deterministically from A
    (key%17 dropped, key%5 repriced +5%, key%19 re-inserted under a
    fresh key) and BOTH snapshots are round-tripped through parquet on
    disk, so the diff certifies the physical write path, not just the
    in-memory derivation.

    Diff is the one lake op where a FULL outer join is the honest plan
    — both sides are table-sized, so neither can broadcast; the right
    100 TB layout co-partitions both snapshots on the key (bucketed
    writes) so the sort-merge join runs zipper-style with no residual
    shuffle. Unchanged rows are filtered AFTER the join (cheap — the
    comparison is two already-joined columns); only changed keys ever
    leave the join stage."""
    t = load_table(spark, sf_dir, "orders")
    snap_a = t.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    snap_b = (
        t.filter(F.col("o_orderkey") % 17 != 0)
        .select(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.round(F.col("o_totalprice") * 105).cast("long"),
            )
            .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("cents"),
        )
        .unionAll(
            t.filter(F.col("o_orderkey") % 19 == 0).select(
                (F.col("o_orderkey") + 20_000_000).alias("key"),
                F.lit("N").alias("status"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            )
        )
    )
    base = scratch_dir(spark, sf_dir, "snapdiff")
    snap_a.write.mode("overwrite").parquet(f"{base}/a")
    snap_b.write.mode("overwrite").parquet(f"{base}/b")
    a = spark.read.parquet(f"{base}/a")
    b = spark.read.parquet(f"{base}/b")
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.key") == F.col("b.key"), "full"
    )
    return joined.filter(
        F.col("a.key").isNull()
        | F.col("b.key").isNull()
        | (F.col("a.status") != F.col("b.status"))
        | (F.col("a.cents") != F.col("b.cents"))
    ).select(
        F.coalesce(F.col("a.key"), F.col("b.key")).alias("key"),
        F.when(F.col("a.key").isNull(), "added")
        .when(F.col("b.key").isNull(), "deleted")
        .otherwise("changed")
        .alias("change_type"),
        (
            F.coalesce(F.col("b.cents"), F.lit(0))
            - F.coalesce(F.col("a.cents"), F.lit(0))
        ).alias("cents_delta"),
    )


@query(
    "sql_unpivot_syntax",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           CAST(round(l_quantity * 100) AS BIGINT) AS cents
    FROM lineitem WHERE l_linenumber <= 2
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice',
           CAST(round(l_extendedprice * 100) AS BIGINT)
    FROM lineitem WHERE l_linenumber <= 2
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax',
           CAST(round(l_tax * 100) AS BIGINT)
    FROM lineitem WHERE l_linenumber <= 2
    """,
    tags=("sources", "sql", "reshape"),
)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2016-style UNPIVOT *clause* (Spark 3.4+ native syntax) —
    the text-surface twin of `unpivot_lineitem_measures`' DataFrame
    API face: a migrating SQL workload keeps its UNPIVOT statements
    unchanged. Lowers to the same single-scan Expand (3 rows per input
    row, one pass — the plan the UNION-ALL oracle would pay 3 scans
    for); the WHERE prunes before expansion. Measures are exact
    integer cents so the long-form rows hash cross-engine."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, measure, cents
        FROM (SELECT l_orderkey, l_linenumber,
                     CAST(round(l_quantity * 100) AS BIGINT) AS quantity,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       AS extendedprice,
                     CAST(round(l_tax * 100) AS BIGINT) AS tax
              FROM lineitem WHERE l_linenumber <= 2)
        UNPIVOT (cents FOR measure IN (quantity, extendedprice, tax))
        """
    )


@query(
    "lake_vacuum_orphans",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("sources", "lake", "vacuum"),
)
def lake_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — delete data files not referenced by the table's manifest,
    the other half of lake maintenance next to compaction (orphans come
    from failed writes, killed executors mid-commit, and abandoned
    overwrites; every table format ships this job). The orders table is
    staged as parquet and its file listing captured as the MANIFEST;
    then orphan parquet files with poison rows are planted in the same
    directory (exactly what a torn write leaves behind — readable,
    wrong). Vacuum walks the directory, deletes every data file not in
    the manifest, and the returned aggregate reads the post-vacuum
    directory: the oracle (same aggregate over the pristine table)
    certifies the poison rows are gone AND nothing referenced was
    touched. Deletion is driver-side file-listing arithmetic (set
    difference on paths — manifest-sized, not data-sized); at 100 TB
    the listing parallelizes per partition directory and the manifest
    is the table format's metadata layer, same algorithm."""
    base = scratch_dir(spark, sf_dir, "vacuum")
    stage = scratch_dir(spark, sf_dir, "vacuum_stage")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").parquet(base)
    manifest = {
        f.name
        for f in os.scandir(base)
        if f.name.endswith(".parquet")
    }
    # plant orphans: poison rows a manifest-unaware reader would ingest
    poison = o.limit(50).withColumn("o_totalprice", F.lit(9.9e7))
    poison.coalesce(1).write.mode("overwrite").parquet(stage)
    import glob as _glob

    for i, src in enumerate(_glob.glob(f"{stage}/part-*.parquet")):
        shutil.copy(src, f"{base}/part-orphan-{i:05d}.parquet")
    n_before = sum(1 for f in os.scandir(base) if f.name.endswith(".parquet"))
    for f in list(os.scandir(base)):
        if f.name.endswith(".parquet") and f.name not in manifest:
            os.unlink(f.path)
    n_after = sum(1 for f in os.scandir(base) if f.name.endswith(".parquet"))
    assert n_before > n_after == len(manifest)  # the vacuum actually fired
    back = spark.read.parquet(base)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


@query(
    "scan_json_malformed",
    oracle="""
    WITH src AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END AS corrupt
      FROM documents
    )
    SELECT CAST(sum(corrupt) AS BIGINT) AS n_corrupt,
           CAST(sum(1 - corrupt) AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN corrupt = 0 THEN n_chars ELSE 0 END)
                AS BIGINT) AS good_chars,
           count(DISTINCT CASE WHEN corrupt = 0 THEN lang END) AS n_langs
    FROM src
    """,
    tags=("sources", "json", "malformed"),
)
def scan_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSON ingestion — the JSON-lines twin of
    `scan_csv_malformed`: real feeds carry truncated/unbalanced lines,
    and the contract is PERMISSIVE mode + columnNameOfCorruptRecord —
    parseable rows survive, broken lines land intact in the corrupt
    column (dead-letter route, never a silent drop). Corruption is
    PLANTED deterministically (every 23rd doc's line loses its closing
    brace — a torn write), staged via write.text, and the
    certification aggregate (corrupt count, surviving rows/chars/langs)
    is checked against the construction rule on the pristine table.
    Spark requires selecting the corrupt column explicitly after a
    cache-less read — handled here; at 100 TB this is a plain
    splittable text scan with per-row parse, zero shuffle until the
    aggregate."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    line = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    staged = d.select(
        F.when(
            F.col("doc_id") % 23 == 0,
            F.substring(line, 1, 20),  # torn write: truncated mid-object
        )
        .otherwise(line)
        .alias("value")
    )
    out = scratch_dir(spark, sf_dir, "jsonmal")
    staged.write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
        .cache()  # Spark disallows corrupt-column-only queries on a raw scan
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt").isNull(), F.col("n_chars")).otherwise(0)
        )
        .cast("long")
        .alias("good_chars"),
        F.countDistinct(
            F.when(F.col("_corrupt").isNull(), F.col("lang"))
        ).alias("n_langs"),
    )


_VALUES_DIM_SQL = """
    WITH rate(status, label, fee_bps) AS (
      VALUES ('O', 'open', 25), ('F', 'fulfilled', 10), ('P', 'pending', 40)
    )
    SELECT r.label, count(*) AS n,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT) * r.fee_bps)
                AS BIGINT) AS fee_cents_bps
    FROM orders o
    JOIN rate r ON r.status = o.o_orderstatus
    GROUP BY r.label
"""


@query(
    "sql_values_inline_dim",
    oracle=_VALUES_DIM_SQL,
    tags=("sources", "sql", "values"),
)
def sql_values_inline_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES as a dimension table — Flink's ``fromElements`` /
    SQL VALUES source: a literal rate card joined to the fact without
    any file or view behind it. The SAME text runs on both engines
    (shared dialect, the sql_text_q1 discipline), so the VALUES
    parsing, aliasing and join semantics are value-checked
    cross-engine. Spark plans the literal table as a LocalRelation →
    broadcast — zero scan, zero shuffle for the dim side; fee math is
    exact integer cents × basis points."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_VALUES_DIM_SQL)


@query(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (l_tax, l_returnflag, l_linestatus)
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
    tags=("sql", "syntax"),
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT * EXCEPT (cols)` — the wide-table projection idiom (drop
    the heavy columns, keep the other 50) that saves users from typing
    hundred-column SELECT lists. Spark 4 spells it EXCEPT, DuckDB
    EXCLUDE; the parity check certifies the two star-modifier dialects
    resolve to the same column set. Column pruning still reaches the
    scan: the analyzer expands the star BEFORE optimization, so the
    parquet reader fetches exactly the 8 surviving columns — pinned in
    tests, because a naive all-columns scan + drop is precisely what
    this syntax exists to avoid at 100 TB."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * EXCEPT (l_tax, l_returnflag, l_linestatus)
        FROM lineitem WHERE l_orderkey % 50 = 0
        """
    )


#: Payload with embedded comma, double-quote and newline — the three
#: characters that break naive CSV handling. Spelled once; the engine
#: computes it pre-write, the oracle recomputes it from the parquet
#: original (concat/substr/chr are dialect-shared).
_QCSV_PAYLOAD = (
    "concat(substr(text, 1, 40), ',', '\"', substr(text, 41, 20), '\"',"
    " chr(10), source)"
)


@query(
    "scan_csv_quoted_newlines",
    oracle=f"""
    SELECT doc_id, {_QCSV_PAYLOAD} AS payload FROM documents
    """,
    tags=("sources", "csv"),
)
def scan_csv_quoted_newlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 hard mode: fields containing commas, embedded double
    quotes AND newlines must survive a CSV write→read round-trip. Spark
    writes quote-doubled RFC style with escape='\"' and reads back with
    multiLine=true (records can no longer be split on \\n, so this read
    path gives up line-level input splitting — the documented cost:
    one file = one task; at 100 TB keep quoted-newline CSV OUT of the
    lake and land parquet instead — this op exists to certify the
    migration path works, not to recommend it). Parity: the oracle
    recomputes the payload expression directly on the parquet original,
    so any quoting asymmetry in the round-trip breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir(spark, sf_dir, "csv_quoted")
    payload = docs.select("doc_id", F.expr(_QCSV_PAYLOAD).alias("payload"))
    (
        payload.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(out)
    )
    return (
        spark.read.schema("doc_id long, payload string")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(out)
    )


@query(
    "scan_pushdown_in_list",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice > 150000
    """,
    tags=("sources", "pushdown"),
)
def scan_pushdown_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + range predicate pushdown: both must reach the parquet
    reader as PushedFilters (In(...) and GreaterThan(...)) so row groups
    whose column stats exclude the set are skipped without decoding —
    the difference between reading 2 row groups and 2,000 at 100 TB.
    The test pins the In() actually lands in the scan node; a post-scan
    Filter-only plan is the regression this id exists to catch."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


_HINTS_SQL_SPARK = """
    SELECT /*+ MERGE(orders), BROADCAST(nation) */
           n_name,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
"""


@query(
    "sql_join_hints",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
    tags=("sql", "hints"),
)
def sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINTS through SQL text — the physical-tuning surface
    a migrating workload carries in its query strings: MERGE(orders)
    forces the fact join to sort-merge (what you'd pin when the build
    side is known to blow past executor memory and you'd rather
    pre-empt an OOM-then-AQE-retry), BROADCAST(nation) forces the dim
    broadcast. Hints change the PLAN, never the result — the oracle is
    the same query unhinted, and the plan test asserts both strategies
    actually took effect (a typo'd hint name degrades silently to
    Catalyst's choice; that silence is the bug this id guards)."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_HINTS_SQL_SPARK)


@query(
    "sql_parameter_binding",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("sql", "parameters"),
)
def sql_parameter_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL execution (`:min_price` bound server-side via
    spark.sql(..., args=...)) — the injection-safe templating surface a
    migrating JDBC/BI workload expects; the parameter marker survives to
    the analyzer as a literal, so constant folding and predicate
    pushdown see exactly what an inlined literal would give (the plan
    test pins the pushed filter). The oracle is the same query with
    literals inlined — binding must be semantically invisible."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "F"},
    )


@query(
    "sql_distinct_on_rewrite",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    tags=("sql", "dialect"),
)
def sql_distinct_on_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres/DuckDB `DISTINCT ON (k) ... ORDER BY k, v DESC` — the
    keep-one-row-per-key idiom Spark does not parse; the engine ships
    the standard rewrite a migrating workload needs: `max_by` over the
    full ordering tuple (one partial-aggregating hash aggregate — map-
    side combine, no per-partition sort), unpacked back to columns.
    The tie tuple mirrors the ORDER BY exactly ((price DESC, orderkey
    ASC) → max_by on (price, −orderkey)), so the chosen row matches
    DISTINCT ON's deterministically. The window row_number()=1 form is
    the same semantics with a sort — max_by is the 100 TB spelling."""
    o = load_table(spark, sf_dir, "orders")
    picked = o.groupBy("o_custkey").agg(
        F.max_by(
            F.struct("o_orderkey", "o_totalprice", "o_orderdate"),
            F.struct(
                F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk")
            ),
        ).alias("r")
    )
    return picked.select(
        "o_custkey",
        F.col("r.o_orderkey").alias("o_orderkey"),
        F.col("r.o_totalprice").alias("o_totalprice"),
        F.col("r.o_orderdate").alias("o_orderdate"),
    )


@query(
    "sql_qualify_rewrite",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn <= 2
    """,
    tags=("sql", "dialect"),
)
def sql_qualify_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB/Snowflake/BigQuery `QUALIFY` — post-window filtering Spark
    does not parse (verified: PARSE_SYNTAX_ERROR on 4.1) but every
    migrating analytics workload uses for top-n-per-group. The engine
    ships the standard rewrite: compute the window column in a subquery,
    filter it one level up — semantically identical because QUALIFY is
    DEFINED as filtering after window evaluation. Catalyst then plans
    the same WindowExec + Filter a native QUALIFY would; the rank window
    partitions by customer so no global sort, and the filter cannot push
    below the window (that would change semantics) — the plan's
    Filter-above-Window shape IS the correctness witness. Keeps the rn
    column (QUALIFY exposes it), matching the oracle's projection."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
    )
