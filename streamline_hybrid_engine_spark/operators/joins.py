"""Join operators — SURVEY §2.3.

Reference analog: Flink's ``JoinOperator``/``CoGroupOperator``/``CrossOperator``
with hint-driven strategies (broadcast-hash / repartition-hash / sort-merge)
over its spillable MutableHashTable. Spark's planner + AQE pick the strategy;
we only *steer* it where the data shape is known (broadcast tiny dims, MERGE
hint for the large-large join) and express everything else declaratively.

Scale notes (100 TB):
- dimension joins (region/nation/supplier) are ``broadcast()`` — no shuffle;
- fact-fact joins shuffle on join keys once and AQE handles skew;
- the as-of join is a window over a union (sort within user partitions), NOT
  a join — no pair explosion, scales linearly with events per user;
- the interval join keeps an equi-key (user_id) so Spark plans SMJ with a
  range predicate instead of a nested-loop cross.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from streamline_hybrid_engine_spark.catalog import load_table
from streamline_hybrid_engine_spark.functions.numeric import dsum, osum, rnd
from streamline_hybrid_engine_spark.registry import query
from streamline_hybrid_engine_spark.session import pinned_confs


@query(
    "join_inner_orders_customer",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, n_name,
           round(o_totalprice, 6) AS totalprice
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'O' AND c_acctbal > 1000
    """,
    tags=("joins",),
)
def join_inner_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain (fact→dim) with filters pushed below the join."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000)
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "o_orderkey", "c_custkey", "c_name", "n_name", rnd("o_totalprice", "totalprice")
        )
    )


@query(
    "join_broadcast_nation_region",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    tags=("joins", "broadcast"),
)
def join_broadcast_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash join (Flink JoinHint.BROADCAST_HASH_*): tiny build side."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "join_sortmerge_lineitem_orders",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           {osum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("joins", "sortmerge"),
)
def join_sortmerge_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large sort-merge join (Flink REPARTITION_SORT_MERGE) via MERGE hint."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").hint("MERGE")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@query(
    "join_left_customer_orders",
    oracle=f"""
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           {osum("coalesce(o_totalprice, 0)", "sum_price")}
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderstatus = 'F'
    GROUP BY c_custkey, c_name
    """,
    tags=("joins", "outer"),
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no (F-status) orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "F")
    return (
        c.join(o, cond, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(o.o_totalprice, F.lit(0.0)), "sum_price"),
        )
    )


@query(
    "join_full_supplier_customer_nation",
    oracle="""
    SELECT coalesce(s.n, c.n) AS nationkey,
           s.n_suppliers, c.n_customers
    FROM (SELECT s_nationkey AS n, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey) s
    FULL OUTER JOIN
         (SELECT c_nationkey AS n, count(*) AS n_customers
            FROM customer GROUP BY c_nationkey) c
    ON s.n = c.n
    """,
    tags=("joins", "outer"),
)
def join_full_supplier_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two per-nation aggregates (coGroup analog)."""
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sn"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("cn"))
        .agg(F.count("*").alias("n_customers"))
    )
    return s.join(c, s.sn == c.cn, "full").select(
        F.coalesce("sn", "cn").alias("nationkey"), "n_suppliers", "n_customers"
    )


@query(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
    tags=("joins", "semi"),
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (SQL IN/EXISTS → Calcite SemiJoin in the reference)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    tags=("joins", "anti"),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no F-status order (71 rows at sf0.01)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross_region_nation_count",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    tags=("joins", "cross"),
)
def join_cross_region_nation_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (Flink CrossOperator) — tiny×tiny only, by design."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_price_band",
    oracle="""
    SELECT s_suppkey, count(*) AS n_band_customers,
           round(min(c_acctbal - s_acctbal), 6) AS min_gap
    FROM supplier JOIN customer
      ON s_acctbal BETWEEN c_acctbal - 100 AND c_acctbal + 100
    GROUP BY s_suppkey
    """,
    tags=("joins", "theta"),
)
def join_theta_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi band) join → broadcast nested-loop with small side."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (s.s_acctbal >= c.c_acctbal - 100) & (s.s_acctbal <= c.c_acctbal + 100)
    return (
        s.join(c, cond)
        .groupBy("s_suppkey")
        .agg(
            F.count("*").alias("n_band_customers"),
            rnd(F.min(c.c_acctbal - s.s_acctbal), "min_gap"),
        )
    )


@query(
    "join_interval_events",
    oracle="""
    SELECT e1.event_id AS purchase_id, e1.user_id,
           count(e2.event_id) AS n_follow,
           count(DISTINCT e2.event_type) AS n_follow_types
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    GROUP BY e1.event_id, e1.user_id
    """,
    tags=("joins", "interval"),
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-bounded) join — the batch analog of Flink's windowed
    stream join: equi-key on user_id + time-range predicate, so Spark plans
    a keyed join (no nested loop over the full stream)."""
    ev = load_table(spark, sf_dir, "events")
    e1 = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("t1"),
    )
    e2 = ev.select(
        F.col("user_id").alias("u2"),
        F.col("ts").alias("t2"),
        F.col("event_id").alias("e2_id"),
        F.col("event_type").alias("e2_type"),
    )
    cond = (
        (e1.user_id == e2.u2)
        & (e2.t2 > e1.t1)
        & (e2.t2 <= e1.t1 + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        e1.join(e2, cond, "left")
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count("e2_id").alias("n_follow"),
            F.countDistinct("e2_type").alias("n_follow_types"),
        )
    )


@query(
    "join_asof_last_purchase",
    oracle="""
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS last_purchase_ts,
           round(p.value, 6) AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    tags=("joins", "asof"),
)
def join_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (temporal-table analog): for each click, the latest
    purchase by the same user at ts <= click ts.

    Spark-first design: NOT a join. Union purchases+clicks, then a running
    ``last(..., ignorenulls)`` window per user ordered by (ts, kind) — kind
    sorts a same-instant purchase before the click, matching DuckDB ASOF's
    ``<=`` semantics. One shuffle on user_id, linear in events per user —
    this is the 100 TB-safe as-of pattern (a join would explode pairs).
    """
    ev = load_table(spark, sf_dir, "events")
    # kind 0 = purchase (sorts first at equal ts, so `<=` includes it), 1 = click
    unioned = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p_ts = F.when(F.col("kind") == 0, F.col("ts"))
    p_val = F.when(F.col("kind") == 0, F.col("value"))
    return (
        unioned.withColumn("last_purchase_ts", F.last(p_ts, ignorenulls=True).over(w))
        .withColumn("last_purchase_value_raw", F.last(p_val, ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "last_purchase_ts",
            rnd("last_purchase_value_raw", "last_purchase_value"),
        )
    )


@query(
    "join_5way_regional_revenue",
    oracle=f"""
    SELECT n_name,
           {osum("l_extendedprice * (1 - l_discount)", "revenue")},
           count(*) AS n_lines
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("joins", "multiway"),
)
def join_5way_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape 5-way join: region→nation→customer→orders→lineitem.

    Scale plan: region+nation broadcast (no shuffle); customer⋈orders and
    ⋈lineitem shuffle on their keys with the date filter pushed to the
    orders scan — the canonical star-join layout the BASELINE measures.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "cogroup_nation_customer_supplier_pandas",
    oracle="""
    SELECT n_nationkey, 
           CAST(coalesce(c.nc, 0) AS BIGINT) AS n_customers,
           CAST(coalesce(s.ns, 0) AS BIGINT) AS n_suppliers,
           round(coalesce(c.bal, 0.0) + coalesce(s.bal, 0.0), 6) AS total_acctbal
    FROM nation
    LEFT JOIN (SELECT c_nationkey, count(*) AS nc,
                      sum(CAST(floor(c_acctbal * 1000000) AS BIGINT)) / 1000000.0 AS bal
               FROM customer GROUP BY c_nationkey) c ON c_nationkey = n_nationkey
    LEFT JOIN (SELECT s_nationkey, count(*) AS ns,
                      sum(CAST(floor(s_acctbal * 1000000) AS BIGINT)) / 1000000.0 AS bal
               FROM supplier GROUP BY s_nationkey) s ON s_nationkey = n_nationkey
    """,
    tags=("joins", "cogroup", "udf"),
)
def cogroup_nation_customer_supplier_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coGroup (Flink CoGroupOperator): both inputs grouped on the key and
    handed to user code together — Spark's ``groupBy().cogroup()`` +
    ``applyInPandas``, one Arrow batch per key-group pair.

    Unlike a join, empty sides are observable (a nation with customers but
    no suppliers arrives with an empty right frame) — exactly Flink's
    coGroup contract. Keyed on nation (coarse groups): per-group Python
    has fixed overhead, so cogroup belongs on keys with substantial groups;
    fine-grained keys should use joins/aggregates (measured 15x difference
    on this fixture). Sums use the fixed-point micros convention.
    """
    import pandas as pd

    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def micro_sum(vals: pd.Series) -> float:
        import math

        return sum(int(math.floor(v * 1_000_000)) for v in vals) / 1_000_000.0

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        key = (
            int(left["c_nationkey"].iloc[0])
            if len(left)
            else int(right["s_nationkey"].iloc[0])
        )
        return pd.DataFrame(
            {
                "n_nationkey": [key],
                "n_customers": [int(len(left))],
                "n_suppliers": [int(len(right))],
                "total_acctbal": [
                    round(micro_sum(left["c_acctbal"]) + micro_sum(right["s_acctbal"]), 6)
                ],
            }
        )

    merged = (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(
            merge,
            schema="n_nationkey int, n_customers long, n_suppliers long, total_acctbal double",
        )
    )
    # nations with neither customers nor suppliers still appear (left join)
    return (
        n.join(merged, "n_nationkey", "left")
        .fillna({"n_customers": 0, "n_suppliers": 0, "total_acctbal": 0.0})
    )


@query(
    "join_right_orders_customer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 6) AS totalprice
    FROM orders RIGHT JOIN customer
      ON o_custkey = c_custkey AND o_orderstatus = 'P'
    """,
    tags=("joins", "outer"),
)
def join_right_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (OuterJoinOperatorBase RIGHT): every customer row
    survives; non-matching order side is null-extended."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cond = (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P")
    return o.join(c, cond, "right").select(
        "c_custkey", "c_name", "o_orderkey", rnd("o_totalprice", "totalprice")
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT e1.event_id AS purchase_id, e1.user_id,
           count(e2.event_id) AS n_follow,
           count(DISTINCT e2.event_type) AS n_follow_types
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    GROUP BY e1.event_id, e1.user_id
    """,
    tags=("joins", "interval", "binned"),
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval join of `join_interval_events`, re-planned as a BINNED
    range join — the 100 TB shape (the manual form of a range-join-hint
    rewrite). Same oracle as the plain form: the rewrite must be invisible.

    Why: the plain form's join keys are (user_id) with the time bound as a
    post-join filter, so one power user's entire history self-pairs before
    filtering — O(per-key rows²). Binning timestamps to bucket =
    floor(epoch/10min) and equi-joining on (user_id, bucket) bounds every
    pair to one 10-minute cell: a probe at t matches only buckets b(t) and
    b(t)+1, so the probe side is exploded to exactly those two keys (2×
    row overhead buys the quadratic reduction) and the exact predicate
    filters inside the cell. Shuffle keys are (user, bucket) — skew from
    hot users is split across their time range.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = lambda c: F.floor(F.unix_micros(F.col(c)) / F.lit(600_000_000))  # noqa: E731
    e1 = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("t1"),
        )
        .withColumn("probe", F.explode(F.array(bucket("t1"), bucket("t1") + 1)))
    )
    e2 = ev.select(
        F.col("user_id").alias("u2"),
        F.col("ts").alias("t2"),
        F.col("event_id").alias("e2_id"),
        F.col("event_type").alias("e2_type"),
    ).withColumn("b2", bucket("t2"))
    cond = (
        (e1.user_id == e2.u2)
        & (e1.probe == e2.b2)
        & (e2.t2 > e1.t1)
        & (e2.t2 <= e1.t1 + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        e1.join(e2, cond, "left")
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count("e2_id").alias("n_follow"),
            F.countDistinct("e2_type").alias("n_follow_types"),
        )
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT p_brand, count(*) AS n_lines,
           round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000, 6) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
    tags=("joins", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join as a CONTRACT query: revenue per brand through
    `skew.salted_join` (8 salts), oracle = the plain join — proving the
    salt is partitioning-only and result-invisible.

    When: a hot key (one mega-brand) overwhelms one reducer and AQE's
    runtime skew split can't fire (streaming side, cached subplan). The
    skewed side salts from a row hash; the dimension side replicates 8×
    (dimension-bounded). Each hot key then spreads over 8 reducers.
    """
    from streamline_hybrid_engine_spark.functions.numeric import dsum
    from streamline_hybrid_engine_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, p, "l_partkey", "p_partkey", n_salts=8)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"), dsum(rev, "revenue")
    )


@query(
    "join_asof_next_purchase",
    oracle="""
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS next_purchase_ts,
           round(p.value, 6) AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (
      SELECT user_id, ts, min_by(value, event_id) AS value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ) p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    tags=("joins", "asof"),
)
def join_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each click, the EARLIEST purchase by the
    same user at ts >= click ts — the attribution-window direction
    (`join_asof_last_purchase` looks backward; conversion analysis looks
    forward). Same 100 TB-safe shape: union + one keyed window, a
    following-frame `first(..., ignorenulls)` instead of a preceding-frame
    `last` — never a pair-exploding join. kind sorts the click before a
    same-instant purchase so `>=` includes it, matching DuckDB ASOF.

    Tie pinning: two purchases at the same (user_id, ts) would make the
    attributed value partition-order-dependent, so event_id is the final
    window sort key (smallest purchase event_id wins) and the oracle's
    purchase side pre-aggregates same-instant purchases with
    min_by(value, event_id) — both sides are total-ordered.
    """
    ev = load_table(spark, sf_dir, "events")
    # kind 0 = click, 1 = purchase: at equal ts the click row precedes the
    # purchase, so the following-frame first() sees it (>= semantics)
    unioned = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    p_ts = F.when(F.col("kind") == 1, F.col("ts"))
    p_val = F.when(F.col("kind") == 1, F.col("value"))
    return (
        unioned.withColumn(
            "next_purchase_ts", F.first(p_ts, ignorenulls=True).over(w)
        )
        .withColumn(
            "next_purchase_value_raw", F.first(p_val, ignorenulls=True).over(w)
        )
        .filter(F.col("kind") == 0)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "next_purchase_ts",
            rnd("next_purchase_value_raw", "next_purchase_value"),
        )
    )


@query(
    "join_bloom_pruned_fact",
    oracle=f"""
    SELECT l_linestatus, count(*) AS n_lines,
           {osum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#7' AND p_size <= 10
    GROUP BY l_linestatus
    """,
    tags=("joins", "runtime_filter", "bloom"),
)
def join_bloom_pruned_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Flink's dynamic filtering /
    runtime filter analog): a selective dimension predicate (brand+size
    keeps ~1% of parts) is turned by Spark's InjectRuntimeFilter rule into
    a bloom filter BUILT from the dim side at runtime and APPLIED inside
    the fact scan — lineitem rows whose partkey cannot match are dropped
    at the scan/filter stage BEFORE the join shuffle, the semi-join
    reduction that matters at 100 TB (the shuffle carries ~1% of the fact
    table instead of all of it).

    Spark injects the filter only in the regime where it pays: the
    creation side must NOT be broadcastable (a broadcast join needs no
    runtime filter) and the application scan must be large. The fixture
    sits in the opposite corner of both thresholds, so this query scales
    the thresholds to put the tiny fixture in the 100 TB regime —
    auto-broadcast off (≈ "dim exceeds the broadcast threshold") and
    application-side floor 1 byte (production default 10 GB is right at
    cluster scale). The confs are restored after the plan is
    materialized — QueryExecution pins the physical plan at first
    materialization, so the returned DataFrame keeps its bloom filter
    while the session leaks nothing. Values are unaffected by the filter
    (bloom false positives just fail the exact join predicate later) —
    the oracle is the plain join, and the plan assertion (the
    ``might_contain`` probe inside the fact-side Filter) lives in
    tests/test_tpch_suite.py.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with pinned_confs(spark, confs):
        part = load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") == "Brand#7") & (F.col("p_size") <= 10)
        )
        li = load_table(spark, sf_dir, "lineitem", parallel=True)
        joined = li.join(part, li.l_partkey == part.p_partkey)
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        out = joined.groupBy("l_linestatus").agg(
            F.count("*").alias("n_lines"), dsum(rev, "revenue")
        )
        # materialize the physical plan NOW, while the thresholds are set
        out._jdf.queryExecution().executedPlan()
        return out


@query(
    "join_aqe_skew_split",
    oracle=f"""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 8 THEN 1
                  ELSE l_partkey END AS skew_key,
             l_extendedprice, l_discount
      FROM lineitem
    )
    SELECT p_brand,
           count(*) AS n_rows,
           {osum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM fact
    JOIN part ON p_partkey = fact.skew_key
    GROUP BY p_brand
    """,
    tags=("joins", "skew", "aqe"),
)
def join_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join splitting (the automatic complement of the
    manual salting in join_salted_skew): 80% of fact rows collapse onto
    one part key, so that key's shuffle partition dwarfs its siblings.
    ``OptimizeSkewedJoin`` measures map outputs at the shuffle boundary,
    splits the oversized reduce partition into per-map-block sub-reads,
    and DUPLICATES the matching dim rows per sub-split — runtime
    mitigation with no query rewrite, no salt column, no prior knowledge
    of the hot key. The 100 TB default posture: salt by hand only when
    AQE's split granularity (one map output block) is still too coarse.

    Three conditions, all learned the hard way and test-pinned:
    (1) both join children must be Sort-over-shuffle directly — an
    aggregate on the dim side breaks the rule's pattern match, so the
    dim is the raw part scan (p_partkey unique); (2) the skewed
    partition can only split along MAP block boundaries, so the fact
    side must come from >1 map task — the explicit repartition stands in
    for the thousands of input splits a real fact table has; (3)
    fixture-regime thresholds (production defaults 256 MB / factor 5),
    broadcast off so the join shuffles. Executed once inside the
    function so the returned DataFrame keeps the finalized adaptive plan
    (with its ``AQEShuffleRead skewed`` node) for the gate's collect;
    values are split-invariant, the oracle is the plain join."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with pinned_confs(spark, confs):
        li = load_table(spark, sf_dir, "lineitem", parallel=True)
        skew = F.when(F.col("l_orderkey") % 10 < 8, F.lit(1)).otherwise(
            F.col("l_partkey")
        )
        # multiple map outputs are what make a reduce partition splittable
        fact = li.repartition(8).select(
            skew.alias("skew_key"), "l_extendedprice", "l_discount"
        )
        dim = load_table(spark, sf_dir, "part").select(
            F.col("p_partkey"), "p_brand"
        )
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        out = (
            fact.join(dim, fact.skew_key == dim.p_partkey)
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_rows"), dsum(rev, "revenue"))
        )
        out.collect()  # finalize the adaptive plan under the skew confs
        return out


@query(
    "join_null_safe_eq",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey, nullif(o_orderpriority, '4-NOT SPECIFIED') AS prio
      FROM orders
    ),
    dim AS (
      SELECT DISTINCT nullif(o_orderpriority, '4-NOT SPECIFIED') AS prio,
             CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                  THEN 'unspecified' ELSE 'stated' END AS prio_class
      FROM orders
    )
    SELECT dim.prio_class, count(*) AS n_orders
    FROM keyed
    JOIN dim ON keyed.prio IS NOT DISTINCT FROM dim.prio
    GROUP BY dim.prio_class
    """,
    tags=("joins", "null_safe"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently vanishing — the semantic a
    plain inner join gets wrong when the join key is legitimately
    nullable (here: order priority with 'NOT SPECIFIED' normalized to
    NULL). Every order survives the join, including the NULL-priority
    class; the count by class proves it (a plain equi-join would drop
    the whole 'unspecified' bucket). Spark plans ``eqNullSafe`` as a
    hash join on a null-safe key wrapper — same shuffle shape as plain
    equality, no nested-loop penalty; DuckDB's IS NOT DISTINCT FROM is
    the identical ANSI semantic."""
    o = load_table(spark, sf_dir, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED"))
    keyed = o.select("o_orderkey", prio.alias("prio"))
    dim = o.select(
        prio.alias("d_prio"),
        F.when(
            F.col("o_orderpriority") == "4-NOT SPECIFIED", "unspecified"
        )
        .otherwise("stated")
        .alias("prio_class"),
    ).distinct()
    joined = keyed.join(dim, keyed.prio.eqNullSafe(dim.d_prio))
    return joined.groupBy("prio_class").agg(F.count("*").alias("n_orders"))


#: as-of tolerance: a purchase older than this (vs the click) is too
#: stale to attribute — the match becomes NULL, like pandas
#: merge_asof(tolerance=...) / kdb wj within-window semantics.
ASOF_TOLERANCE_US = 2 * 3_600_000_000


@query(
    "join_asof_tolerance",
    oracle=f"""
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CASE WHEN epoch_us(CAST(c.ts AS TIMESTAMP))
                     - epoch_us(CAST(p.ts AS TIMESTAMP)) <= {ASOF_TOLERANCE_US}
                THEN CAST(p.ts AS TIMESTAMP) END AS last_purchase_ts,
           CASE WHEN epoch_us(CAST(c.ts AS TIMESTAMP))
                     - epoch_us(CAST(p.ts AS TIMESTAMP)) <= {ASOF_TOLERANCE_US}
                THEN round(p.value, 6) END AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    tags=("joins", "asof"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas ``merge_asof(tolerance=2h)`` /
    kdb ``wj`` semantics — the form attribution pipelines actually need:
    a purchase 3 days before a click should not be credited): the latest
    same-user purchase at ts <= click ts, but only if it is at most 2
    hours stale — otherwise the click matches NOTHING (NULLs), exactly
    as if the old purchase weren't there.

    Same 100 TB-safe plan as join_asof_last_purchase (union + running
    ``last ignorenulls`` window — one user_id shuffle, zero pair
    explosion); the tolerance is a post-window predicate that NULLs the
    carried match, NOT a filter on rows (every click stays in the
    output). The correct-but-unscalable alternative — an interval join
    on (user, ts-2h <= p.ts <= ts) + argmax — shuffles candidate PAIRS;
    this shuffles events once. Oracle: DuckDB ASOF LEFT JOIN with the
    staleness CASE applied to the single match it returns (the latest
    candidate is the only one tolerance can accept — later purchases
    would have matched instead)."""
    ev = load_table(spark, sf_dir, "events")
    unioned = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p_ts = F.when(F.col("kind") == 0, F.col("ts"))
    p_val = F.when(F.col("kind") == 0, F.col("value"))
    fresh = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_ts"))
        <= ASOF_TOLERANCE_US
    )
    return (
        unioned.withColumn("last_ts", F.last(p_ts, ignorenulls=True).over(w))
        .withColumn("last_val", F.last(p_val, ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.when(fresh, F.col("last_ts")).alias("last_purchase_ts"),
            F.when(fresh, F.round("last_val", 6)).alias("last_purchase_value"),
        )
    )


@query(
    "join_scd2_point_in_time",
    oracle="""
    WITH log AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
             CAST(round(value * 1000000) AS BIGINT) AS v
      FROM events WHERE event_type <> 'error'
    ),
    hist AS (
      SELECT user_id, v, uts AS valid_from,
             lead(uts) OVER (PARTITION BY user_id ORDER BY uts, event_id)
               AS valid_to
      FROM log
    ),
    probes AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'error'
    )
    SELECT p.event_id, p.user_id, p.pts AS error_ts,
           h.v AS dim_value_micros, h.valid_from AS dim_valid_from
    FROM probes p
    LEFT JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from <= p.pts
     AND (h.valid_to IS NULL OR p.pts < h.valid_to)
    """,
    tags=("joins", "scd2", "asof"),
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the warehouse question
    SCD2 history exists to answer: for each fact (error events), which
    dimension VERSION (cdc_scd2_history's intervals over the non-error
    log) was valid at the fact's timestamp. Flink's temporal-table join
    (`FOR SYSTEM_TIME AS OF`) and every lakehouse PIT join are this
    shape.

    Spark-first plan: NOT an interval join — versions don't need their
    valid_to at all. Union version-start rows with probe rows, one
    (user_id → ts, kind, event_id) sort, running ``last(ignorenulls)``
    of the version struct carries (value, valid_from) into each probe —
    same-instant versions resolve by event_id order, a version at
    exactly the probe ts applies (kind sorts it first), probes before
    any version get NULLs. One shuffle, zero pair explosion — at 100 TB
    an interval join would re-shuffle candidate PAIRS per version
    overlap. Oracle: the genuinely different algorithm — LEFT JOIN on
    interval CONTAINMENT against the lead()-closed history — so a
    fencepost bug in either form (inclusive start, exclusive end,
    empty same-instant intervals) breaks the hash."""
    ev = load_table(spark, sf_dir, "events")
    versions = ev.filter(F.col("event_type") != "error").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v"),
        F.lit(0).alias("kind"),
    )
    probes = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.lit(None).cast("long").alias("v"),
        F.lit(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ver = F.when(F.col("kind") == 0, F.struct(F.col("v"), F.col("ts").alias("vf")))
    return (
        versions.unionByName(probes)
        .withColumn("dim", F.last(ver, ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("error_ts"),
            F.col("dim.v").alias("dim_value_micros"),
            F.col("dim.vf").alias("dim_valid_from"),
        )
    )


# --- Grid-blocked spatial radius self-join -----------------------------------

#: radius in micro-degrees (2°) — grid cell edge == radius, so all true
#: pairs live in the same or an adjacent cell (3×3 neighborhood).
GEO_RADIUS_U = 2_000_000

_GEO_GRID_ORACLE = f"""
    WITH pts AS (
      SELECT event_id AS id,
             CAST(floor(((value * 7) % 180 - 90) * 1000000) AS BIGINT)
               AS ilat,
             CAST(floor(((value * 13) % 360 - 180) * 1000000) AS BIGINT)
               AS ilon
      FROM events WHERE event_type = 'signup'
    )
    SELECT a.id AS id_a, b.id AS id_b,
           (a.ilat - b.ilat) * (a.ilat - b.ilat)
             + (a.ilon - b.ilon) * (a.ilon - b.ilon) AS d2
    FROM pts a
    JOIN pts b ON a.id < b.id
    WHERE (a.ilat - b.ilat) * (a.ilat - b.ilat)
            + (a.ilon - b.ilon) * (a.ilon - b.ilon)
          <= {GEO_RADIUS_U}::BIGINT * {GEO_RADIUS_U}::BIGINT
"""


@query(
    "join_geo_grid_radius",
    oracle=_GEO_GRID_ORACLE,
    tags=("join", "geo", "spatial"),
)
def join_geo_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial radius self-join — "all point pairs within
    R" without the n² cross join that kills every naive spatial query.
    Cell edge == R, so a true pair always falls in the same or an
    adjacent cell: side A replicates to its 3×3 cell neighborhood (a
    9-row broadcast of offsets), side B keeps its home cell, and the
    join is a plain EQUI-join on the cell id — each true pair produced
    exactly once (B's home cell is unique), then verified with the
    exact integer distance. This is the standard DJ (grid) spatial
    join: shuffle volume is 9·|A| cell-keyed rows, candidate count is
    bounded by cell occupancy (data-adaptive at 100 TB by shrinking R's
    grid or two-level gridding hot cells — same hub-cut story as LSH
    buckets). The oracle is the honest all-pairs filter — a genuinely
    different algorithm, so a blocking bug (missed neighbor, double
    count) breaks the hash. Coordinates are the geo bundle's
    deterministic value-keyed pseudo-points in micro-degree longs;
    distance is planar equirect (no trig — bit-exact; antimeridian
    wrap documented out of scope, as with any single-grid DJ)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("id"),
        F.floor(((F.col("value") * 7) % 180 - 90) * 1_000_000)
        .cast("long")
        .alias("ilat"),
        F.floor(((F.col("value") * 13) % 360 - 180) * 1_000_000)
        .cast("long")
        .alias("ilon"),
    )
    return grid_radius_join(pts, "id", "ilon", "ilat", GEO_RADIUS_U)


def grid_radius_join(
    df: DataFrame, id_col: str, x_col: str, y_col: str, radius: int
) -> DataFrame:
    """Library primitive: all point pairs within ``radius`` (planar
    integer coordinates) via grid blocking — cell edge == radius, side A
    replicated to its 3×3 cell neighborhood (9-row broadcast of
    offsets), side B on its home cell, EQUI-join on the cell id, exact
    integer distance verify. Emits (id_a, id_b, d2) with id_a < id_b,
    each true pair exactly once. Candidate volume is bounded by cell
    occupancy — shrink the radius grid or two-level-grid hot cells at
    scale (see join_geo_grid_radius)."""
    spark = df.sparkSession
    r = F.lit(radius).cast("long")
    cells = df.withColumns(
        {
            "cx": F.floor(F.col(x_col) / float(radius)).cast("long"),
            "cy": F.floor(F.col(y_col) / float(radius)).cast("long"),
        }
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    a = cells.crossJoin(F.broadcast(offsets)).select(
        F.col(id_col).alias("id_a"),
        F.col(y_col).alias("_ya"),
        F.col(x_col).alias("_xa"),
        (F.col("cx") + F.col("dx")).alias("jx"),
        (F.col("cy") + F.col("dy")).alias("jy"),
    )
    b = cells.select(
        F.col(id_col).alias("id_b"),
        F.col(y_col).alias("_yb"),
        F.col(x_col).alias("_xb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("_ya") - F.col("_yb")) * (F.col("_ya") - F.col("_yb")) + (
        F.col("_xa") - F.col("_xb")
    ) * (F.col("_xa") - F.col("_xb"))
    return (
        a.join(b, ["jx", "jy"])
        .filter((F.col("id_a") < F.col("id_b")) & (d2 <= r * r))
        .select("id_a", "id_b", d2.alias("d2"))
    )


# --- As-of NEAREST join (both directions, bounded, tie → backward) -----------

ASOF_NEAREST_TOL_US = 30 * 60 * 1_000_000  # ±30 minutes

_ASOF_NEAREST_ORACLE = f"""
    WITH p AS (SELECT event_id AS pid, user_id,
                      CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS pts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS cid, user_id,
                      CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS cts
               FROM events WHERE event_type = 'click'),
         cand AS (
           SELECT p.pid, p.user_id, p.pts, c.cid, c.cts,
                  abs(p.pts - c.cts) AS dist,
                  CASE WHEN c.cts <= p.pts THEN 0 ELSE 1 END AS fwd,
                  row_number() OVER (
                    PARTITION BY p.pid
                    ORDER BY abs(p.pts - c.cts),
                             CASE WHEN c.cts <= p.pts THEN 0 ELSE 1 END,
                             c.cid
                  ) AS rk
           FROM p JOIN c ON c.user_id = p.user_id
           WHERE abs(p.pts - c.cts) <= {ASOF_NEAREST_TOL_US}
         )
    SELECT pid, user_id, pts, cid AS nearest_click_id, cts AS nearest_click_us,
           dist AS dist_us
    FROM cand WHERE rk = 1
"""


@query(
    "join_asof_nearest",
    oracle=_ASOF_NEAREST_ORACLE,
    tags=("join", "asof"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST join — the last face of the as-of matrix (backward =
    join_asof_last_purchase, forward = join_asof_next_purchase,
    bounded-backward = join_asof_tolerance): each purchase matched to
    the temporally CLOSEST click of the same user within ±30 min, ties
    to the backward side (pandas merge_asof direction='nearest'
    semantics). ONE union-marker sort per user produces BOTH
    candidates: clicks sort before purchases at equal timestamps (so an
    exactly-simultaneous click is the ≤ backward candidate), a
    running last(ignorenulls) carries the backward click and a
    mirrored first over the following frame carries the forward one;
    the winner is two integer comparisons. No pair join, no per-row
    subquery — the oracle IS the per-user pair join with a ranked
    argmin, a genuinely different algorithm, so frame/tie fencepost
    bugs break the hash. Same zero-join scale story as the other as-of
    faces: one shuffle, one sort, state one row per side."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events", parallel=True)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.unix_micros("ts").alias("mts"),
        F.lit(0).alias("kind"),
        F.col("event_id").alias("cid"),
        F.unix_micros("ts").alias("cts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.unix_micros("ts").alias("mts"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("cid"),
        F.lit(None).cast("long").alias("cts"),
    )
    marked = clicks.unionAll(purchases)
    order = ["mts", "kind", "cid"]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    both = marked.select(
        "user_id",
        "mts",
        "kind",
        "cid",
        F.last("cts", ignorenulls=True).over(w_back).alias("back_ts"),
        F.first("cts", ignorenulls=True).over(w_fwd).alias("fwd_ts"),
        F.last(
            F.when(F.col("cts").isNotNull(), F.col("cid")), ignorenulls=True
        )
        .over(w_back)
        .alias("back_id"),
        F.first(
            F.when(F.col("cts").isNotNull(), F.col("cid")), ignorenulls=True
        )
        .over(w_fwd)
        .alias("fwd_id"),
    ).filter(F.col("kind") == 1)
    tol = F.lit(ASOF_NEAREST_TOL_US).cast("long")
    bdist = F.col("mts") - F.col("back_ts")
    fdist = F.col("fwd_ts") - F.col("mts")
    b_ok = F.col("back_ts").isNotNull() & (bdist <= tol)
    f_ok = F.col("fwd_ts").isNotNull() & (fdist <= tol)
    pick_back = b_ok & (~f_ok | (bdist <= fdist))
    return (
        both.filter(b_ok | f_ok)
        .select(
            F.col("cid").alias("pid"),
            "user_id",
            F.col("mts").alias("pts"),
            F.when(pick_back, F.col("back_id"))
            .otherwise(F.col("fwd_id"))
            .alias("nearest_click_id"),
            F.when(pick_back, F.col("back_ts"))
            .otherwise(F.col("fwd_ts"))
            .alias("nearest_click_us"),
            F.when(pick_back, bdist).otherwise(fdist).alias("dist_us"),
        )
    )


#: campaign windows (promo calendar) — the literal dim both engines share.
_CAMPAIGNS_SQL = """(VALUES
    ('spring_push',  TIMESTAMP '2024-01-02 00:00:00',
                     TIMESTAMP '2024-01-04 00:00:00'),
    ('flash_sale',   TIMESTAMP '2024-01-05 12:00:00',
                     TIMESTAMP '2024-01-06 00:00:00'),
    ('weekend_brand', TIMESTAMP '2024-01-06 00:00:00',
                      TIMESTAMP '2024-01-08 00:00:00')
  ) AS c(campaign, c_start, c_end)"""


@query(
    "join_campaign_overlap",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                      >= INTERVAL '30 minutes'
                  OR lag(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    numbered AS (
      SELECT user_id, uts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY uts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM marked
    ),
    sessions AS (
      SELECT user_id, epoch_us(min(uts)) AS s_start,
             epoch_us(max(uts) + INTERVAL '30 minutes') AS s_end
      FROM numbered GROUP BY user_id, sid
    )
    SELECT c.campaign,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users,
           CAST(sum(least(s.s_end, epoch_us(c.c_end))
                    - greatest(s.s_start, epoch_us(c.c_start)))
                AS BIGINT) AS overlap_us
    FROM sessions s JOIN {_CAMPAIGNS_SQL}
      ON s.s_start < epoch_us(c.c_end)
     AND s.s_end > epoch_us(c.c_start)
    GROUP BY c.campaign
    """,
    tags=("join", "interval"),
)
def join_campaign_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Campaign exposure: user sessions overlapped against a promo
    calendar, reporting touched sessions/users and EXACT overlap time
    (least(ends) − greatest(starts) on epoch micros — the piece plain
    interval joins drop) — the exposure denominator every campaign
    attribution starts from. Sessions come from the exported
    sessionize() primitive (end = last event + gap, its documented
    convention); the calendar is a 3-row inline VALUES dim identical
    in both dialects, so the join is a broadcast nested-loop over 3
    rows per session — the right plan when one side is a literal
    calendar (blocking/banding is for when BOTH sides are data-sized,
    per join_interval_events)."""
    from streamline_hybrid_engine_spark.operators.time_windows import (
        sessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    raw = sessionize(ev, "ts", ["user_id"], "30 minutes")
    sessions = raw.select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("s_start"),
        F.unix_micros(F.col("session_end")).alias("s_end"),
    )
    campaigns = spark.sql(f"SELECT * FROM {_CAMPAIGNS_SQL}").select(
        "campaign",
        F.unix_micros(F.col("c_start")).alias("c_start"),
        F.unix_micros(F.col("c_end")).alias("c_end"),
    )
    j = sessions.join(
        F.broadcast(campaigns),
        (F.col("s_start") < F.col("c_end"))
        & (F.col("s_end") > F.col("c_start")),
    )
    return j.groupBy("campaign").agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(
            F.least("s_end", "c_end") - F.greatest("s_start", "c_start")
        )
        .cast("long")
        .alias("overlap_us"),
    )


# --- Grid k-NN: expanding-ring exact k nearest over the spatial grid --------

KNN_CELL_U = 6_000_000  # 6-degree cells in micro-degrees
KNN_K = 3
#: Chebyshev ring radii searched in order. The LAST entry must cover the
#: whole coordinate span (lon span 360e6 / cell 6e6 = 60 cells) so the
#: plan is exact WITHOUT a cartesian fallback — every phase stays a
#: cell-id EQUI-join; in production you append rings instead of widening
#: the last one.
KNN_RINGS = (1, 3, 60)

_GEO_KNN_ORACLE = f"""
    WITH pts AS (
      SELECT event_id AS id,
             CAST(floor(((value * 7) % 180 - 90) * 1000000) AS BIGINT)
               AS ilat,
             CAST(floor(((value * 13) % 360 - 180) * 1000000) AS BIGINT)
               AS ilon
      FROM events WHERE event_type = 'signup'
    ),
    rk AS (
      SELECT a.id AS id, b.id AS nn_id,
             (a.ilat - b.ilat) * (a.ilat - b.ilat)
               + (a.ilon - b.ilon) * (a.ilon - b.ilon) AS d2,
             row_number() OVER (
               PARTITION BY a.id
               ORDER BY (a.ilat - b.ilat) * (a.ilat - b.ilat)
                        + (a.ilon - b.ilon) * (a.ilon - b.ilon), b.id
             ) AS nn_rank
      FROM pts a JOIN pts b ON a.id <> b.id
    )
    SELECT id, CAST(nn_rank AS BIGINT) AS nn_rank, nn_id, d2
    FROM rk WHERE nn_rank <= {KNN_K}
"""


def grid_knn_join(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    cell: int,
    k: int,
    rings: tuple = KNN_RINGS,
) -> DataFrame:
    """Library primitive: exact k nearest neighbors per point via
    expanding-ring grid search — the "k nearest regardless of radius"
    half of the spatial pair (:func:`grid_radius_join` is the other).

    Phase ρ: each still-unresolved point replicates to its cell
    neighborhood (broadcast offsets), EQUI-joins the home-cell index,
    ranks candidates by (d², id). A point RESOLVES when it has k
    candidates within ρ·cell — floor-grid arithmetic guarantees every
    unexplored cell is strictly farther, so ties can't hide outside the
    ring and the result is exact, not approximate. Unresolved points
    escalate; the final ring spans the grid, so the union is total and
    every phase is a cell-keyed equi-join — no cartesian anywhere.

    Each escalation re-scans the full (2ρ+1)² window for the pending
    set, with the r8 resolution-preserving prune (d ≤ ρ·cell) before the
    rank window. That wins whenever pending COLLAPSES after ring 1 — the
    common dense shape. Measured sf0.1 (20,302 pts, 6.2M ring-1
    candidates, 99.2% resolve at ring 1): 4.7 s settled median. A
    ring-shell carry-forward variant (scan only the new shell, union the
    escalators' carried top-k) was 1.3-1.6× slower on that shape and had
    no caller, so it was removed; SCALE.md records its design and A/B."""
    # the home-cell index is read by the b side, ring 1's pending set,
    # and every escalation's a side — one lazy materialization of the
    # 5-column point table instead of re-deriving the caller's input
    # lineage (for llm_pca_knn_grid that lineage is the whole PCA
    # projection) per consumer (r12)
    cells = df.select(
        F.col(id_col).alias("id"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.floor(F.col(x_col) / float(cell)).cast("long").alias("cx"),
        F.floor(F.col(y_col) / float(cell)).cast("long").alias("cy"),
    ).localCheckpoint(eager=False)
    b = cells.select(
        F.col("id").alias("nn_id"),
        F.col("x").alias("_xb"),
        F.col("y").alias("_yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    spark = df.sparkSession
    d2 = (F.col("y") - F.col("_yb")) * (F.col("y") - F.col("_yb")) + (
        F.col("x") - F.col("_xb")
    ) * (F.col("x") - F.col("_xb"))
    w = Window.partitionBy("id").orderBy("d2", "nn_id")
    pending = cells
    parts = []
    for rho in rings:
        offsets = spark.createDataFrame(
            [(dx, dy) for dx in range(-rho, rho + 1) for dy in range(-rho, rho + 1)],
            "dx int, dy int",
        )
        a = pending.crossJoin(F.broadcast(offsets)).select(
            "id",
            "x",
            "y",
            (F.col("cx") + F.col("dx")).alias("jx"),
            (F.col("cy") + F.col("dy")).alias("jy"),
        )
        lim = F.lit(int(rho) * int(cell)).cast("long")
        cand = (
            a.join(b, ["jx", "jy"])
            .filter(F.col("id") != F.col("nn_id"))
            .select("id", "nn_id", d2.alias("d2"))
        )
        if rho == rings[-1]:
            # covering ring: exact by construction, everyone resolves, no
            # prune allowed (k nearest regardless of radius)
            parts.append(
                cand.withColumn("nn_rank", F.row_number().over(w)).filter(
                    F.col("nn_rank") <= k
                )
            )
            break
        # resolution-preserving prune BEFORE the rank window (a point
        # resolves at ring ρ iff it has k candidates within ρ·cell, and
        # those candidates ARE its top-k — anything farther can neither
        # enter a resolving top-k nor block escalation; ~3× window-input
        # shrink at ring 1), then one ranked pass decides resolution and
        # emits resolved rows ≤ k·n rows, but THREE consumers hang off it
        # (the resolve aggregate, the emitted arm's semi-join, and —
        # through `pending`'s anti-join lineage — every later ring): lazy
        # checkpoint so the ring's 9-cell join + rank window runs once,
        # not once per consumer (r12; plans/r12/
        # join_geo_grid_knn_before.txt showed the ring-1 subtree
        # replicated 5× — 40 parquet scans, 52 Window nodes)
        ranked = (
            cand.filter(F.col("d2") <= lim * lim)
            .withColumn("nn_rank", F.row_number().over(w))
            .filter(F.col("nn_rank") <= k)
            .localCheckpoint(eager=False)
        )
        ok = (
            ranked.groupBy("id")
            .agg(F.count("*").alias("n"), F.max("d2").alias("dk2"))
            .filter((F.col("n") == k) & (F.col("dk2") <= lim * lim))
            .select("id")
        )
        parts.append(ranked.join(ok, "id", "left_semi"))
        pending = pending.join(ok, "id", "left_anti")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "id", F.col("nn_rank").cast("long").alias("nn_rank"), "nn_id", "d2"
    )


@query(
    "join_geo_grid_knn",
    oracle=_GEO_KNN_ORACLE,
    tags=("join", "geo", "spatial"),
)
def join_geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k nearest neighbors (k={KNN_K}) per spatial point, exact, via the
    expanding-ring grid search — the other half of the spatial query
    pair next to join_geo_grid_radius's fixed-radius form (r7 verdict
    capability edge 7). Same deterministic value-keyed pseudo-points;
    coarser 6° cells than the radius query's 2° because k-NN needs
    occupied neighborhoods, not a distance cutoff (cell choice is a
    tuning knob, not a semantics knob — the resolve condition keeps any
    cell size exact). Oracle: the honest all-pairs row_number top-k — a
    genuinely different algorithm, so a ring fencepost (a resolve at
    d_k > ρ·cell, a missed shell) breaks the hash."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("id"),
        F.floor(((F.col("value") * 7) % 180 - 90) * 1_000_000)
        .cast("long")
        .alias("ilat"),
        F.floor(((F.col("value") * 13) % 360 - 180) * 1_000_000)
        .cast("long")
        .alias("ilon"),
    )
    return grid_knn_join(pts, "id", "ilon", "ilat", KNN_CELL_U, KNN_K)
