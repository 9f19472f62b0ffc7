"""Semantic tests for graph algorithms (operators/graph.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from streamline_hybrid_engine_spark.registry import all_queries

_QS = all_queries()


def test_pagerank_covers_all_trading_vertices(spark, sf_dir):
    from streamline_hybrid_engine_spark.catalog import load_table

    pr = _QS["graph_pagerank_suppliers"].fn(spark, sf_dir)
    rows = pr.collect()
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_cust = (
        o.join(li, o.o_orderkey == li.l_orderkey).select("o_custkey").distinct().count()
    )
    n_supp = li.select("l_suppkey").distinct().count()
    assert len(rows) == n_cust + n_supp
    assert all(r.rank_fp > 0 for r in rows)


def test_pagerank_mass_concentrates_on_suppliers(spark, sf_dir):
    """Suppliers have ~15-30x the degree of customers in the bipartite
    trading graph, so PageRank mass must concentrate there."""
    pr = _QS["graph_pagerank_suppliers"].fn(spark, sf_dir)
    top10 = pr.orderBy(F.desc("rank_fp")).limit(10).collect()
    assert all(r.vertex.startswith("s") for r in top10)


def test_triangle_count_orientation_invariant_semantics(spark, sf_dir):
    """The degree-oriented adjacency-intersection count must equal the
    orientation-free definition computed directly: triangles =
    |{(a,b,c): a<b<c, all three canonical edges present}|."""
    from streamline_hybrid_engine_spark.operators.graph import (
        triangle_per_edge_counts,
    )

    pairs, per_edge = triangle_per_edge_counts(spark, sf_dir)
    engine_tri = per_edge.agg(F.sum("t")).collect()[0][0] or 0
    e1 = pairs.select(F.col("p").alias("a"), F.col("q").alias("b"))
    e2 = pairs.select(F.col("p").alias("b2"), F.col("q").alias("c"))
    e3 = pairs.select(F.col("p").alias("a3"), F.col("q").alias("c3"))
    naive = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .count()
    )
    assert engine_tri == naive


def test_connected_components_chain_converges_logarithmically(spark):
    """A 40-hop chain exceeds the 25-round budget for PLAIN min-label
    propagation; the contraction and the pointer-jumping link loop must
    close it well inside max_rounds and label every vertex with the chain
    minimum."""
    import warnings

    from streamline_hybrid_engine_spark.operators.graph import connected_components

    n = 41  # path 1-2-...-41 (diameter 40) + separate pair + reversed edge dirs
    edges = [(i + 1, i) for i in range(1, n)] + [(100, 101)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warning = failure
        labels = {r.vid: r.label for r in connected_components(df).collect()}
    assert all(labels[v] == 1 for v in range(1, n + 1))
    assert labels[100] == labels[101] == 100
    # two rounds cannot close a 40-hop chain: the loop must say so. One
    # edge per partition, so that no partition contracts two hops and the
    # root-link loop sees the whole chain
    split = spark.createDataFrame(
        spark.sparkContext.parallelize(edges, len(edges)), "src bigint, dst bigint"
    )
    with pytest.warns(RuntimeWarning, match="did not converge in 2 rounds"):
        connected_components(split, max_rounds=2)


def test_connected_components_sessions_match_session_windows(spark, sf_dir):
    """Components of the 10-minute event-chain graph ARE sessions, so the
    component count must equal a direct gaps-and-islands session count at
    the same gap."""
    from pyspark.sql import Window

    from streamline_hybrid_engine_spark.catalog import load_table

    cc = _QS["graph_connected_components"].fn(spark, sf_dir)
    n_components = cc.select("component_id").distinct().count()
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap_us.isNull() | (gap_us > 600_000_000), 1).otherwise(0)
    n_sessions = (
        ev.select(brk.alias("brk")).agg(F.sum("brk")).collect()[0][0]
    )
    assert n_components == n_sessions
    assert cc.count() == ev.count()  # every event labeled exactly once


def test_triangle_count_partitioning_invariant(spark, sf_dir):
    """Same result under a different shuffle width — no accumulation-order
    or partition-boundary dependence."""
    q = _QS["graph_triangle_count"].fn
    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = q(spark, sf_dir).collect()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = q(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b


def test_sssp_hops_bfs_invariants(spark, sf_dir):
    """BFS facts: one root at distance 0; levels within the hop bound and
    contiguous; level 1 is exactly the root's neighbor set."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.operators.graph import N_SSSP
    from streamline_hybrid_engine_spark.registry import get_query

    rows = get_query("graph_sssp_hops").fn(spark, sf_dir).collect()
    dists = {r.vertex: r.dist for r in rows}
    roots = [v for v, d in dists.items() if d == 0]
    assert len(roots) == 1 and roots[0].startswith("c")
    assert all(0 <= d <= N_SSSP for d in dists.values())
    levels = {d for d in dists.values()}
    assert levels == set(range(max(levels) + 1))  # contiguous BFS levels
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    root_key = int(roots[0][1:])
    nbrs = {
        f"s{r.l_suppkey}"
        for r in o.filter(F.col("o_custkey") == root_key)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select("l_suppkey")
        .distinct()
        .collect()
    }
    assert {v for v, d in dists.items() if d == 1} == nbrs


def test_connected_components_empty_edges_short_circuit(spark):
    """An empty (or all-self-loop) edge set must return an empty label
    frame without running the loop — callers union in singletons."""
    from streamline_hybrid_engine_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 1), (7, 7)], "src long, dst long")
    out = connected_components(edges)
    assert out.columns == ["vid", "label"]
    assert out.count() == 0


def test_kcore_matches_pure_python_peel(spark, sf_dir):
    """Exact oracle for the rows-only k-core id: the same peel computed
    in pure Python over the same edge set must agree vertex-for-vertex
    (the k-core is unique, so any correct peel order matches)."""
    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.catalog import load_table
    from streamline_hybrid_engine_spark.operators.graph import K_CORE
    from streamline_hybrid_engine_spark.registry import get_query

    got = {
        r["vertex"]: r["core_degree"]
        for r in get_query("graph_kcore").fn(spark, sf_dir).collect()
    }

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        .collect()
    )
    adj: dict = {}
    for r in pairs:
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < K_CORE]:
            for n in adj.pop(v):
                adj[n].discard(v)
            changed = True
    assert got == {v: len(ns) for v, ns in adj.items()}
    assert all(d >= K_CORE for d in got.values())


def test_label_propagation_labels_propagate_and_cover(spark, sf_dir):
    """Every vertex gets exactly one community; labels genuinely
    propagate (fewer communities than vertices); each community label is
    a real vertex id from the graph."""
    from streamline_hybrid_engine_spark.registry import get_query

    rows = get_query("graph_label_propagation").fn(spark, sf_dir).collect()
    verts = {r["vertex"] for r in rows}
    comms = {r["community"] for r in rows}
    assert len(rows) == len(verts)  # one row per vertex
    assert len(comms) < len(verts)  # propagation actually merged labels
    assert comms <= verts  # labels are vertex ids, not invented values


def test_lpa_shuffle_width_arithmetic():
    """SCALE.md switchover numbers, pinned: 10 MB threshold flips between
    ~600k and ~700k vertices; disabled broadcast (threshold 0) always
    shuffles; the shuffle width follows the measured-edges rule."""
    from types import SimpleNamespace

    from streamline_hybrid_engine_spark.catalog import (
        EDGES_PER_LOOP_TASK,
        partition_width,
    )
    from streamline_hybrid_engine_spark.operators.graph import lpa_shuffle_width

    def on_cores(cores):  # a stand-in session with `cores` cores
        return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))

    c32, ten_mb = on_cores(32), 10 << 20
    assert lpa_shuffle_width(c32, 600_000, 10**7, ten_mb) == 0
    assert lpa_shuffle_width(c32, 700_000, 10**7, ten_mb) == partition_width(
        c32, 10**7, EDGES_PER_LOOP_TASK
    )
    assert lpa_shuffle_width(c32, 16, 100, ten_mb) == 0  # fixture scale
    assert lpa_shuffle_width(c32, 16, 100, 0) > 0  # broadcast disabled
    # billion-row adjacency on a 4000-core cluster: width tracks the data
    assert lpa_shuffle_width(on_cores(4000), 10**8, 10**9, ten_mb) == 1000


def test_lpa_shuffle_path_result_identical(spark, sf_dir):
    """The forced co-partitioned shuffle rounds (the 100 TB path) return
    byte-identical labels to the default broadcast rounds — the r7-verdict
    task-4 equivalence gate."""
    from streamline_hybrid_engine_spark.operators.graph import lpa_labels

    bcast, _ = lpa_labels(spark, sf_dir)
    shuf, _ = lpa_labels(spark, sf_dir, shuffle_width=5)
    rows_b = sorted(map(tuple, bcast.collect()))
    rows_s = sorted(map(tuple, shuf.collect()))
    assert rows_b == rows_s
    assert len(rows_b) > 0


def test_lpa_round_plan_broadcast_vs_shuffle(spark, sf_dir):
    """Plan pin for both round forms, over a persisted+materialized
    adjacency exactly as lpa_labels builds it (r12: persist, not
    localCheckpoint — a checkpointed LogicalRDD forgets its partitioning
    and re-inflates the per-round exchanges).

    Broadcast form (dst-partitioned cache): the label table broadcasts
    and the WHOLE round — join plus both aggregates — adds ZERO shuffle
    exchanges above the in-memory adjacency. Shuffle form
    (src-partitioned cache): merge join, and the adjacency side is never
    re-exchanged on src by the planner (the only src exchange is the
    one-time REPARTITION_BY_NUM inside the cache build)."""
    import re

    import pyspark.sql.functions as F

    from streamline_hybrid_engine_spark.operators.graph import _lpa_round
    from streamline_hybrid_engine_spark.plans import executed_plan

    edges = spark.range(0, 400).select(
        (F.col("id") % 37).alias("src"), (F.col("id") % 11 + 37).alias("dst")
    )
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src")))

    und_b = both.repartition(5, "dst").persist()
    und_b.count()  # finalize the cached AQE plan: partitioning now visible
    # production labels are a checkpoint scan (v, l) — mirror that so the
    # label side's lineage can't smuggle a src-named exchange into the pin
    labels = (
        both.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("l"))
        .localCheckpoint(eager=True)
    )
    p_b = executed_plan(_lpa_round(und_b, labels, shuffle_width=0))
    assert "BroadcastHashJoin" in p_b
    # tree prefix above the first cache scan = the round's whole streamed
    # path (aggregates + join); a zero-exchange round has no shuffle there
    above_cache = p_b.split("InMemoryTableScan")[0]
    assert not re.search(r"\bExchange hashpartitioning", above_cache), (
        above_cache
    )
    und_b.unpersist()

    und_s = both.repartition(5, "src").persist()
    und_s.count()
    p_s = executed_plan(_lpa_round(und_s, labels, shuffle_width=5))
    assert "BroadcastExchange" not in p_s
    assert "SortMergeJoin" in p_s
    # the adjacency side reuses the pre-loop partitioning: no planner-
    # inserted (ENSURE_REQUIREMENTS) re-shuffle of src anywhere — the only
    # src exchange is the cache build's own REPARTITION_BY_NUM
    assert not re.search(
        r"hashpartitioning\(src[^\n]*ENSURE_REQUIREMENTS", p_s
    ), p_s
    und_s.unpersist()


def test_modularity_by_community_sums_to_global_q(spark, sf_dir):
    """The drill-down must reconcile with the collapsed score:
    Σ_c q_contrib == graph_modularity's Q (up to the per-row rounding),
    and its e_c / d_c columns must sum to the global n_intra_edges and
    2·n_edges."""
    from streamline_hybrid_engine_spark.registry import get_query

    per = get_query("graph_modularity_by_community").fn(spark, sf_dir).collect()
    glob = get_query("graph_modularity").fn(spark, sf_dir).collect()[0]
    assert sum(r["n_intra_edges"] for r in per) == glob["n_intra_edges"]
    assert sum(r["degree_sum"] for r in per) == 2 * glob["n_edges"]
    assert len(per) == glob["n_communities"]
    q_sum = sum(r["q_contrib"] for r in per)
    assert abs(q_sum - glob["modularity"]) < 1e-4  # per-row rounding drift


def test_pagerank_shuffle_path_result_identical(spark, sf_dir):
    """PageRank's forced co-partitioned merge rounds (the 100 TB path)
    return byte-identical fixed-point ranks to the default broadcast
    rounds — the same equivalence gate the LPA valve carries."""
    from streamline_hybrid_engine_spark.operators.graph import (
        graph_pagerank_suppliers,
    )

    bcast = sorted(map(tuple, graph_pagerank_suppliers(spark, sf_dir).collect()))
    shuf = sorted(
        map(
            tuple,
            graph_pagerank_suppliers(spark, sf_dir, shuffle_width=5).collect(),
        )
    )
    assert bcast == shuf
    assert len(bcast) > 0
