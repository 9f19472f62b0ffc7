"""Graph algorithms — the Gelly analog (SURVEY §1.1 / VERDICT r01 missing #3).

The reference's ecosystem ships Gelly (vertex-centric iterations:
PageRank, connected components, label propagation). Spark's idiomatic
equivalent for these is a driver-side loop of join+aggregate rounds over
an edge DataFrame. Connected components first contracts each partition
in one numpy pass and loops only over what crosses partitions; PageRank,
SSSP, k-core and label propagation loop over the whole graph.

Determinism contract: ranks are FIXED-POINT integers (1e6 scale) with
integral division throughout — integer sums are associative, so the result
is bit-identical regardless of partitioning/aggregation order, in Spark
and in the DuckDB recursive-CTE oracle. (Float PageRank would differ in
the last ulp per engine and fail a value-hash gate.)

Scale design (100 TB): per round, one hash-join of ranks to the
degree-annotated edge list (both partitioned on the join key) and one
groupBy(dst) — two shuffles bounded by |E|; ``localCheckpoint`` truncates
the 5-round lineage. This is the standard large-graph iteration shape
(Pregel-without-the-framework); rounds are fixed (5), not
convergence-driven, to keep the oracle finite.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructField, StructType

from streamline_hybrid_engine_spark.catalog import (
    EDGES_PER_LOOP_TASK,
    _fan_out,
    load_table,
    partition_width,
)
from streamline_hybrid_engine_spark.iteration import iterate
from streamline_hybrid_engine_spark.registry import query


def local_components(d1: np.ndarray, d2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of an in-memory edge list: ``(ids, labels)``,
    each distinct endpoint once, in id order, labelled with the minimum id
    of its component.

    ``np.unique`` compacts the ids to ``0..m-1`` in id order, so a minimum
    over compact indices is a minimum over ids. Every label is a root (a
    vertex labelled with itself). Each round hooks the roots at both ends
    of every edge to the smaller of the two, then pointer-jumps every
    label to its root; it stops at the first round that changes nothing.
    Labels only fall and never leave their component, and at the fixpoint
    both ends of every edge share one root, which is at most every vertex
    that points at it: the component minimum.
    """
    ids, inv = np.unique(np.concatenate([d1, d2]), return_inverse=True)
    a, b = inv[: len(d1)], inv[len(d1) :]
    lab = np.arange(len(ids))
    while True:
        la, lb = lab[a], lab[b]
        lo = np.minimum(la, lb)
        hooked = lab.copy()
        np.minimum.at(hooked, np.concatenate([la, lb]), np.concatenate([lo, lo]))
        while not np.array_equal(jumped := hooked[hooked], hooked):
            hooked = jumped
        if np.array_equal(hooked, lab):
            return ids, ids[lab]
        lab = hooked


def contract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one partition's ``(d1, d2)`` edges → ``(vid,
    label)``, each vertex of the partition once with its local component
    minimum. The whole partition is one edge list, so its batches are
    joined before the contraction."""
    d1, d2 = [], []
    for pdf in batches:
        d1.append(pdf["d1"].to_numpy())
        d2.append(pdf["d2"].to_numpy())
    if sum(map(len, d1)):
        ids, labels = local_components(np.concatenate(d1), np.concatenate(d2))
        yield pd.DataFrame({"vid": ids, "label": labels})


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 25
) -> DataFrame:
    """Connected components over an explicit edge list — the Gelly
    ``ConnectedComponents`` analog (SURVEY §1.1 iterations → driver-side
    loop). Returns ``(vid, label)`` where ``label`` is the component's
    minimum vertex id; vertices are those that appear in ``edges`` other
    than in a self-loop (callers union in isolated vertices as
    singletons). Ids take ``src``'s type.

    Algorithm: contract, then iterate over what crosses partitions (Łącki
    et al., "Connected Components at Scale via Local Contractions",
    arXiv:1807.10727).

    1. **Contract.** One numpy kernel (:func:`contract_partition`) runs
       over the input's own partitions, with no shuffle, and labels each
       partition's vertices with their local component minimum. Its
       output is checkpointed once. If the checkpoint has one partition,
       every edge was contracted together and the labels are final.
    2. **Link.** A vertex seen in several partitions links their local
       roots: each of its local labels to the smallest. No links means no
       component crosses a partition, and no loop round runs. The event
       session graph is this case at any scale: it reaches the kernel
       partitioned by user.
    3. **Iterate on the links only.** Min-label propagation runs on
       :func:`iterate` over the root-link graph, whose vertices are the
       local roots, at a width sized from the link count
       (``catalog.partition_width`` at ``EDGES_PER_LOOP_TASK``). Each
       round takes the min label across neighbors, hooks every group of
       vertices that share a label to its lowest result and replaces each
       label by its label's label (path doubling), so it needs
       O(log diameter) rounds of the link graph. Every step keeps a label
       inside its component and only lowers it, so the fixpoint is exactly
       the component minimum. Every vertex then takes its smallest local
       root's final label.
    """
    vid_type = edges.schema[src].dataType
    pairs = edges.select(
        F.col(src).alias("d1"), F.col(dst).cast(vid_type).alias("d2")
    ).filter(F.col("d1") != F.col("d2"))
    schema = StructType([StructField("vid", vid_type), StructField("label", vid_type)])
    local = pairs.mapInPandas(contract_partition, schema).localCheckpoint(eager=True)
    if local.rdd.getNumPartitions() <= 1:
        return local
    per_vid = (
        local.groupBy("vid")
        .agg(F.min("label").alias("root"), F.collect_set("label").alias("roots"))
        .localCheckpoint(eager=False)
    )
    links = per_vid.select(
        F.explode("roots").alias("d1"), F.col("root").alias("d2")
    ).filter(F.col("d1") != F.col("d2"))
    n_links = links.count()
    if n_links == 0:
        return per_vid.select("vid", F.col("root").alias("label"))
    roots, settled = _link_labels(links, n_links, max_rounds)
    if not settled:
        warnings.warn(
            "connected_components: label propagation did not converge in "
            f"{max_rounds} rounds — a component has diameter > ~2^{max_rounds}; "
            "labels for that component are NOT the component minimum",
            RuntimeWarning,
            stacklevel=2,
        )
    roots = roots.select(F.col("vid").alias("root"), F.col("label").alias("final"))
    return per_vid.join(roots, "root", "left").select(
        "vid", F.coalesce("final", "root").alias("label")
    )


def _link_labels(
    links: DataFrame, n_links: int, max_rounds: int
) -> tuple[DataFrame, bool]:
    """Min-label propagation with hooking and pointer jumping over the root
    links ``(d1, d2)``: the ``(vid, label)`` of every root that has a link, and
    whether the loop reached its fixpoint within ``max_rounds``."""
    n_parts = partition_width(links.sparkSession, 2 * n_links, EDGES_PER_LOOP_TASK)
    # persist, NOT localCheckpoint (r12: a checkpointed LogicalRDD forgets
    # its partitioning, so the d2-repartition never reached the round
    # joins): with the cache's hashpartitioning(d2) visible, the per-round
    # adj⋈labels join exchanges only the |V|-row label side — the
    # adjacency never re-shuffles. The distinct rides the same exchange
    # (a d2 partitioning clusters every (d1, d2)): many boundary vertices
    # can link the same two roots. The first round's job fills the cache.
    adj = (
        links.union(links.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        .repartition(n_parts, "d2")
        .distinct()
        .persist()
    )
    labels = (
        adj.select(F.col("d1").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("label"))
    )

    def cc_round(labels: DataFrame) -> DataFrame:
        labels = labels.drop("moved")
        nbr_min = (
            adj.join(labels, adj.d2 == labels.vid)
            .groupBy(adj.d1.alias("vid"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.withColumnRenamed("label", "old")
            .join(nbr_min, "vid", "left")
            .select(
                "vid",
                "old",
                F.least(F.col("old"), F.coalesce("nbr_min", F.col("old"))).alias(
                    "mid"
                ),
            )
        )
        # two ways down per round, both against the PREVIOUS round's
        # (already checkpointed) labels, so a round needs one
        # materialization:
        # - pointer jump, label' := prevL(mid): prevL(m) ≤ m and stays in
        #   the component. `mid` values are vertex ids (mins over labels,
        #   which are ids), so the lookup always hits; coalesce is defensive.
        # - hook: every vertex that shares a label takes the smallest mid
        #   among them, so a whole label group follows its lowest neighbor
        #   (Shiloach-Vishkin hooking). Without it, ids that do not fall
        #   along a path make the jumps short and the loop needs O(diameter)
        #   rounds (a pure-Python model of this round: 53 on a 120-vertex
        #   chain of shuffled ids, 8 with the hook).
        # Both keep the invariant: a label stays in its component and only
        # falls.
        hook = stepped.groupBy(F.col("old").alias("hv")).agg(F.min("mid").alias("hk"))
        ptr = labels.select(F.col("vid").alias("pv"), F.col("label").alias("pl"))
        jumped = F.least(F.col("mid"), F.coalesce("pl", "mid"), F.col("hk"))
        return (
            stepped.join(hook, stepped.old == hook.hv)
            .join(ptr, stepped.mid == ptr.pv, "left")
            .select(
                "vid",
                jumped.alias("label"),
                (jumped != F.col("old")).alias("moved"),
            )
            .coalesce(n_parts)
        )

    # the first round always moves (every link's larger root adopts a
    # smaller label), so it runs unprobed; the rest stop at the fixpoint
    labels, _ = iterate(cc_round, labels, 1)
    labels, settled = iterate(
        cc_round,
        labels,
        max_rounds - 1,
        until=lambda labels: labels.filter(F.col("moved")),
        release=adj,
    )
    return labels.drop("moved"), settled


N_ROUNDS = 5
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as integer ratio
SCALE = 1_000_000  # fixed-point 1e6
BASE = (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN  # (1-d) * scale = 150000

_PR_ORACLE = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT 'c' || c AS src, 's' || s AS dst FROM edges
  UNION ALL
  SELECT 's' || s AS src, 'c' || c AS dst FROM edges
),
deg AS (SELECT src, count(*) AS d FROM und GROUP BY src),
pr AS (
  SELECT 0 AS iter, src AS v, CAST({SCALE} AS BIGINT) AS r FROM deg
  UNION ALL
  SELECT contrib.iter + 1, d2.src,
         CAST({BASE} + ({DAMP_NUM} * contrib.total) // {DAMP_DEN} AS BIGINT)
  FROM (SELECT p2.iter AS iter, u.dst AS v, sum(p2.r // dg.d) AS total
        FROM pr p2
        JOIN deg dg ON dg.src = p2.v
        JOIN und u ON u.src = p2.v
        WHERE p2.iter < {N_ROUNDS}
        GROUP BY p2.iter, u.dst) contrib
  JOIN deg d2 ON d2.src = contrib.v
)
SELECT v AS vertex, r AS rank_fp FROM pr WHERE iter = {N_ROUNDS}
"""


@query("graph_pagerank_suppliers", oracle=_PR_ORACLE, tags=("graph", "iterative"))
def graph_pagerank_suppliers(
    spark: SparkSession, sf_dir: str, shuffle_width: int | None = None
) -> DataFrame:
    """PageRank over the customer↔supplier trading graph (distinct
    (custkey, suppkey) pairs from orders⋈lineitem, undirected), 5 rounds,
    damping 0.85, fixed-point integer ranks.

    The business read: suppliers with high rank trade with customers who
    themselves trade widely — the Gelly PageRank example re-expressed as
    DataFrame rounds. Every vertex of the undirected graph has degree ≥ 1,
    so there is no dangling-mass term.

    ``shuffle_width``: ``None`` (default) broadcasts the |V|-row rank
    table into each round over an adjacency partitioned at the core
    count (the fixture-proven plan — PageRank runs no measuring job, so
    the width rule gets no size; the caller at scale picks via the
    exported ``lpa_shuffle_width`` arithmetic, which governs this rank
    table identically); ``> 0`` runs the rounds as co-partitioned
    merge joins at that width — the adjacency is
    pre-partitioned on src once, each round exchanges only the |V|-row
    rank side, and the merge hint keeps AQE from re-inflating the
    broadcast (r8: the LPA valve's pattern applied to its sibling loop;
    result-identical + plan-pinned in tests/test_graph.py)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # vertex ids are LONGS inside the loop (even = customer 2k, odd =
    # supplier 2k+1): 8-byte join keys and checkpoints instead of strings
    # — the string names the contract output uses are minted once at the
    # end (measured ~25% off the 5-round loop at sf0.1)
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    und = edges.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        edges.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("d"))
    # degree-annotated adjacency, materialized once for the 5 rounds.
    # persist + eager count, NOT localCheckpoint (same r12 finding as the
    # LPA loop: a checkpointed LogicalRDD reports UnknownPartitioning, so
    # the old "checkpoint pins the partitioning" claim never held): with
    # the cache's partitioning visible, the broadcast round's
    # groupBy(dst) runs exchange-free over the dst-partitioned adjacency
    # (1 exchange/round → 0), and the shuffle path's merge join stops
    # re-exchanging the |E|-row side (src-partitioned, only the rank
    # side moves).
    adj = und.join(deg, "src")
    if shuffle_width:
        adj = adj.repartition(shuffle_width, "src")
    else:
        adj = adj.repartition(partition_width(spark), "dst")
    adj = adj.persist()
    adj.count()
    # initial ranks from the materialized adjacency (und is symmetric, so
    # distinct dst == the vertex set) — before r12 this re-ran the whole
    # orders⋈lineitem edge build a second time for round 1's broadcast
    ranks = (
        adj.select(F.col("dst").alias("v"))
        .distinct()
        .select("v", F.lit(SCALE).cast("long").alias("r"))
    )

    def pr_round(ranks: DataFrame) -> DataFrame:
        # ranks is |V| rows of (long, long) — orders of magnitude smaller
        # than the edge list. Broadcasting it makes each round a map-side
        # join over the cached adjacency (edges never re-shuffle;
        # measured ~35% over the shuffle-join rounds). When the rank
        # table outgrows executor memory, shuffle_width > 0 runs the
        # same round as a co-partitioned merge join instead.
        rk = ranks.hint("merge") if shuffle_width else F.broadcast(ranks)
        contrib = (
            adj.join(rk, adj.src == ranks.v)
            .groupBy("dst")
            .agg(F.sum(F.expr("r div d")).alias("total"))
        )
        return contrib.select(
            F.col("dst").alias("v"),
            (
                F.lit(BASE)
                + F.expr(f"({DAMP_NUM} * total) div {DAMP_DEN}")
            ).cast("long").alias("r"),
        )

    ranks, _ = iterate(pr_round, ranks, N_ROUNDS, release=adj)
    name = F.when(
        F.col("v") % 2 == 0,
        F.concat(F.lit("c"), (F.col("v") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("v") - 1) / 2).cast("long").cast("string"))
    )
    return ranks.select(name.alias("vertex"), F.col("r").alias("rank_fp"))


_TRI_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT count(*)
        FROM pairs e1
        JOIN pairs e2 ON e2.p = e1.q
        JOIN pairs e3 ON e3.p = e1.p AND e3.q = e2.q) AS n_triangles
"""


def triangle_per_edge_counts(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Build (pairs, per_edge_triangle_counts) for the part co-purchase
    graph. ``checkpoint=False`` keeps the full lineage visible so plan
    tests can assert the traversal is equi/broadcast-join only."""

    def ckpt(df: DataFrame) -> DataFrame:
        # lazy (r13): blocks materialize inside the first consumer's job
        # (the broadcast builds / final count) — persist semantics still
        # guarantee the self-join runs once; eager paid 2 extra jobs
        return df.localCheckpoint(eager=False) if checkpoint else df

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    other = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("q")
    )
    # checkpointed once: reused by the edge count, the degree agg, and the
    # orientation join (without this the lineitem self-join runs 3×)
    pairs = ckpt(
        li.join(other, (li.l_orderkey == other.o2) & (li.l_partkey < other.q))
        .select(F.col("l_partkey").alias("p"), "q")
        .distinct()
    )
    # undirected degree, then orient each edge low→high by (degree, id);
    # deg is |V| rows — broadcast, so the annotation never shuffles edges
    deg = (
        pairs.select(F.col("p").alias("v"))
        .union(pairs.select(F.col("q").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dp = F.broadcast(deg.select(F.col("v").alias("p"), F.col("d").alias("dp")))
    dq = F.broadcast(deg.select(F.col("v").alias("q"), F.col("d").alias("dq")))
    # reused by the adjacency agg AND the per-edge probe
    oriented = ckpt(
        pairs.join(dp, "p")
        .join(dq, "q")
        .select(
            F.when(
                (F.col("dp") < F.col("dq"))
                | ((F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q"))),
                F.struct(F.col("p").alias("u"), F.col("q").alias("w")),
            )
            .otherwise(F.struct(F.col("q").alias("u"), F.col("p").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    # Adjacency-intersection counting: a triangle x→y→z (orientation is a
    # total order, so its edges are x→y, x→z, y→z) is found exactly once,
    # at edge (x,y), as z ∈ N⁺(x) ∩ N⁺(y). Materializing per-vertex
    # out-neighbor arrays and intersecting per edge does O(Σ_e outdeg(u)+
    # outdeg(v)) hash-set work inside codegen — the O(E^1.5) wedge set is
    # never created as rows (a join-based wedge enumeration measured 9×
    # slower than DuckDB's on this graph; this form is at parity).
    # Orientation bounds every out-degree by O(√E), so the arrays have no
    # skewed tail; adj is |V| rows ≈ |E| total elements — broadcast here,
    # a co-partitioned shuffle join when the graph outgrows that.
    adj = oriented.groupBy("u").agg(F.collect_list("w").alias("nbrs"))
    au = F.broadcast(adj.select(F.col("u").alias("a1"), F.col("nbrs").alias("nu")))
    av = F.broadcast(adj.select(F.col("u").alias("a2"), F.col("nbrs").alias("nv")))
    stream = _fan_out(oriented) if checkpoint else oriented
    per_edge = (
        stream.join(au, F.col("u") == F.col("a1"))
        .join(av, F.col("w") == F.col("a2"))  # inner: a sink vertex has no
        # out-neighbors and contributes 0 triangles at this edge anyway
        .select(F.size(F.array_intersect("nu", "nv")).alias("t"))
    )
    return pairs, per_edge


@query("graph_triangle_count", oracle=_TRI_ORACLE, tags=("graph",))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (edges: two parts
    sharing an order) — the third Gelly staple after PageRank and CC.

    Scale design: the naive three-way self-join the oracle runs enumerates
    every wedge at a HIGH-degree vertex — a popular part with degree d
    contributes d² candidates, which is the thing that dies first on a
    100 TB co-occurrence graph. The engine instead (1) orients each edge
    from its (degree, id)-smaller endpoint — a total order, so each
    triangle x→y→z is found exactly once and every out-degree is bounded
    by O(√E); then (2) counts per edge (u,v) as |N⁺(u) ∩ N⁺(v)| by
    intersecting broadcast per-vertex out-neighbor arrays inside codegen —
    the O(E^1.5) wedge set is never materialized as rows (a join-based
    wedge enumeration measured ~3× slower at sf0.1). Degree annotation and
    adjacency both broadcast (|V|-sized); on a graph where they cannot,
    each broadcast join degrades to a co-partitioned shuffle join with the
    same semantics. Orientation changes which formulation finds each
    triangle, never the count, so the naive oracle stays exact.
    """
    pairs, per_edge = triangle_per_edge_counts(spark, sf_dir)
    n_edges = pairs.count()
    n_tri = per_edge.agg(F.sum("t")).collect()[0][0] or 0
    row = [(n_edges, int(n_tri))]
    return spark.createDataFrame(row, "n_edges bigint, n_triangles bigint")


N_SSSP = 4  # hop bound — keeps the oracle's BFS CTE finite

_SSSP_ORACLE = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT 'c' || c AS src, 's' || s AS dst FROM edges
  UNION ALL
  SELECT 's' || s AS src, 'c' || c AS dst FROM edges
),
root AS (SELECT 'c' || min(c) AS v FROM edges),
walk AS (
  SELECT v, 0 AS d FROM root
  UNION
  SELECT u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v
  WHERE w.d < {N_SSSP}
)
SELECT v AS vertex, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY v
"""


@query("graph_sssp_hops", oracle=_SSSP_ORACLE, tags=("graph", "iterative"))
def graph_sssp_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded single-source shortest paths over the customer↔supplier
    trading graph (source = smallest customer id, unit edge weights,
    ≤ {N_SSSP} hops) — the fourth Gelly staple after PageRank, CC, and
    triangle counting, and specifically the DELTA-iteration shape
    (Flink ``DataSet.iterateDelta``, SURVEY §1.1): each round joins the
    adjacency against only the FRONTIER (vertices first reached last
    round), not the whole solution set.

    Unit weights make BFS exact: the first round that reaches a vertex
    assigns its final distance, so the per-round merge is a left-anti
    join (newly-reached only) and never revises — hop counts are
    integers, deterministic under any partitioning. The loop stops early
    when a round reaches nothing new.

    Scale design (100 TB): the adjacency is checkpointed once and never
    re-shuffles; per round one join frontier⋈adjacency (frontier
    broadcast while it fits — drop the hint and the same loop runs
    co-partitioned) + one min-groupBy + one anti join, all bounded by
    |E|; the rounds run on :func:`iterate` like the CC and PageRank
    loops, with the frontier flagged in the distance table. The oracle's
    recursive CTE uses UNION (set) semantics so its state is bounded by
    |V|×hops, not walk enumeration.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # same long-id vertex encoding as PageRank (even = customer 2k,
    # odd = supplier 2k+1): 8-byte keys in the loop, names minted at the end
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    und = edges.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        edges.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # dst-partitioned persist + eager count (the r12 LPA/PageRank
    # finding): each round's groupBy(dst) after the broadcast frontier
    # join runs exchange-free over the cached adjacency — a checkpoint
    # would forget the partitioning (UnknownPartitioning) and re-insert
    # the exchange every round
    adj = und.repartition(partition_width(spark), "dst").persist()
    adj.count()
    # source vertex off the materialized adjacency (even parity = customer
    # ids; und is symmetric so every c appears as src) — before r12 this
    # re-ran the whole orders⋈lineitem edge build a second time
    root = (
        adj.filter(F.col("src") % 2 == 0).agg(F.min("src")).collect()[0][0]
    )  # 1-row scalar, like the triangle total — not a data loop
    dist = spark.createDataFrame(
        [(int(root), 0, True)], "v long, dist int, fresh boolean"
    )

    def bfs_round(dist: DataFrame) -> DataFrame:
        frontier = dist.filter(F.col("fresh"))
        reached = (
            adj.join(F.broadcast(frontier), adj.src == frontier.v)
            .groupBy(F.col("dst").alias("nv"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        fresh = reached.join(
            dist.select(F.col("v").alias("nv")), "nv", "left_anti"
        ).select(
            F.col("nv").alias("v"),
            F.col("nd").cast("int").alias("dist"),
            F.lit(True).alias("fresh"),
        )
        return dist.select("v", "dist", F.lit(False).alias("fresh")).union(fresh)

    dist, _ = iterate(
        bfs_round,
        dist,
        N_SSSP,
        until=lambda dist: dist.filter(F.col("fresh")),
        release=adj,
    )
    name = F.when(
        F.col("v") % 2 == 0,
        F.concat(F.lit("c"), (F.col("v") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("v") - 1) / 2).cast("long").cast("string"))
    )
    return dist.select(name.alias("vertex"), F.col("dist").cast("long").alias("dist"))


GAP_US = 600_000_000  # 10-minute session-chain gap, in microseconds

_CC_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS uts FROM events
),
lagged AS (
  SELECT event_id, lag(event_id) OVER w AS prev,
         epoch_us(uts) - epoch_us(lag(uts) OVER w) AS gap_us
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY uts, event_id)
),
edges AS (
  SELECT prev AS src, event_id AS dst FROM lagged
  WHERE prev IS NOT NULL AND gap_us <= {GAP_US}
),
und AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
reach AS (
  SELECT event_id AS a, event_id AS b FROM events
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
)
SELECT a AS event_id, min(b) AS component_id,
       CAST(count(*) OVER (PARTITION BY min(b)) AS BIGINT) AS component_size
FROM reach GROUP BY a
"""


@query("graph_connected_components", oracle=_CC_ORACLE, tags=("graph", "iterative"))
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a first-class graph operator — completes the
    Gelly triple (PageRank, CC, triangle count) with an explicit edge input
    rather than the LSH candidate graph `llm_dedup_clusters` iterates over.

    Edge input: the event-session chain graph — consecutive events of the
    same user linked when ≤ 10 minutes apart. Components ARE the sessions,
    so this doubles as graph-based sessionization (the gaps-and-islands
    alternative to `win_session_30m_batch`). Chains are the worst case for
    plain min-label propagation (rounds = chain length). Here no loop
    round runs at all: the window hands :func:`connected_components` its
    edges partitioned by user, so every chain is contracted whole inside
    one partition and no root crosses a partition. Events with no
    neighbor within the gap are singleton components, unioned in after.

    Oracle: recursive-CTE transitive closure (min reachable id per event).
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_id",
        F.lag("event_id").over(w).alias("src"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    edges = lagged.filter(
        F.col("src").isNotNull() & (F.col("gap_us") <= GAP_US)
    ).select("src", F.col("event_id").alias("dst"))
    labels = connected_components(edges, "src", "dst")
    verts = labels.select(
        F.col("vid").alias("event_id"), F.col("label").alias("component_id")
    )
    singles = (
        ev.select("event_id")
        .join(verts.select("event_id"), "event_id", "left_anti")
        .select("event_id", F.col("event_id").alias("component_id"))
    )
    size = F.count("*").over(Window.partitionBy("component_id"))
    return (
        verts.unionByName(singles)
        .select("event_id", "component_id", size.alias("component_size"))
    )


K_CORE = 3  # peel threshold — vertices surviving need >= 3 distinct neighbors


@query("graph_kcore", oracle=None, tags=("graph", "iterative"))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=3) of the customer↔supplier trading graph
    — the Gelly-adjacent dense-subgraph primitive (community cores, spam
    rings, bot cliques): iteratively PEEL vertices with fewer than k
    distinct neighbors until no vertex falls below k; what survives is
    the k-core. Deterministic regardless of peel order (the k-core is
    unique — the maximal subgraph of min-degree ≥ k), so the result is
    partitioning-stable without any tiebreak machinery.

    Rows-only in the driver gate: the peel is a DELETION fixpoint, which
    monotone-append recursive CTEs cannot express — the exact oracle
    lives in tests/test_graph.py as a pure-Python peel over the same
    edges. Scale design mirrors the CC/SSSP loops: the edge list is
    checkpointed once; each round is one degree groupBy + two left joins
    that flag the edges touching peeled vertices, all bounded by |E|. The
    rounds run on :func:`iterate`, O(peel-depth) of them (shallow on
    heavy-tailed graphs, where most mass survives round 1 or dies
    immediately), and the loop stops the first round nothing peels."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    und = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .withColumn("peeled", F.lit(False))
        .localCheckpoint(eager=False)
    )

    def peel_round(und: DataFrame) -> DataFrame:
        live = und.filter(~F.col("peeled")).select("src", "dst")
        core = (
            live.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= K_CORE)
        )
        src_in = core.select("src", F.lit(True).alias("src_in"))
        dst_in = core.select(F.col("src").alias("dst"), F.lit(True).alias("dst_in"))
        peeled = F.col("src_in").isNull() | F.col("dst_in").isNull()
        return (
            live.join(src_in, "src", "left")
            .join(dst_in, "dst", "left")
            .select("src", "dst", peeled.alias("peeled"))
        )

    # peel depth bound of 50 rounds; trading graphs are shallow
    und, _ = iterate(
        peel_round, und, 50, until=lambda und: und.filter(F.col("peeled"))
    )
    deg = (
        und.filter(~F.col("peeled"))
        .groupBy("src")
        .agg(F.count("*").alias("core_degree"))
    )
    return deg.select(F.col("src").alias("vertex"), "core_degree")


LPA_ROUNDS = 4
#: long vid + long label, pre-serialization — the unit SCALE.md's
#: broadcast arithmetic is written in (10 MB threshold → ~600k vertices).
LPA_LABEL_BYTES = 16


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """autoBroadcastJoinThreshold in bytes (supports the '10MB'/'10m'
    spellings Spark accepts); ≤0 (broadcast disabled) → 0 so every
    size-based check flips to the shuffle path."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        val = int(raw) * mult
    except ValueError:
        val = 10 << 20
    return max(0, val)


def lpa_shuffle_width(
    spark: SparkSession,
    n_verts: int,
    n_und: int,
    broadcast_threshold_bytes: int,
) -> int:
    """The SCALE.md "LPA broadcast→shuffle switchover", as arithmetic:
    0 = broadcast the |V|-row label table each round (fits the driver and
    every executor while |V| × 16 B stays inside the broadcast threshold —
    ~600k vertices at the 10 MB default); otherwise a co-partitioned
    shuffle width sized from the MEASURED adjacency row count (the
    ``EDGES_PER_LOOP_TASK`` rule the CC loop uses)."""
    if n_verts * LPA_LABEL_BYTES <= broadcast_threshold_bytes:
        return 0
    return partition_width(spark, n_und, EDGES_PER_LOOP_TASK)


def _lpa_round(und: DataFrame, labels: DataFrame, shuffle_width: int) -> DataFrame:
    """One synchronous LPA round (pre-checkpoint): neighbor label counts,
    then the per-vertex argmax. Broadcast form joins the hinted label
    table to the checkpointed adjacency; shuffle form (width > 0) pins a
    merge join — the label side hash-exchanges on v, the adjacency side
    was pre-partitioned on src once before the loop, so every round
    reuses its partitioning (no per-round exchange of the big side, and
    the merge hint keeps AQE from re-inflating the broadcast)."""
    lbl = labels.hint("merge") if shuffle_width else F.broadcast(labels)
    votes = (
        und.join(lbl, und.src == labels.v)
        .groupBy(F.col("dst").alias("v2"), "l")
        .agg(F.count("*").alias("cnt"))
    )
    # per-vertex argmax as a HASH AGGREGATE (max_by over the
    # (cnt, -l) struct — max count, ties to the smaller label), not a
    # row_number window: partial max_by reduces map-side and there is
    # no per-partition sort (same rewrite as llm_knn_ivf's top-1
    # picks). Locally the rounds are join-dominated so wall time is
    # flat; at cluster scale the dropped sort is the win
    return votes.groupBy(F.col("v2").alias("v")).agg(
        F.max_by("l", F.struct(F.col("cnt"), (-F.col("l")).alias("nl"))).alias(
            "l"
        )
    )


def lpa_labels(
    spark: SparkSession, sf_dir: str, shuffle_width: int | None = None
):
    """Shared LPA core: returns (labels, edges) with NUMERIC vertex ids
    (customers even, suppliers odd) after LPA_ROUNDS synchronous rounds —
    consumed by graph_label_propagation (display form), graph_modularity
    (quality score) and graph_community_sizes.

    ``shuffle_width``: ``None`` (default) auto-selects per
    :func:`lpa_shuffle_width` — |V| is measured from the checkpointed
    adjacency's self-loop rows (already in memory: no extra scan of the
    source tables) and the broadcast round is kept while the label table
    fits the broadcast threshold, which covers every fixture scale;
    ``0`` forces the broadcast round; ``> 0`` forces the co-partitioned
    shuffle round at that width (the 100 TB path — r7 verdict task 4
    turned SCALE.md's documented one-liner into this tested parameter).
    On the broadcast path the adjacency is partitioned at
    ``partition_width`` of the measured adjacency rows, or at the core
    count when the caller forced the path and nothing was measured.
    Both paths run the
    identical round algebra (:func:`_lpa_round`), so results are
    bit-identical by construction and pinned by test.

    Returned ``edges`` is localCheckpointed alongside the loop: the three
    Q-score consumers each evaluate it 2-3× (intra-edge count, degree
    table, |E|) and re-ran the orders⋈lineitem distinct from parquet for
    every evaluation before r12."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # lazy checkpoint: materializes as a side effect of the first job that
    # reads it (the sizes agg below), then serves every later evaluation —
    # the und build AND the consumers' edge passes — from memory
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_und = None  # unmeasured when the caller forces a width
    if shuffle_width is None:
        # one job over the (now-materialized) edge checkpoint: |E| plus
        # per-side distinct endpoint counts (disjoint by parity, so they
        # sum to |V|) — same numbers the r11 self-loop probe measured
        sizes = edges.agg(
            F.count("*").alias("n_e"),
            F.countDistinct("c").alias("n_c"),
            F.countDistinct("s").alias("n_s"),
        ).first()
        n_verts = sizes["n_c"] + sizes["n_s"]
        n_und = 2 * sizes["n_e"] + n_verts
        shuffle_width = lpa_shuffle_width(
            spark, n_verts, n_und, _broadcast_threshold_bytes(spark)
        )
    verts = (
        edges.select(F.col("c").alias("v"))
        .union(edges.select(F.col("s").alias("v")))
        .distinct()
    )
    und = (
        edges.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(edges.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .union(verts.select(F.col("v").alias("src"), F.col("v").alias("dst")))
    )
    if shuffle_width:
        # pre-partition the big side ONCE on src so each round's merge
        # join exchanges only the |V|-row label side
        und = und.repartition(shuffle_width, "src")
    else:
        # broadcast rounds: pre-partition ONCE on dst instead. The round's
        # broadcast join preserves the streamed side's partitioning, and
        # hashpartitioning(dst) satisfies the clustering of BOTH round
        # aggregates (groupBy(dst, l) and groupBy(v2=dst)), so every round
        # is a single zero-exchange stage over the in-memory adjacency —
        # 2 exchanges/round → 0 (plan-pinned in tests/test_graph.py)
        und = und.repartition(
            partition_width(spark, n_und, EDGES_PER_LOOP_TASK), "dst"
        )
    # persist, NOT localCheckpoint: a checkpointed LogicalRDD forgets its
    # partitioning (UnknownPartitioning — measured r12), which would put
    # the per-round exchanges right back; InMemoryRelation keeps the
    # repartition in the plan so downstream rounds see it. The count()
    # materializes the cache NOW (same job count as the old eager
    # checkpoint) — required, because the partitioning only becomes
    # visible to round planning once the cached AQE plan is final; with
    # it every broadcast round is ONE stage (join + both aggregates,
    # zero exchanges — measured r12). Dropped blocks (bench
    # drop_run_state) recompute from lineage instead of failing like a
    # dead checkpoint.
    und = und.persist()
    und.count()
    # initial labels from the persisted self-loop rows: identical rows
    # to verts (one per vertex), no second distinct exchange
    labels = und.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("v"), F.col("src").alias("l")
    )
    labels, _ = iterate(
        lambda labels: _lpa_round(und, labels, shuffle_width),
        labels,
        LPA_ROUNDS,
        release=und,
    )
    return labels, edges


def _lpa_round_sql(prev: str) -> str:
    """One synchronous LPA round (DuckDB dialect): each vertex adopts the
    most frequent label among its neighbors + itself, ties to the
    smallest label. Unrolled per round — a deletion-free but
    argmax-per-group update that recursive CTEs can't express in one
    self-reference (the counts and the per-group max would both need the
    recursive table)."""
    return f"""(
      SELECT v, l FROM (
        SELECT u.dst AS v, p.l AS l,
               row_number() OVER (PARTITION BY u.dst
                                  ORDER BY count(*) DESC, p.l) AS rn
        FROM {prev} p JOIN und u ON u.src = p.v
        GROUP BY u.dst, p.l
      ) t WHERE rn = 1
    )"""


_LPA_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT c AS src, s AS dst FROM edges
  UNION ALL SELECT s, c FROM edges
  UNION ALL SELECT v, v FROM (SELECT c AS v FROM edges UNION SELECT s FROM edges)
),
r0 AS (SELECT DISTINCT src AS v, src AS l FROM und),
r1 AS {_lpa_round_sql("r0")},
r2 AS {_lpa_round_sql("r1")},
r3 AS {_lpa_round_sql("r2")},
r4 AS {_lpa_round_sql("r3")}
SELECT CASE WHEN v % 2 = 0 THEN 'c' || CAST(v // 2 AS VARCHAR)
            ELSE 's' || CAST((v - 1) // 2 AS VARCHAR) END AS vertex,
       CASE WHEN l % 2 = 0 THEN 'c' || CAST(l // 2 AS VARCHAR)
            ELSE 's' || CAST((l - 1) // 2 AS VARCHAR) END AS community
FROM r4
"""


@query(
    "graph_label_propagation",
    oracle=_LPA_ORACLE,
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection over the customer↔supplier
    trading graph — the third Gelly flagship (after PageRank and CC;
    Gelly ships it as ``LabelPropagation``). Synchronous variant, made
    fully deterministic: each round EVERY vertex adopts the most frequent
    label among its neighbors plus itself (the self-vote damps the
    oscillation synchronous LPA suffers on bipartite graphs), ties broken
    by smallest label; fixed {LPA_ROUNDS} rounds so the oracle is finite —
    the same determinism contract as the fixed-point PageRank (async LPA,
    the textbook default, is order-dependent and could never pass a
    value-hash gate).

    Per round: one join of the (broadcast) label table to the
    checkpointed self-looped adjacency, one count per (vertex, label),
    one per-vertex argmax max_by aggregate (partial map-side — no window;
    physically SortAggregate under the struct tie-break, grouping-key
    sort only, combine intact — r7 plan audit) — all bounded by |E|, same 100 TB loop shape as
    :func:`graph_pagerank_suppliers` (drop the broadcast when |V| labels
    outgrow executors and the round becomes a co-partitioned shuffle
    join). Oracle: the identical rounds unrolled as SQL (see
    :func:`_lpa_round_sql` for why not a recursive CTE)."""
    labels, _edges = lpa_labels(spark, sf_dir)

    def name(col: str):
        return F.when(
            F.col(col) % 2 == 0,
            F.concat(F.lit("c"), (F.col(col) / 2).cast("long").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("s"), ((F.col(col) - 1) / 2).cast("long").cast("string")
            )
        )

    return labels.select(name("v").alias("vertex"), name("l").alias("community"))


# --- Link prediction: Jaccard + resource-allocation over a bipartite graph ---

_LINKPRED_ORACLE = """
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                FROM lineitem),
         sdeg AS (SELECT s, count(*) AS d FROM sp GROUP BY s),
         pdeg AS (SELECT p, count(*) AS dp FROM sp GROUP BY p),
         pairs AS (
           SELECT a.s AS s1, b.s AS s2,
                  count(*) AS common,
                  CAST(sum(CAST(floor(1000000.0 / pd.dp) AS BIGINT))
                       AS BIGINT) AS ra_micros
           FROM sp a
           JOIN sp b ON a.p = b.p AND a.s < b.s
           JOIN pdeg pd ON pd.p = a.p
           GROUP BY a.s, b.s
         )
    SELECT s1, s2, common, ra_micros,
           round(CAST(common AS DOUBLE)
                 / (d1.d + d2.d - common), 6) AS jaccard
    FROM pairs
    JOIN sdeg d1 ON d1.s = s1
    JOIN sdeg d2 ON d2.s = s2
    WHERE common >= 3
"""


@query(
    "graph_link_prediction",
    oracle=_LINKPRED_ORACLE,
    tags=("graph", "linkpred"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction scores over the supplier–part bipartite graph:
    Jaccard similarity and the Resource-Allocation index (Zhou et al.
    2009 — Adamic-Adar with 1/deg instead of 1/log deg, chosen here
    because 1/deg folds to EXACT integer micros where log's libm
    rounding is engine-specific). Candidate pairs come from the
    inverted index (suppliers sharing a part), never the n² supplier
    grid — the same bucketed-pair-generation discipline as the LSH
    dedup family; a part shared by k suppliers contributes k(k-1)/2
    candidates, so hub parts bound the blow-up and would be
    downsampled/capped at 100 TB (the standard hub-cut in RA/AA
    scoring). RA weights are floor(1e6/part_degree) summed as longs —
    order-independent; Jaccard divides exact integers once. Degree
    tables are vertex-sized → broadcast; the only big shuffle is the
    inverted-index self-join on the part key."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .repartition("p")
        .dropDuplicates(["s", "p"])
    )
    sdeg = sp.groupBy("s").agg(F.count("*").alias("d"))
    pdeg = sp.groupBy("p").agg(F.count("*").alias("dp"))
    a, b = sp.alias("a"), sp.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .join(pdeg.alias("pd"), F.col("pd.p") == F.col("a.p"))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(
            F.count("*").alias("common"),
            F.sum(
                F.floor(F.lit(1_000_000.0) / F.col("pd.dp")).cast("long")
            ).alias("ra_micros"),
        )
        .filter(F.col("common") >= 3)
    )
    d1 = sdeg.withColumnRenamed("s", "s1").withColumnRenamed("d", "d1")
    d2 = sdeg.withColumnRenamed("s", "s2").withColumnRenamed("d", "d2")
    return (
        pairs.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "common",
            "ra_micros",
            F.round(
                F.col("common").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "graph_degree_distribution",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    cd AS (SELECT count(*) AS deg FROM edges GROUP BY c),
    pd AS (SELECT count(*) AS deg FROM edges GROUP BY p)
    SELECT 'customer' AS side, deg, count(*) AS n_nodes FROM cd GROUP BY deg
    UNION ALL
    SELECT 'part' AS side, deg, count(*) AS n_nodes FROM pd GROUP BY deg
    """,
    tags=("graph", "statistics"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the bipartite customer–part purchase
    graph, both sides — the first diagnostic run before ANY graph
    algorithm here (PageRank/CC/LPA), because it is what tells you
    whether a broadcast-frontier plan or a salted-skew plan is needed:
    a power-law tail on this histogram IS the skew warning. Edge dedup
    is one distinct (map-side partial) on the joined fact; each side's
    degree is a count over that deduped edge set; the histogram rows
    are degree-count-sized (tiny). At 100 TB the edge distinct is the
    only real shuffle, and it is exactly the shuffle any downstream
    graph op needs anyway — compute this first, cache the edges, reuse."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    out = None
    for side, key in (("customer", "c"), ("part", "p")):
        deg = edges.groupBy(key).agg(F.count("*").alias("deg"))
        hist = deg.groupBy("deg").agg(F.count("*").alias("n_nodes")).select(
            F.lit(side).alias("side"), "deg", "n_nodes"
        )
        out = hist if out is None else out.unionAll(hist)
    return out


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    cd AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM edges GROUP BY c),
    pd AS (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM edges GROUP BY p),
    xy AS (
      SELECT cd.dc AS x, pd.dp AS y
      FROM edges JOIN cd ON cd.c = edges.c JOIN pd ON pd.p = edges.p
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS HUGEINT)) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS HUGEINT)) AS DOUBLE) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS assortativity
    FROM s
    """,
    tags=("graph", "statistics"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–part purchase graph: Pearson
    correlation between endpoint degrees ACROSS EDGES — do heavy buyers
    buy popular parts (r>0) or niche ones (r<0)? The one-number skew
    diagnosis that decides whether the hot customers and hot parts
    COINCIDE (compounding a shuffle hotspot) or cancel. Same exact
    integer-moment discipline as agg_corr_covar: five 128-bit integer
    sums, one closed-form double evaluation — partitioning-independent
    to the last bit. Plan: the edge dedup is the one fact-sized
    shuffle; both degree tables reduce from it and join back keyed
    (fixture-sized → broadcast; stats flip to shuffle at scale)."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cd = edges.groupBy("c").agg(F.count("*").cast("long").alias("dc"))
    pd_ = edges.groupBy("p").agg(F.count("*").cast("long").alias("dp"))
    xy = (
        edges.join(cd, "c")
        .join(pd_, "p")
        .select(F.col("dc").alias("x"), F.col("dp").alias("y"))
    )
    dec = "decimal(38,0)"
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


_MODULARITY_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT c AS src, s AS dst FROM edges
  UNION ALL SELECT s, c FROM edges
  UNION ALL SELECT v, v FROM (SELECT c AS v FROM edges UNION SELECT s FROM edges)
),
r0 AS (SELECT DISTINCT src AS v, src AS l FROM und),
r1 AS {_lpa_round_sql("r0")},
r2 AS {_lpa_round_sql("r1")},
r3 AS {_lpa_round_sql("r2")},
r4 AS {_lpa_round_sql("r3")},
lab AS (SELECT v, l FROM r4),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT c AS v FROM edges UNION ALL SELECT s AS v FROM edges)
  GROUP BY v
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
ein AS (
  SELECT CAST(count(*) AS BIGINT) AS e_in
  FROM edges e JOIN lab a ON a.v = e.c JOIN lab b ON b.v = e.s
  WHERE a.l = b.l
),
dc AS (
  SELECT CAST(count(DISTINCT a.l) AS BIGINT) AS n_comm,
         CAST(sum(CAST(d_c AS HUGEINT) * d_c) AS HUGEINT) AS sum_dc2
  FROM (
    SELECT a.l, CAST(sum(d.d) AS BIGINT) AS d_c
    FROM deg d JOIN lab a ON a.v = d.v GROUP BY a.l
  ) a
)
SELECT m.m AS n_edges, dc.n_comm AS n_communities, ein.e_in AS n_intra_edges,
       round((4.0 * m.m * ein.e_in - CAST(dc.sum_dc2 AS DOUBLE))
             / (4.0 * m.m * m.m), 6) AS modularity
FROM m, ein, dc
"""


@query(
    "graph_modularity",
    oracle=_MODULARITY_ORACLE,
    tags=("graph", "quality"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality score that
    turns 'LPA ran' into 'LPA found structure' (Q ≈ 0: no better than
    random given the degree sequence; the number every community-detection
    report leads with). Exactness: Q = Σ_c(e_c/m − (d_c/2m)²) is
    rearranged to ONE division of exact integers,
    (4·m·E_in − Σ_c d_c²) / 4m², so the cross-engine hash can't drift
    even though Q is a ratio of graph-sized counts. Composition: labels
    come from the SHARED lpa_labels() core (the oracle re-unrolls the
    same rounds, so a drift in either LPA implementation also fails
    THIS id); the score adds one label-equijoin over edges + two
    group-count-sized aggregates to the audited LPA plan."""
    labels, edges = lpa_labels(spark, sf_dir)
    a = labels.select(F.col("v").alias("c"), F.col("l").alias("lc"))
    b = labels.select(F.col("v").alias("s"), F.col("l").alias("ls"))
    e_in = (
        edges.join(a, "c")
        .join(b, "s")
        .filter(F.col("lc") == F.col("ls"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    deg = (
        edges.select(F.col("c").alias("v"))
        .unionAll(edges.select(F.col("s").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    dec = "decimal(38,0)"
    dc = (
        deg.join(labels, "v")
        .groupBy("l")
        .agg(F.sum("d").cast("long").alias("d_c"))
        .agg(
            F.countDistinct("l").cast("long").alias("n_comm"),
            F.sum((F.col("d_c").cast(dec) * F.col("d_c")).cast(dec)).alias(
                "sum_dc2"
            ),
        )
    )
    m = edges.agg(F.count("*").cast("long").alias("m"))
    return (
        m.crossJoin(e_in)
        .crossJoin(dc)
        .select(
            F.col("m").alias("n_edges"),
            F.col("n_comm").alias("n_communities"),
            F.col("e_in").alias("n_intra_edges"),
            F.round(
                (
                    4.0 * F.col("m") * F.col("e_in")
                    - F.col("sum_dc2").cast("double")
                )
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )


_COMMUNITY_SIZES_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT c AS src, s AS dst FROM edges
  UNION ALL SELECT s, c FROM edges
  UNION ALL SELECT v, v FROM (SELECT c AS v FROM edges UNION SELECT s FROM edges)
),
r0 AS (SELECT DISTINCT src AS v, src AS l FROM und),
r1 AS {_lpa_round_sql("r0")},
r2 AS {_lpa_round_sql("r1")},
r3 AS {_lpa_round_sql("r2")},
r4 AS {_lpa_round_sql("r3")},
sizes AS (
  SELECT l, CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_customers,
         CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suppliers
  FROM r4 GROUP BY l
)
SELECT n_vertices AS community_size,
       CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(n_customers) AS BIGINT) AS customers_in_size,
       CAST(sum(n_suppliers) AS BIGINT) AS suppliers_in_size
FROM sizes GROUP BY community_size
"""


@query(
    "graph_community_sizes",
    oracle=_COMMUNITY_SIZES_ORACLE,
    tags=("graph", "statistics"),
)
def graph_community_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community size distribution of the LPA labels (with the
    customer/supplier split per size class) — the histogram read next
    to graph_modularity's single Q number: one giant community + dust
    means LPA collapsed (bipartite oscillation's signature), a heavy
    mid-tail means real structure. Third consumer of the shared
    lpa_labels() core; adds two group-count-sized aggregates to the
    audited LPA plan, nothing fact-sized."""
    labels, _edges = lpa_labels(spark, sf_dir)
    sizes = labels.groupBy("l").agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.sum(F.when(F.col("v") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_customers"),
        F.sum(F.when(F.col("v") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
    )
    return sizes.groupBy(
        F.col("n_vertices").alias("community_size")
    ).agg(
        F.count("*").alias("n_communities"),
        F.sum("n_customers").cast("long").alias("customers_in_size"),
        F.sum("n_suppliers").cast("long").alias("suppliers_in_size"),
    )

_MODULARITY_BY_COMM_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
und AS (
  SELECT c AS src, s AS dst FROM edges
  UNION ALL SELECT s, c FROM edges
  UNION ALL SELECT v, v FROM (SELECT c AS v FROM edges UNION SELECT s FROM edges)
),
r0 AS (SELECT DISTINCT src AS v, src AS l FROM und),
r1 AS {_lpa_round_sql("r0")},
r2 AS {_lpa_round_sql("r1")},
r3 AS {_lpa_round_sql("r2")},
r4 AS {_lpa_round_sql("r3")},
lab AS (SELECT v, l FROM r4),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT c AS v FROM edges UNION ALL SELECT s AS v FROM edges)
  GROUP BY v
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
sizes AS (SELECT l, CAST(count(*) AS BIGINT) AS n_vertices FROM lab GROUP BY l),
dcs AS (
  SELECT a.l, CAST(sum(d.d) AS BIGINT) AS d_c
  FROM deg d JOIN lab a ON a.v = d.v GROUP BY a.l
),
ein AS (
  SELECT a.l, CAST(count(*) AS BIGINT) AS e_c
  FROM edges e JOIN lab a ON a.v = e.c JOIN lab b ON b.v = e.s
  WHERE a.l = b.l GROUP BY a.l
)
SELECT CASE WHEN s.l % 2 = 0 THEN 'c' || CAST(s.l // 2 AS VARCHAR)
            ELSE 's' || CAST((s.l - 1) // 2 AS VARCHAR) END AS community,
       s.n_vertices,
       d.d_c AS degree_sum,
       CAST(coalesce(e.e_c, 0) AS BIGINT) AS n_intra_edges,
       round((4.0 * m.m * coalesce(e.e_c, 0)
              - CAST(CAST(d.d_c AS HUGEINT) * d.d_c AS DOUBLE))
             / (4.0 * m.m * m.m), 6) AS q_contrib
FROM sizes s
JOIN dcs d ON d.l = s.l
LEFT JOIN ein e ON e.l = s.l
CROSS JOIN m
"""


@query(
    "graph_modularity_by_community",
    oracle=_MODULARITY_BY_COMM_ORACLE,
    tags=("graph", "quality"),
)
def graph_modularity_by_community(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity contributions — the drill-down table
    behind graph_modularity's single Q (r7 verdict's capability edge 8):
    Q_c = e_c/m − (d_c/2m)², so an analyst sees WHICH communities carry
    the structure and which are degree-sequence noise; Σ q_contrib = Q by
    construction (test-pinned against the collapsed id).

    Same exactness discipline as the global score: each row's q_contrib
    is ONE division of exact integers, (4·m·e_c − d_c²)/4m², with d_c²
    through decimal so the 100 TB degree sums can't overflow. Fourth
    consumer of the shared lpa_labels() core; adds one label equi-join
    over edges and three community-sized aggregates — nothing fact-sized
    shuffles beyond the audited LPA plan. Communities with zero intra
    edges still emit (left join, e_c = 0): those are exactly the
    negative-contribution rows the drill-down exists to expose."""
    labels, edges = lpa_labels(spark, sf_dir)
    a = labels.select(F.col("v").alias("c"), F.col("l").alias("lc"))
    b = labels.select(F.col("v").alias("s"), F.col("l").alias("ls"))
    ein = (
        edges.join(a, "c")
        .join(b, "s")
        .filter(F.col("lc") == F.col("ls"))
        .groupBy(F.col("lc").alias("l"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    deg = (
        edges.select(F.col("c").alias("v"))
        .unionAll(edges.select(F.col("s").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    dcs = (
        deg.join(labels, "v")
        .groupBy("l")
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    sizes = labels.groupBy("l").agg(
        F.count("*").cast("long").alias("n_vertices")
    )
    m = edges.agg(F.count("*").cast("long").alias("m"))
    dec = "decimal(38,0)"
    name = F.when(
        F.col("l") % 2 == 0,
        F.concat(F.lit("c"), (F.col("l") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("l") - 1) / 2).cast("long").cast("string"))
    )
    return (
        sizes.join(dcs, "l")
        .join(ein, "l", "left")
        .crossJoin(F.broadcast(m))
        .select(
            name.alias("community"),
            "n_vertices",
            F.col("d_c").alias("degree_sum"),
            F.coalesce("e_c", F.lit(0)).cast("long").alias("n_intra_edges"),
            F.round(
                (
                    4.0 * F.col("m") * F.coalesce("e_c", F.lit(0))
                    - (F.col("d_c").cast(dec) * F.col("d_c"))
                    .cast(dec)
                    .cast("double")
                )
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("q_contrib"),
        )
    )
