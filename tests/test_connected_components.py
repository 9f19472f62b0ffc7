"""Connected components (operators/graph.connected_components) against a
pure-Python union-find, and its numpy contraction kernel on its own.

Each Spark case runs at two layouts: every edge in one partition (the
contraction alone is the answer) and one edge per partition (no vertex is
contracted with a neighbor's neighbor, so the root-link loop does the
work)."""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from streamline_hybrid_engine_spark.operators import graph
from streamline_hybrid_engine_spark.operators.graph import (
    connected_components,
    contract_partition,
    local_components,
)

_FUZZ = max(1, int(os.environ.get("SHE_FUZZ_SCALE", "1")))


def union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Every endpoint of a non-loop edge → the minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for a, b in edges if a != b for v in (a, b)}


@st.composite
def edge_lists(draw) -> list[tuple[int, int]]:
    """Edges over a small pool of int64 ids up to 2^62, so that lists hold
    shared endpoints, self-loops, duplicates and both directions of an
    edge."""
    pool = draw(st.lists(st.integers(0, 2**62), min_size=1, max_size=12, unique=True))
    vertex = st.sampled_from(pool)
    edges = draw(st.lists(st.tuples(vertex, vertex), max_size=30))
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=6))
        edges = draw(st.permutations(edges + again + [(b, a) for a, b in again]))
    return edges


def chain(n: int, seed: int) -> list[tuple[int, int]]:
    """A path over n vertices whose ids are not in path order."""
    ids = random.Random(seed).sample(range(10**6), n)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)]


LAYOUTS = ("one partition", "one edge per partition")


def spark_components(spark, edges, layout) -> dict[int, int]:
    slices = 1 if layout == "one partition" else max(1, len(edges))
    rdd = spark.sparkContext.parallelize(edges, slices)
    df = spark.createDataFrame(rdd, "src long, dst long")
    assert df.rdd.getNumPartitions() == slices
    rows = connected_components(df).collect()
    labels = {r.vid: r.label for r in rows}
    assert len(labels) == len(rows)  # every vertex once
    return labels


@pytest.mark.parametrize("layout", LAYOUTS)
@settings(
    max_examples=12 * _FUZZ,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists())
def test_matches_union_find(spark, layout, edges):
    assert spark_components(spark, edges, layout) == union_find(edges)


@pytest.mark.parametrize("layout", LAYOUTS)
def test_long_chain_and_empty_input(spark, layout):
    edges = chain(120, seed=5) + chain(30, seed=6)
    assert spark_components(spark, edges, layout) == union_find(edges)
    assert spark_components(spark, [], layout) == {}


def test_link_loop_at_full_width(spark, monkeypatch):
    """The width rule gives a small link graph width 1; the loop's joins
    must give the same labels when the links spread over every core."""
    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(graph, "partition_width", lambda *_a, **_k: cores)
    edges = chain(60, seed=7)
    assert spark_components(spark, edges, "one edge per partition") == union_find(edges)


@settings(max_examples=200 * _FUZZ, deadline=None)
@given(edges=edge_lists())
def test_kernel_matches_union_find(edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    d1, d2 = (np.array(c, dtype=np.int64) for c in zip(*edges))
    ids, labels = local_components(d1, d2)
    assert list(ids) == sorted(set(ids))  # each vertex once, in id order
    assert dict(zip(ids.tolist(), labels.tolist())) == union_find(edges)


def test_kernel_closes_long_chains():
    ids = np.random.default_rng(3).permutation(50_000)
    got_ids, labels = local_components(ids[:-1], ids[1:])
    assert got_ids.tolist() == list(range(50_000)) and not labels.any()


def test_kernel_contracts_across_batches():
    """A partition's Arrow batches are one edge list: a component split
    over two batches gets one label."""
    batches = [
        pd.DataFrame({"d1": [5, 9], "d2": [7, 8]}),
        pd.DataFrame({"d1": [], "d2": []}, dtype="int64"),
        pd.DataFrame({"d1": [7], "d2": [9]}),
    ]
    (out,) = contract_partition(iter(batches))
    assert dict(zip(out.vid, out.label)) == {5: 5, 7: 5, 8: 5, 9: 5}
    assert list(contract_partition(iter([]))) == []
