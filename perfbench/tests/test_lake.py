"""Tests of the seeded lake generator and of BENCHMARK.json's agreement
with the workload definitions.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import lake  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

SPECS = {name: w.lake for name, w in WORKLOADS.items()}
SPECS["replicas"] = lake.LakeSpec(sf=0.002, replicas=3)

#: Column types of the fixture lake (FIXTURES.md).
SCHEMA = {
    "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
    "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()},
    "customer": {
        "c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(),
        "c_acctbal": pa.float64(), "c_mktsegment": pa.string(),
    },
    "supplier": {
        "s_suppkey": pa.int64(), "s_name": pa.string(), "s_nationkey": pa.int32(),
        "s_acctbal": pa.float64(),
    },
    "part": {
        "p_partkey": pa.int64(), "p_name": pa.string(), "p_brand": pa.string(),
        "p_type": pa.string(), "p_size": pa.int32(), "p_retailprice": pa.float64(),
    },
    "orders": {
        "o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
        "o_totalprice": pa.float64(), "o_orderdate": pa.timestamp("ms"),
        "o_orderpriority": pa.string(),
    },
    "lineitem": {
        "l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(), "l_quantity": pa.float64(),
        "l_extendedprice": pa.float64(), "l_discount": pa.float64(), "l_tax": pa.float64(),
        "l_returnflag": pa.string(), "l_linestatus": pa.string(),
        "l_shipdate": pa.timestamp("ms"),
    },
    "events": {
        "event_id": pa.int64(), "ts": pa.timestamp("ns"), "user_id": pa.int64(),
        "event_type": pa.string(), "value": pa.float64(), "props": pa.string(),
    },
    "documents": {
        "doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
        "source": pa.string(), "n_chars": pa.int64(),
    },
    "embeddings": {
        "vec_id": pa.int64(), "embedding": pa.list_(pa.float32()), "label": pa.int32(),
    },
}


@pytest.fixture(scope="module", params=sorted(SPECS))
def built(request):
    return request.param, lake.build(SPECS[request.param], seed=7)


def test_schemas_match_the_fixture_lake(built):
    _, tables = built
    assert set(tables) == set(lake.TABLES)
    for name, t in tables.items():
        assert {f.name: f.type for f in t.schema} == SCHEMA[name], name


def test_same_seed_gives_identical_files(tmp_path):
    spec = WORKLOADS["batch-mix"].lake
    spec = dataclasses.replace(spec, sf=0.002)
    lake.write(spec, 3, str(tmp_path / "a"))
    lake.write(spec, 3, str(tmp_path / "b"))
    for t in lake.TABLES:
        f = f"{t}.parquet"
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), t


@pytest.mark.parametrize("name", sorted(SPECS))
def test_another_seed_gives_different_tables(name):
    a, b = lake.build(SPECS[name], 1), lake.build(SPECS[name], 2)
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[t].equals(b[t]), t


def test_every_foreign_key_resolves(built):
    _, tables = built
    for child, ccol, parent, pcol in lake.FOREIGN_KEYS:
        keys = tables[parent][pcol].to_numpy()
        assert len(np.unique(keys)) == len(keys), f"{parent}.{pcol} not unique"
        refs = tables[child][ccol].to_numpy()
        missing = np.setdiff1d(refs, keys)
        assert missing.size == 0, f"{child}.{ccol} -> {parent}.{pcol}: {missing[:5]}"


def test_replicas_offset_keys_and_shuffle_rows():
    one = lake.build(lake.LakeSpec(sf=0.002), 5)
    five = lake.build(lake.LakeSpec(sf=0.002, replicas=5), 5)
    for t, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        assert five[t].num_rows == 5 * one[t].num_rows
        k = five[t][key].to_numpy()
        assert np.array_equal(np.sort(k), np.arange(len(k)))
        assert not np.array_equal(k, np.sort(k)), f"{t} rows not shuffled"


def test_relabel_is_a_bijection_that_keeps_every_join():
    rng = np.random.default_rng(5)
    spec = lake.LakeSpec(sf=0.002)
    plain = lake._base_tables(spec, rng)
    events = {"user_id": rng.integers(0, lake.N_USERS, 50).astype(np.int64)}
    moved = {t: dict(cols) for t, cols in plain.items()}
    moved_events = dict(events)
    lake._relabel(moved, moved_events, rng)
    for t, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        k = moved[t][key]
        assert np.array_equal(np.sort(k), plain[t][key]), f"{t}.{key} not a bijection"
        assert not np.array_equal(k, plain[t][key]), f"{t}.{key} not moved"

    def joined(tables, ev):
        """(order price, customer balance) and (event index, customer
        balance) pairs, found through the key columns."""
        bal = dict(zip(tables["customer"]["c_custkey"], tables["customer"]["c_acctbal"]))
        orders = sorted(zip(tables["orders"]["o_totalprice"], map(bal.get, tables["orders"]["o_custkey"])))
        return orders, [bal[u] for u in ev["user_id"]]

    assert joined(moved, moved_events) == joined(plain, events)


def test_near_duplicate_share_is_met():
    t = lake.build(lake.LakeSpec(), 11)
    texts = t["documents"]["text"].to_pylist()
    suffix = " " + lake.DUP_TOKEN
    dups = [x for x in texts if x.endswith(suffix)]
    originals = {x for x in texts if not x.endswith(suffix)}
    assert len(dups) == lake.near_dup_count(lake.N_DOCS) > 0
    assert all(x[: -len(suffix)] in originals for x in dups)
    # embeddings: near-copies join their original's cluster of cosine > 0.98
    v = np.stack(t["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
    close = (v @ v.T) > 0.98
    seen, extra = set(), 0
    for i in range(len(v)):
        if i in seen:
            continue
        group = set(np.flatnonzero(close[i]))
        todo = list(group)
        while todo:
            j = todo.pop()
            new = set(np.flatnonzero(close[j])) - group
            group |= new
            todo += new
        seen |= group
        extra += len(group) - 1
    assert extra == lake.near_dup_count(lake.N_EMBEDDINGS)


def test_events_stay_in_the_fixture_date_range(built):
    _, tables = built
    ts = tables["events"]["ts"].to_numpy()
    assert ts.min() >= lake.EVENTS_START and ts.max() < lake.EVENTS_END
    # the staged-watermark drains cut at Jan 5 and Jan 10: all three parts non-empty
    cuts = np.datetime64("2024-01-05", "ns"), np.datetime64("2024-01-10", "ns")
    assert (ts < cuts[0]).any() and ((ts >= cuts[0]) & (ts < cuts[1])).any() and (ts >= cuts[1]).any()


def test_benchmark_json_matches_the_workloads():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
