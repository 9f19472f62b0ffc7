"""Seeded lake generator: the ten fixture tables, written as parquet files.

The program reads a lake as ``<dir>/<table>.parquet``; this module writes
one from a seed, with the fixture schemas and value domains
(customer/orders/lineitem star, ``events`` within January 2024, a
space-token ``documents`` corpus, unit-norm 64-d ``embeddings``).

Timestamps carry the fixtures' Parquet units: ``events.ts`` is
TIMESTAMP(NANOS), ``o_orderdate`` and ``l_shipdate`` are TIMESTAMP(MILLIS).
Every lake is shaped the same way:

- the TPC-H-shaped tables are copied ``replicas`` times with per-copy key
  offsets, so every foreign key resolves inside its own copy, then rows are
  shuffled by the seed;
- every key column is sent through a seeded bijection, applied to both
  sides of every foreign key (``events.user_id`` included);
- ``NEAR_DUP_SHARE`` of the documents (and of the embeddings) are
  near-copies of an original.

The same seed and spec give byte-identical tables.
"""

from __future__ import annotations

import dataclasses
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from parity import TABLES  # noqa: E402

#: Foreign keys as (child table, child column, parent table, parent column).
FOREIGN_KEYS = (
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"),
)

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "ns")
EVENTS_END = np.datetime64("2024-01-31T00:00:00", "ns")  # exclusive

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "small", "large", "hot", "old", "green", "shiny")
PART_NOUN = ("widget", "bolt", "ring", "plate", "rod", "gear", "valve", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_TOKEN = "dup"
EMBED_DIM = 64
N_USERS = 150
N_DOCS = 500  # documents and embeddings stay at fixture size
N_EMBEDDINGS = 500
NEAR_DUP_SHARE = 0.05


@dataclasses.dataclass(frozen=True)
class LakeSpec:
    """Sizes of one generated lake. ``sf`` scales the TPC-H-shaped tables
    as the fixtures do (customer = 150 000 x sf, lineitem about 4 per
    order)."""

    sf: float = 0.001
    replicas: int = 1
    row_groups: int = 1
    n_events: int = 1000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[ms]")


def _base_tables(spec: LakeSpec, rng: np.random.Generator) -> dict[str, dict]:
    """One copy of the TPC-H-shaped tables, keys dense from 0."""
    n_cust = max(N_USERS, int(round(150_000 * spec.sf)))
    n_supp = max(10, int(round(10_000 * spec.sf)))
    n_part = max(200, int(round(200_000 * spec.sf)))
    n_ord = max(1500, int(round(1_500_000 * spec.sf)))
    cust = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    supp = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    part = {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }
    odate = _days(rng, "1995-01-01", 2400, n_ord)
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(orders["o_orderkey"], lines)
    n_li = len(lok)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    lineitem = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": np.repeat(odate, lines)
        + (rng.integers(1, 122, n_li) * 86_400_000).astype("timedelta64[ms]"),
    }
    return {
        "customer": cust,
        "supplier": supp,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


#: Key columns of each table, and the parent key each one draws from.
_KEYS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
}
_DOMAIN_OF = {"cust": "customer", "supp": "supplier", "part": "part", "ord": "orders"}


def _replicate(tables: dict[str, dict], replicas: int, rng) -> dict[str, dict]:
    """Copy each table ``replicas`` times, offsetting every key by the
    copy index times its domain size, then shuffle row order."""
    size = {d: len(tables[t][next(iter(_KEYS[t]))]) for d, t in _DOMAIN_OF.items()}
    out = {}
    for name, cols in tables.items():
        copies = []
        for r in range(replicas):
            c = dict(cols)
            for col, dom in _KEYS[name].items():
                c[col] = cols[col] + r * size[dom]
            copies.append(c)
        merged = {k: np.concatenate([c[k] for c in copies]) for k in cols}
        perm = rng.permutation(len(next(iter(merged.values()))))
        out[name] = {k: v[perm] for k, v in merged.items()}
    return out


def _relabel(tables: dict[str, dict], events: dict, rng) -> None:
    """Send every key through a seeded bijection of its domain, on both
    sides of every foreign key. ``events.user_id`` follows customers."""
    perms = {}
    for dom, t in _DOMAIN_OF.items():
        key = next(iter(_KEYS[t]))
        perms[dom] = rng.permutation(len(tables[t][key])).astype(np.int64)
    for name, cols in tables.items():
        for col, dom in _KEYS[name].items():
            cols[col] = perms[dom][cols[col]]
    events["user_id"] = perms["cust"][events["user_id"]]


def _names(tables: dict[str, dict]) -> None:
    tables["customer"]["c_name"] = np.char.add(
        "Customer#", np.char.zfill(tables["customer"]["c_custkey"].astype(str), 9)
    )
    tables["supplier"]["s_name"] = np.char.add(
        "Supplier#", np.char.zfill(tables["supplier"]["s_suppkey"].astype(str), 9)
    )


def _events(spec: LakeSpec, rng) -> dict:
    n = spec.n_events
    span = int((EVENTS_END - EVENTS_START) / np.timedelta64(1, "us"))
    offs = np.sort(rng.choice(span, n, replace=False))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        # whole microseconds: the oracle compares at micro precision
        "ts": EVENTS_START + (offs * 1000).astype("timedelta64[ns]"),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def near_dup_count(n: int) -> int:
    return int(round(n * NEAR_DUP_SHARE))


def _dup_plan(n: int, rng) -> np.ndarray:
    """``src[i]`` is the original row ``i`` copies, or -1 for an original.
    Sources are always originals, so a copy is never copied."""
    src = np.full(n, -1, dtype=np.int64)
    k = near_dup_count(n)
    dups = rng.choice(n, k, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    src[dups] = rng.choice(originals, k)
    return src


def _documents(rng) -> dict:
    n = N_DOCS
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    src = _dup_plan(n, rng)
    for i in np.flatnonzero(src >= 0):
        texts[i] = texts[src[i]] + " " + DUP_TOKEN
    text = np.array(texts)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.char.str_len(text).astype(np.int64),
    }


def _embeddings(rng) -> dict:
    n = N_EMBEDDINGS
    label = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vec = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.15 * centroids[label]
    src = _dup_plan(n, rng)
    dups = np.flatnonzero(src >= 0)
    label[dups] = label[src[dups]]
    vec[dups] = vec[src[dups]] + rng.normal(0.0, 0.01, (len(dups), EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label}


def build(spec: LakeSpec, seed: int) -> dict[str, pa.Table]:
    """All ten tables as arrow tables (no I/O)."""
    rng = np.random.default_rng(seed)
    tpch = _base_tables(spec, rng)
    events = _events(spec, rng)
    if spec.replicas > 1:
        tpch = _replicate(tpch, spec.replicas, rng)
    _relabel(tpch, events, rng)
    _names(tpch)
    docs = _documents(rng)
    emb = _embeddings(rng)
    cols = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.array(REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.char.add("NATION_", np.arange(25).astype(str)),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": tpch["customer"],
        "supplier": tpch["supplier"],
        "part": tpch["part"],
        "orders": tpch["orders"],
        "lineitem": tpch["lineitem"],
        "events": events,
        "documents": docs,
        "embeddings": emb,
    }
    order = {
        "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    }
    out = {}
    for name in TABLES:
        c = cols[name]
        names = order.get(name, tuple(c))
        out[name] = pa.table({k: c[k] for k in names})
    return out


def write(spec: LakeSpec, seed: int, out_dir: str) -> dict[str, int]:
    """Write the lake to ``out_dir``; returns rows per table. Each table is
    one uncompressed, dictionary-free file of ``spec.row_groups`` row
    groups, so a large table splits into several scan tasks."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in build(spec, seed).items():
        rg = max(1, -(-t.num_rows // spec.row_groups))
        pq.write_table(
            t,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=rg,
            compression="none",
            use_dictionary=False,
        )
        rows[name] = t.num_rows
    return rows
