"""Seeded generator of the benchmark corpus.

The corpus has the ten tables the operators read (``region`` ... ``embeddings``)
with the physical schemas of the driver corpus (see FIXTURES.md). That corpus
lives outside the repository (TESTDATA.md), so a checkout cannot read it and
the benchmark writes its own. Table content depends only on the scale factor: it is drawn from a fixed base seed,
so every run at one scale factor sees the same multiset of rows. The
``--seed`` of a run permutes the row order of every table, which is all it
changes; seed 0 keeps the generated order. The DuckDB oracles are
order-insensitive, so they hold on every seed, and an op whose result moves
with the seed has an order dependence.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUN = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_US_PER_DAY = 86_400 * 1_000_000


def _days(start: str, n_days: int, rng, size: int) -> pa.Array:
    """Midnight timestamps[us], uniform over ``n_days`` from ``start``."""
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days + 1, size) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    """Token texts of 10-100 words; 5% are an earlier text plus " dup"
    (near duplicates) and 0.2% repeat an earlier text exactly."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    lang = rng.choice(len(_LANGS), n, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[x] for x in lang],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """L2-normalised float32 vectors around one centre per label."""
    label = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, dim))
    vec = centres[label] + 1.5 * rng.normal(size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The corpus at scale factor ``sf`` in generated order."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = round(150_000 * sf), round(10_000 * sf)
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_line, n_ev = round(6_000_000 * sf), round(1_000_000 * sf)
    n_doc, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
    n_users = max(1, n_cust // 10)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[x] for x in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{x}" for x in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[x] for x in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[x] for x in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": [_PRIORITIES[x] for x in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[x] for x in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[x] for x in rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [_EVENT_TYPES[x] for x in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Shuffle the rows of every table with ``seed``; seed 0 is the identity."""
    if seed == 0:
        return tables
    rng = np.random.default_rng(seed % 2**63)
    return {
        name: tab.take(pa.array(rng.permutation(tab.num_rows)))
        for name, tab in sorted(tables.items())
    }


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write one ``<table>.parquet`` per table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in permute(base_tables(sf), seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))

