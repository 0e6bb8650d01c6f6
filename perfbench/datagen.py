"""Seeded star-schema inputs for the benchmark.

Writes the ten tables the catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, types and value domains of the
engine's reference test data. The same seed gives byte-identical tables;
another seed gives another draw of the same shape, so a run never depends
on files outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        # one document in twenty is an earlier one plus a marker word: the
        # near-duplicates the minhash and similarity entries look for
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return out


def write(out_dir: str, seed: int, sf: float = 0.1, only: list[str] | None = None) -> str:
    """Write the tables (or just ``only``) under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        if only is None or name in only:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
