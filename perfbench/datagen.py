"""Seeded synthetic tables for the catalog workload.

Writes the ten tables the query catalog reads (the TPC-H-style star schema,
``events``, ``documents`` and ``embeddings``) as one parquet file each, with
the column names and types of the repository's reference test data.  The
``documents`` table follows the reference's make-up as measured on it: 30
words drawn uniformly, 10 to 99 words a document, the reference language
mix, ``source`` cycling over 20 values, and one document in twenty a
near-duplicate (another document's text with `` dup`` appended), which
gives the near-duplicate operators their candidate pairs.  The other
tables follow the reference's schema and value ranges.  The same ``(seed, scale)`` always gives byte-identical
tables, so the catalog workload needs nothing outside its own checkout.

``scale`` follows the TPC-H convention: 0.01 gives 1,500 customers, 15,000
orders, ~60,000 line items, 10,000 events and 500 documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()  # the reference's 31st word, "dup", marks near-duplicates
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "big")
PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = max(500, int(20_000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    o_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995_US + o_days * _DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)  # 1..7 line items per order
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    perm = rng.permutation(n_li)  # reference files are not order-clustered
    l_order, l_num = l_order[perm], l_num[perm]
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                _EPOCH_1995_US
                + (o_days[l_order] + rng.integers(1, 122, n_li)) * _DAY_US
            ),
        }
    )
    # events: one stream ordered by time, 30 days, 150 users per 10k events
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    n_users = max(150, n_ev // 66)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024_US + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(k)))
        for k in rng.integers(10, 100, n_doc)
    ]
    # near-duplicate families: one document in twenty becomes another
    # document's text plus " dup"; a donor that is a near-duplicate itself
    # makes a chain, and two copies of one donor make an exact duplicate
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[(i + rng.integers(1, n_doc)) % n_doc] + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.normal(size=(n_emb, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
