"""Deterministic tables for the query inventory.

Writes the ten parquet tables the declared queries read (``region``
… ``embeddings``) with the shapes and value domains the inventory's
filters, joins and oracles expect: a TPC-H-like star schema, an
``events`` stream with microsecond timestamps, a word-level document
corpus with a share of near-duplicates, and clustered 64-d float
embeddings with a share of near-clones. ``scale`` 1.0 gives the row
counts of the sf0.01 test data (1,500 customers, 60,000 lineitems, 500
documents, 500 embeddings); 10.0 gives those of sf0.1, except for 5,000
embeddings against its 2,000.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DAY_US = 86_400 * 10**6


def _ts(start: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.timestamp()) * 10**6
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = n_cust * 10
    n_line = n_ord * 4
    n_ev = max(500, int(10000 * scale))
    n_doc = max(100, int(500 * scale))
    n_vec = max(100, int(500 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    o_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(datetime(1995, 1, 1), o_days * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_ord = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(datetime(1995, 1, 1), (o_days[l_ord] + rng.integers(1, 122, n_line)) * DAY_US),
    })
    gaps = rng.integers(1, 2 * (30 * DAY_US) // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        text = " ".join(words)
        while text in texts:
            text += " " + str(rng.choice(VOCAB))
        texts.append(text)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] * 0.03 + rng.normal(0, 0.1, (n_vec, 64))
    clones = rng.random(n_vec) < 0.025
    src = rng.integers(0, n_vec, n_vec)
    vecs[clones] = vecs[src[clones]] + rng.normal(0, 1e-3, (int(clones.sum()), 64))
    vecs = vecs.astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
