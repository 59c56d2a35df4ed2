"""Deterministic synthetic corpus with the schemas of FIXTURES.md.

The benchmark makes its own inputs instead of reading a fixed corpus
from outside the checkout. Each table is one parquet file with one row
group, like the corpus the package is developed against. Row counts
scale with ``sf`` the same way (lineitem = 6e6 * sf), and value domains
follow the same shapes: TPC-H-ish dimension and fact tables, a
30-day ``events`` stream, word-bag ``documents`` with about 5 % marked
near-duplicates and unit-norm 64-d ``embeddings``.

The data seed is fixed per corpus (``DATA_SEED``), so every run, whatever
its ``--seed``, sees the same tables, and recorded output digests stay
valid.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    start, end = _us(*lo), _us(*hi)
    days = rng.integers(0, (end - start) // _DAY_US + 1, n)
    return pa.array(start + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    """Every corpus table at scale factor ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: a prefix of an earlier document, marked
            src = texts[int(rng.integers(0, i))].split(" ")
            keep = src[: max(5, int(len(src) * rng.uniform(0.6, 1.0)))]
            texts.append(" ".join(keep + ["dup"] * int(rng.integers(1, 3))))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_corpus(root: str, sf: float) -> str:
    """Write the corpus at ``sf`` under ``root/sf<sf>`` and return that
    directory (the ``sf_dir`` every registry query takes)."""
    sf_dir = os.path.join(root, f"sf{sf}")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return sf_dir
