"""Seeded generator for the query workload's input tables.

Writes the ten parquet tables the registered queries read (TPC-H-like
star schema, an event stream, text documents and embeddings) with the
column names, types and value ranges of the repository's test data.
The same seed gives byte-identical tables. ``sf`` scales the row counts
as in the test data (sf=0.01 gives 60,000 lineitem rows).

A few documents and vectors are planted near-duplicates of earlier
ones, so the near-duplicate queries have pairs to verify.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group "
    "filter big stream vector"
).split()
EMBED_DIM = 64
DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us").astype(np.int64)
EVENT_EPOCH = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Scale:
    sf: float
    documents: int
    embeddings: int


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _near_dups(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Index of the row each row copies, or -1 (about ``share`` copy)."""
    src = np.full(n, -1)
    picks = rng.choice(np.arange(1, n), size=max(1, int(n * share)), replace=False)
    src[picks] = rng.integers(0, picks)
    return src


def tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    sf = scale.sf
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
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
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(ORDER_EPOCH + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # quantity times a whole-dollar unit price, as TPC-H prices a line:
    # unit prices, their medians and discounted sums then never fall
    # on a half cent, where ROUND(.., 2) differs between engines
    # (Spark rounds the shortest decimal form half up, DuckDB the
    # binary double)
    qty = rng.integers(1, 51, n_line)
    unit_price = rng.integers(900, 2101, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": (qty * unit_price).astype(np.float64),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ORDER_EPOCH + (1 + rng.integers(0, 2499, n_line)) * DAY_US),
    })
    evt_us = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(EVENT_EPOCH + evt_us),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    n_doc = scale.documents
    words = np.array(WORDS)
    texts: list[str] = []
    for i, src in enumerate(_near_dups(rng, n_doc, 0.05)):
        if src >= 0:
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_vec = scale.embeddings
    labels = rng.integers(0, 10, n_vec, dtype=np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, EMBED_DIM))
    src = _near_dups(rng, n_vec, 0.05)
    copy = src >= 0
    vecs[copy] = vecs[src[copy]] + rng.normal(scale=0.02, size=(int(copy.sum()), EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def write(out_dir: str, seed: int, scale: Scale) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
