"""Seeded input generation for the benchmark workloads.

Every table follows the column contract in ``feature_store_ml_spark.schemas``
and the value shapes of the engine's TPC-H-style test corpus, so the catalog
queries and their DuckDB twins run unchanged over it. The same seed always
gives byte-identical inputs; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EMBED_DIM = 64
EMBED_LABELS = 10
QUERY_ID_BASE = 1_000_000


def timestamps(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """Pronounceable lowercase pseudo-words, distinct, 3-9 letters."""
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    out: set[str] = set()
    while len(out) < size:
        syl = rng.integers(2, 4)
        out.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(syl)))
    return np.array(sorted(out))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem/events at scale
    ``sf`` (sf=0.1 is 600k lineitems, 150k orders, 100k events)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 20)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 20)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    o_day = rng.integers(0, ORDER_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": timestamps(EPOCH_1995 + o_day * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    n_li = 4 * n_ord
    l_ord = rng.integers(0, n_ord, n_li)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": timestamps(
            EPOCH_1995 + (o_day[l_ord] + rng.integers(1, 122, n_li)) * DAY_US
        ),
    })
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": timestamps(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def corpus(seed: int, n_docs: int, n_vecs: int, n_queries: int) -> dict:
    """LLM-curation corpus: ``documents`` with planted near-duplicates and
    exact copies, ``embeddings`` in EMBED_LABELS clusters, perturbed query
    vectors, and BM25 query texts. Returns the tables plus the planted
    (original, copy) pairs so the caller can score dedup recall."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 400)
    n_base = int(n_docs * 0.85)
    lens = rng.integers(20, 120, n_base)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    near, exact = [], []
    n_near = (n_docs - n_base) * 4 // 5
    n_exact = n_docs - n_base - n_near
    for src in rng.choice(n_base, n_near, replace=False):
        toks = texts[src].split(" ")
        for pos in rng.choice(len(toks), max(1, len(toks) // 40), replace=False):
            toks[pos] = vocab[rng.integers(0, len(vocab))]
        near.append((int(src), len(texts)))
        texts.append(" ".join(toks))
    for src in rng.choice(n_base, n_exact, replace=False):
        exact.append((int(src), len(texts)))
        texts.append(texts[src])
    n = len(texts)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    q_src = rng.choice(n_vecs, n_queries, replace=False)
    qv = vecs[q_src] + rng.normal(scale=0.05, size=(n_queries, EMBED_DIM))
    qv = (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), emb_type),
        "label": pa.array(labels, pa.int32()),
    })
    queries = pa.table({
        "vec_id": pa.array(QUERY_ID_BASE + np.arange(n_queries), pa.int64()),
        "embedding": pa.array(list(qv), emb_type),
    })
    bm25 = [
        (f"q{i}", " ".join(vocab[rng.integers(0, len(vocab), rng.integers(2, 5))]))
        for i in range(n_queries)
    ]
    return {
        "documents": documents, "embeddings": embeddings, "queries": queries,
        "bm25": bm25, "near_pairs": near, "exact_pairs": exact,
    }


def write_single(tables: dict[str, pa.Table], root: str) -> None:
    """One ``<name>.parquet`` file with one row group per table — the
    driver corpus layout."""
    os.makedirs(root, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{root}/{name}.parquet", row_group_size=len(t) or 1)


def write_multi(tables: dict[str, pa.Table], root: str, files: int) -> None:
    """A ``<name>.parquet`` directory of ``files`` part files per table —
    the production multi-file layout."""
    for name, t in tables.items():
        d = f"{root}/{name}.parquet"
        os.makedirs(d, exist_ok=True)
        step = -(-len(t) // files)
        for i in range(files):
            pq.write_table(t.slice(i * step, step), f"{d}/part-{i:05d}.parquet")
