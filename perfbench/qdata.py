"""Seeded input tables for the query suite.

The same star schema, ``events``, ``documents`` and ``embeddings``
tables that ``dexspark.queries`` reads, with the column types and value
ranges of the repository's test tables, plus ``bpe_docs`` (a
zipf-like word corpus for the BPE encode). Written with pyarrow, so no
Spark job runs and the same seed always gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data key value row column table part line batch window join "
    "merge sort hash scan filter group order agg query stream spark "
    "vector fast slow big small customer"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


@dataclass(frozen=True)
class QuerySize:
    """Row counts, whose defaults are those of the sf0.001 test tables,
    and the number of distinct ``events`` users."""

    customers: int = 150
    orders: int = 1500
    lineitems: int = 6000
    parts: int = 200
    suppliers: int = 10
    events: int = 1000
    users: int = 50
    documents: int = 500
    embeddings: int = 500
    bpe_docs: int = 1000
    bpe_words_per_doc: int = 40


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def tables(seed: int, size: QuerySize) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = size
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(s.customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
            "c_mktsegment": segments[rng.integers(0, 5, s.customers)],
        }
    )
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "spring"])
    types = np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(s.parts, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, s.parts)], " "), noun[rng.integers(0, 8, s.parts)]
            ),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, s.parts)],
            "p_type": types[rng.integers(0, 6, s.parts)],
            "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 2),
        }
    )
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(s.orders, dtype=np.int64),
            "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
            "o_orderdate": _days(rng, "1995-01-01", 2404, s.orders),
            "o_orderpriority": prios[rng.integers(0, 5, s.orders)],
        }
    )
    n = s.lineitems
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, s.orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, s.parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", 2498, n),
        }
    )
    ev_types = np.array(["click", "view", "purchase", "error", "signup"])
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // s.events, s.events)
    out["events"] = pa.table(
        {
            "event_id": np.arange(s.events, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": rng.integers(0, s.users, s.events).astype(np.int64),
            "event_type": ev_types[rng.integers(0, 5, s.events)],
            "value": _money(rng, 0.01, 500.0, s.events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(8, 95, s.documents)]
    # a few exact and near duplicates, so the dedup queries find pairs
    n_dup = max(2, s.documents // 100)
    for i in range(n_dup):
        src = texts[int(rng.integers(0, s.documents))]
        dst = int(rng.integers(0, s.documents))
        texts[dst] = src if i % 2 == 0 else src + " " + WORDS[int(rng.integers(0, len(WORDS)))]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(s.documents, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, s.documents, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(s.documents)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    dim, labels = 64, 10
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, s.embeddings)
    vec = centroids[label] + rng.normal(0.0, 0.6, (s.embeddings, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(s.embeddings, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    # zipf-like word ids: a few words dominate, a long tail is rare
    vocab = rng.zipf(1.3, (s.bpe_docs, s.bpe_words_per_doc)) % 5000
    out["bpe_docs"] = pa.table(
        {
            "doc_id": [f"d{i}" for i in range(s.bpe_docs)],
            "text": [" ".join(f"w{w}" for w in row) for row in vocab],
        }
    )
    return out


def write(out_dir: str, seed: int, size: QuerySize) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, size).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
