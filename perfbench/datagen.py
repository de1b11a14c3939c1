"""Seeded fixture generator: the ten tables the engine's queries read.

Schemas and value domains follow the repository's fixture description
(FIXTURES.md): a TPC-H-like star schema, an ``events`` stream, a text corpus
with planted near-duplicates and labelled unit-length embeddings. The same
seed and scale give byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    us = (np.datetime64(start, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D"))
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _text(rng, n: int) -> list[str]:
    """Word soup over a 30-word vocabulary; 5% of documents copy another one
    with one or two ``dup`` tokens appended (near-duplicates)."""
    lens = rng.integers(10, 100, n)
    vocab = np.array(WORDS)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    dups = rng.choice(n, n // 20, replace=False)
    for i in dups:
        src = int(rng.integers(0, n))
        if src != i:
            docs[i] = docs[src] + " dup" * int(rng.integers(1, 3))
    return docs


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_ev = int(1000000 * sf)
    n_users = max(150, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vec = max(500, int(20000 * sf))

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    gaps = rng.exponential(30 * 86400 / max(n_ev, 1), n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    docs = _text(rng, n_docs)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs,
            "lang": _pick(rng, LANGS, n_docs, LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 0.02, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.125, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write(sf_dir: str, seed: int, sf: float) -> int:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, tb in tables(seed, sf).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(tb, path, compression="snappy")
        total += os.path.getsize(path)
    return total
