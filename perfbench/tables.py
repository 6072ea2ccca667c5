"""Seeded generator of the ten registry tables the query mix reads.

Same schemas and value shapes as the repository's synthetic testdata
(a TPC-H-like star, an ``events`` stream, a 31-word ``documents``
corpus with a few exact duplicates, 64-d unit ``embeddings``), written
as one parquet file per table.  Row counts are ``ROWS[name] * scale``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale 1.0 (the shape of the repository's sf0.1 testdata)
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000


def _days(rng, start: str, n_days: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    days = rng.integers(0, n_days, size=size)
    return pa.array((base + days * _US_PER_DAY).astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=size), 2)


def _pick(rng, values: list[str], size: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), size=size, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    vocab = np.asarray(WORDS)
    texts = []
    for ln in lengths:
        words = vocab[rng.integers(0, len(vocab), size=ln)]
        if rng.random() < 0.05:
            words[rng.integers(0, ln)] = "dup"
        texts.append(" ".join(words))
    # a few exact duplicates across sources
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[int(rng.integers(0, n))] = texts[i]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(size=(n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, size=n).astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, scale: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for all ten tables."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    i32 = np.int32
    tables = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n["customer"], dtype=np.int64),
                "c_name": _names("Customer", n["customer"]),
                "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                "s_name": _names("Supplier", n["supplier"]),
                "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
    }
    keys = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, size=(n["part"], 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(i32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl),
            "l_partkey": rng.integers(0, n["part"], nl),
            "l_suppkey": rng.integers(0, n["supplier"], nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, ne))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, max(10, int(1500 * scale)), ne),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
