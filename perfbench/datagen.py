"""Deterministic TPC-H-style input tables for the benchmark.

Writes the ten parquet tables that ``grafeo_spark.catalog`` loads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, types and value distributions of the
repository's test data: random foreign keys, 5% near-duplicate documents,
and 64-dimensional unit embeddings in 10 loose clusters (pairwise cosine
stays below ~0.55). The benchmark generates its inputs inside its own
checkout so that it depends on nothing outside it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
VOCAB = (
    "key agg row scan slow fast table value part hash a merge batch spark "
    "the line sort window order data column join small customer query big "
    "stream group filter vector"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10

_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf0.01: 1,500 customers and
    60,000 lineitems, as in the repository's test data)."""
    return {
        "customer": max(60, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(300, int(1_500_000 * sf)),
        "lineitem": max(1_200, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "users": max(50, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(50_000 * sf)),
    }


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one extra token
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return {
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, n)
    noise = rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = 0.4 * centers[label] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    }


def generate(out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    rng = np.random.default_rng(DATA_SEED)
    n = table_sizes(sf)
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    ck, sk, pk, ok = (np.arange(x) for x in (nc, ns, npart, no))
    tables: dict[str, dict] = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(ck, type=pa.int64()),
            "c_name": _names("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), type=pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        },
        "supplier": {
            "s_suppkey": pa.array(sk, type=pa.int64()),
            "s_name": _names("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), type=pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": pa.array(pk, type=pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_ADJ), npart),
                    rng.integers(0, len(PART_NOUN), npart),
                )
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), type=pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(ok, type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), type=pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, no, nl), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), type=pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
        },
    }
    ne = n["events"]
    tables["events"] = {
        "event_id": pa.array(np.arange(ne), type=pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne), type=pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
        "value": _money(rng, ne, 0.01, 490.0),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
    }
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
