"""The query suite's tables: a fixed star schema plus events, documents
and embeddings, with the column names and types of the engine's query
registry (region nation customer supplier part orders lineitem events
documents embeddings), at about a tenth of the sf0.1 row counts.

The tables are a fixture, like a TPC-H scale factor: generated from the
fixed ``DATA_SEED`` so their DuckDB answers can be computed once per
checkout and cached (the near-duplicate oracles are quadratic in the
document count).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 4242
VERSION = 3  # bump when the generator changes: it names the cache

N_CUST, N_SUPP, N_PART = 1_500, 100, 2_000
N_ORDERS, N_LINEITEM, N_EVENTS = 15_000, 60_000, 10_000
N_DOCS, N_EMB, EMB_DIM = 200, 300, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def fixture_key() -> str:
    return f"v{VERSION}-s{DATA_SEED}"


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days_us(days: np.ndarray) -> pa.Array:
    return pa.array((days * 86_400_000_000).astype("datetime64[us]"))


def _documents(rng) -> list[str]:
    """~5% near clones (1-2 words substituted) and ~0.2% exact clones."""
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.uniform()
        if i > 10 and r < 0.052:
            words = texts[int(rng.integers(0, i))].split(" ")
            if r > 0.002:
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))))
    return texts


def generate(out_dir: str) -> None:
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    base = np.datetime64("1995-01-01").astype("datetime64[D]").astype(np.int64)
    texts = _documents(rng)
    emb = rng.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(N_CUST, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUST).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, N_CUST), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUST),
        },
        "supplier": {
            "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, N_SUPP), 2),
        },
        "part": {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": pa.array(
                [f"{ADJS[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, N_PART)]),
            "p_type": _pick(rng, TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 1),
        },
        "orders": {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUST, N_ORDERS).astype(np.int64),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
            "o_orderdate": _days_us(base + rng.integers(0, 2405, N_ORDERS)),
            "o_orderpriority": _pick(rng, PRIOS, N_ORDERS),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPP, N_LINEITEM).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, N_LINEITEM), 2),
            "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["O", "F"], N_LINEITEM),
            "l_shipdate": _days_us(
                base + rng.integers(0, 2405, N_LINEITEM) + rng.integers(1, 96, N_LINEITEM)
            ),
        },
        "events": {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(
                (
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + np.sort(rng.uniform(0, 30 * 86400e6, N_EVENTS).astype(np.int64))
                ).astype("datetime64[us]")
            ),
            "user_id": rng.integers(0, max(150, N_EVENTS // 67), N_EVENTS).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        },
        "documents": {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, N_DOCS, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        "embeddings": {
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMB).astype(np.int32)),
        },
    }
    for name, cols in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp, compression="snappy")
        os.rename(tmp, os.path.join(out_dir, f"{name}.parquet"))
