"""Seeded generator for the query bank's ten input tables.

Writes one parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) in the shape the bank's
loader expects: a TPC-H-like star schema, an ``events`` stream, a text
corpus and unit-norm embedding vectors. Sizes follow scale factor 0.001
(6,000 lineitem rows); every seed gives tables of the same size and shape,
so only the values move between seeds.

Pure numpy + pyarrow: generating the tables starts no JVM, so the Spark
process under measurement sees the same cold state whether the tables
were generated in this run or an earlier one.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
VOCAB = (
    "the a data row column table key value join merge sort hash scan filter "
    "agg group order part line customer query spark stream batch window "
    "vector big small fast slow dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

N_CUSTOMER, N_SUPPLIER, N_PART = 150, 10, 200
N_ORDERS, N_LINEITEM, N_EVENTS = 1_500, 6_000, 1_000
N_USERS, N_DOCS, N_VECS, DIM = 15, 500, 500, 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}

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
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, N_SUPPLIER)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [
            f"{a} {n}"
            for a, n in zip(
                rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART)
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1),
    })

    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), N_ORDERS),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })

    orderkey = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    ship_days = np.clip(order_days[orderkey] + rng.integers(-60, 121, N_LINEITEM), 1, 2499)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, N_LINEITEM)),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), N_LINEITEM),
        "l_linestatus": rng.choice(("F", "O"), N_LINEITEM),
        "l_shipdate": _ts(_EPOCH_1995 + ship_days * _DAY_US),
    })

    # zipf-skewed users over a 30-day window, strictly increasing ids
    users = np.minimum(rng.zipf(1.6, N_EVENTS) - 1, N_USERS - 1)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.permutation(N_USERS)[users], pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": _money(rng.uniform(0.01, 490.0, N_EVENTS)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    lengths = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    # plant near-duplicates (one word changed) so the dedup rows find pairs
    for i in range(0, N_DOCS, 25):
        words = texts[i].split(" ")
        words[rng.integers(0, len(words))] = str(rng.choice(VOCAB))
        texts[i + 1] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(seed: int, out_dir: str) -> str:
    """Write the tables under ``out_dir`` unless a complete set is there."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return out_dir
