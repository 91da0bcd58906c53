"""Seeded inputs for the benchmark workloads.

The star-schema tables (``region`` … ``lineitem``, ``events``) and the
``documents`` corpus follow the schemas and value domains of the project's
fixture tables (FIXTURES.md), drawn from one ``numpy`` generator per seed so
the same seed always writes byte-identical parquet files.  Row counts scale
with ``sf`` like the fixtures: ``sf=0.01`` gives 60,000 ``lineitem`` rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "red", "shiny", "steel", "brass", "tiny"]
PART_NOUN = ["widget", "bolt", "gear", "valve", "spring", "panel"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
# The fixture corpus's own vocabulary: every shingle is a hot key.
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00 in µs
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days_since_1992(rng: np.random.Generator, n: int) -> pa.Array:
    us = _EPOCH_1992_US + rng.integers(0, 3650, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _write(table: pa.Table, directory: str, name: str) -> tuple[int, int]:
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def write_star_tables(directory: str, sf: float, seed: int) -> dict[str, tuple[int, int]]:
    """Write the star-schema tables at scale ``sf``; returns
    ``{table: (rows, bytes)}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ord = max(10, int(10_000 * sf)), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, n_ev // 70)
    out = {}

    out["region"] = _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        directory, "region",
    )
    out["nation"] = _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        directory, "nation",
    )
    out["customer"] = _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        directory, "customer",
    )
    out["supplier"] = _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        directory, "supplier",
    )
    adj, noun = rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = _write(
        pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        directory, "part",
    )
    # A third of the customers place no orders (the anti-join has rows).
    buyers = np.flatnonzero(np.arange(n_cust) % 3 != 0)
    out["orders"] = _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), n_ord)], pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 900.0, 450_000.0, n_ord),
            "o_orderdate": _days_since_1992(rng, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        directory, "orders",
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = _write(
        pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days_since_1992(rng, n_line),
        }),
        directory, "lineitem",
    )
    gaps = rng.integers(5_000, 360_000_000, n_ev)  # 5 ms .. 6 min
    out["events"] = _write(
        pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.5, 500.0, n_ev),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }),
        directory, "events",
    )
    return out


def write_documents(directory: str, n_docs: int, seed: int) -> tuple[int, int]:
    """The fixture-style ``documents`` table: 10–100 words each from a
    31-word vocabulary, with every 50th document an exact copy of its
    predecessor.  Returns ``(rows, bytes)``."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    vocab = np.array(DOC_VOCAB)
    texts = []
    for i, n in enumerate(rng.integers(10, 101, n_docs)):
        words = vocab[rng.integers(0, len(vocab), n)]
        texts.append(texts[-1] if i % 50 == 49 else " ".join(words))
    return _write(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        directory, "documents",
    )
