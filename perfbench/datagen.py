"""Seeded synthetic inputs for the benchmark.

The ten fixture tables the registry reads (``region`` ... ``embeddings``)
are generated here with NumPy and written as one parquet file each, with
the column names, types and value shapes of the repository's fixture
tables: a TPC-H-like star schema, an ``events`` stream table whose
timestamps rise over 30 days, a ``documents`` corpus over a 30-word
vocabulary with planted near-duplicates (a copy of an earlier document
plus trailing ``dup`` tokens), and unit-norm 64-d ``embeddings``.

``base_tables`` builds them once from a fixed seed and caches them under
the data directory; a run's own seed sets the item order and the
statement parameters, not the tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_SEED = 20240101
# Row counts of the repository's sf0.01 fixture tier.
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400 * 1_000_000


def _write(path: str, cols: dict) -> None:
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)


def _ts_days(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        elif i >= 20 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def _generate(out: str) -> None:
    rng = np.random.default_rng(BASE_SEED)
    r = ROWS
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    n = r["customer"]
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _keyed_names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    })
    n = r["supplier"]
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _keyed_names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = r["part"]
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
        ),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })
    n = r["orders"]
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts_days(rng, n, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(19.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts_days(rng, n, "1995-01-02", 2499),
    })
    n = r["events"]
    gaps = rng.exponential(1.0, n)
    span_us = 30 * DAY_US - 60_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype(np.int64) + offs,
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n // 66, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(f"{out}/documents.parquet", _documents(rng, r["documents"]))
    _write(f"{out}/embeddings.parquet", _embeddings(rng, r["embeddings"]))


def _complete(d: str) -> bool:
    return all(os.path.exists(f"{d}/{t}.parquet") for t in TABLES)


def base_tables(data_root: str) -> str:
    """Directory of the shared tables, generated on first use."""
    out = os.path.join(data_root, "base")
    if not _complete(out):
        os.makedirs(out, exist_ok=True)
        _generate(out)
    return out
