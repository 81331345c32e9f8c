"""Seeded generator for the analytics tables the registry queries read.

The tables have the names, column types and value shapes of the
engine's synthetic star schema (TESTDATA.md): a TPC-H-like
region/nation/customer/supplier/part/orders/lineitem core, an `events`
click stream, a `documents` text corpus with planted near-duplicates
and an `embeddings` table of 64-dim unit vectors. Row counts follow the
scale factor `sf` (lineitem = 6M x sf). Every table is one parquet file
with one row group, like the testdata files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("red", "blue", "green", "small", "big", "new", "old", "hot", "cold", "dark", "light", "shiny", "rusty")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "nut", "spring", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMB_DIM = 64
DUP_SHARE = 0.05  # share of documents that are a planted near-duplicate

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor `sf` (the testdata's proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`; the same seed gives the same bytes."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    k = np.arange(n["customer"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(k, i64),
            "c_name": pa.array([f"Customer#{x:09d}" for x in k]),
            "c_nationkey": pa.array(rng.integers(0, 25, len(k)), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
            "c_mktsegment": _pick(rng, SEGMENTS, len(k)),
        }
    )
    k = np.arange(n["supplier"])
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(k, i64),
            "s_name": pa.array([f"Supplier#{x:09d}" for x in k]),
            "s_nationkey": pa.array(rng.integers(0, 25, len(k)), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        }
    )
    k = np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(k, i64),
            "p_name": _pick(rng, names, len(k)),
            "p_brand": pa.array([f"Brand#{x}" for x in rng.integers(1, 26, len(k))]),
            "p_type": _pick(rng, PART_TYPES, len(k)),
            "p_size": pa.array(rng.integers(1, 51, len(k)), i32),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
        }
    )
    k = np.arange(n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(k, i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], len(k)), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), len(k)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, len(k)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, len(k)) * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, len(k)),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), m),
            "l_linestatus": _pick(rng, ("F", "O"), m),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, m) * _US_PER_DAY),
        }
    )
    m = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, m))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(m), i64),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(50, m // 66), m), i64),
            "event_type": _pick(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": pa.array([f'{{"k": {x}}}' for x in rng.integers(0, 100, m)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, m: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(m)]
    # A planted near-duplicate is an earlier document plus one extra token.
    for i in rng.choice(np.arange(1, m), int(m * DUP_SHARE), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    langs = np.asarray(LANGS, dtype=object)[rng.choice(5, m, p=(0.4, 0.15, 0.15, 0.15, 0.15))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(m), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(m)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, m: int) -> pa.Table:
    x = rng.standard_normal((m, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, x.size + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1), pa.float32())),
            "label": pa.array(rng.integers(0, 10, m), pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One single-row-group parquet file per table, `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)
    return out_dir
