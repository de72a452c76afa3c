"""Seeded generator of the sf0.1-shaped input tables.

The declared queries read ten parquet tables from one directory: the
TPC-H-ish star schema (region, nation, customer, supplier, part, orders,
lineitem) plus events, documents and embeddings. This module writes the
same schemas, row counts and value distributions from a seed, so the
benchmark never reads data from outside its own checkout and the same seed
always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 tables the declared queries were tuned on.
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
TABLES = ("region", "nation", *ROWS)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every input table for ``seed``, in memory. Any integer is a seed."""
    rng = np.random.default_rng(seed % 2**63)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    keys = np.arange(n)
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    })
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": np.sort(start + rng.integers(0, span_us, n).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    n = ROWS["documents"]
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(_VOCAB[w] for w in words[a:b]) for a, b in zip(cuts[:-1], cuts[1:])]
    # a few exact copies, so exact and near-duplicate detection find pairs
    for src, dst in rng.choice(n, (8, 2), replace=False):
        texts[dst] = texts[src]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    n, dim = ROWS["embeddings"], 64
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })
    return t


def write_tables(out_dir: str, seed: int) -> str:
    """Write every table for ``seed`` as ``<out_dir>/<table>.parquet``, one
    file and one row group each like the tables the queries were tuned on,
    and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir
