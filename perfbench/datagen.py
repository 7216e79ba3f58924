"""Seeded generator for the star-schema inputs the registry queries read.

Writes one parquet file per table (``region nation customer supplier
part orders lineitem events documents embeddings``) with the same
column names, Arrow types and value domains as the TPC-H-ish test
tables the registry and its DuckDB oracles were written against:
uniform keys and measures, two-decimal money, microsecond timestamps
without a zone, a 31-word document vocabulary with ``" dup"``-suffixed
near copies and a few exact copies, and unit-norm 64-dim float32
embeddings. The same ``(seed, sf)`` always gives byte-identical
content.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "hot", "new", "small", "large", "old", "green"]
_PART_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": n_docs, "embeddings": n_vecs,
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.045:  # near copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.047:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out_dir: str, seed: int, sf: float = 0.01, n_docs: int = 500,
             n_vecs: int = 500) -> dict[str, int]:
    """Write every table under ``out_dir`` and return their row counts."""
    rng = np.random.default_rng(seed)
    n = sizes(sf, n_docs, n_vecs)
    i32, i64 = np.int32, np.int64
    n_users = max(10, n["customer"] // 10)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n["events"])) + _EPOCH_2024
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"], dtype=i64)),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, _PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(i32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]).astype(i64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n["orders"]) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n["lineitem"]) * _DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n["events"], dtype=i64)),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n["events"]).astype(i64)),
            "event_type": _pick(rng, _EVENT_TYPES, n["events"]),
            "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
