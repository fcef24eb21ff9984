"""Seeded generator for the ten relational/LLM tables the registry reads.

The tables follow the schemas and value distributions of the engine's
TPC-H-style test data (FIXTURES.md, part A): the same column names and
Arrow types, the same categorical domains, gaussian unit-norm 64-d
embeddings and 30-word documents of which 5% are "<other doc> dup" near
duplicates. Each table is one parquet file with one row group, the shape
the shipped test data has. The same (seed, scale) writes byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(scale: float, docs: int, vecs: int) -> dict[str, int]:
    """Row count per table; ``scale`` 0.1 gives the sf0.1 fact sizes."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": docs,
        "embeddings": vecs,
    }


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, span_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, span_days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def build(table: str, seed: int, n: dict[str, int]) -> pa.Table:
    rng = _rng(seed, table)
    rows = n[table]
    ids = np.arange(rows, dtype=np.int64)
    if table == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        })
    if table == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if table == "customer":
        return pa.table({
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in range(rows)],
            "c_nationkey": pa.array(rng.integers(0, 25, rows), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, rows),
            "c_mktsegment": _pick(rng, _SEGMENTS, rows),
        })
    if table == "supplier":
        return pa.table({
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in range(rows)],
            "s_nationkey": pa.array(rng.integers(0, 25, rows), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, rows),
        })
    if table == "part":
        adj = rng.integers(0, len(_PART_ADJ), rows)
        noun = rng.integers(0, len(_PART_NOUN), rows)
        return pa.table({
            "p_partkey": ids,
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, rows)],
            "p_type": _pick(rng, _PART_TYPES, rows),
            "p_size": pa.array(rng.integers(1, 51, rows), pa.int32()),
            "p_retailprice": np.round(900.0 + (ids % 1000) * 0.1, 1),
        })
    if table == "orders":
        return pa.table({
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, n["customer"], rows),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], rows),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, rows),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, rows),
            "o_orderpriority": _pick(rng, _PRIORITIES, rows),
        })
    if table == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, n["orders"], rows),
            "l_partkey": rng.integers(0, n["part"], rows),
            "l_suppkey": rng.integers(0, n["supplier"], rows),
            "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, rows),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
            "l_linestatus": _pick(rng, ["F", "O"], rows),
            "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2498, rows),
        })
    if table == "events":
        ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, rows))
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(100, rows // 66), rows),
            "event_type": _pick(rng, _EVENT_TYPES, rows),
            "value": np.round(rng.exponential(50.0, rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        })
    if table == "documents":
        lens = rng.integers(10, 101, rows)
        words = np.asarray(_VOCAB, dtype=object)
        text = [" ".join(words[rng.integers(0, len(_VOCAB), k)]) for k in lens]
        dups = rng.choice(rows, rows // 20, replace=False)
        for d in dups:
            src = int(rng.integers(0, rows))
            if src != d:
                text[d] = text[src] + " dup"
        return pa.table({
            "doc_id": ids,
            "text": text,
            "lang": _pick(rng, _LANGS, rows, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(rows)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        })
    if table == "embeddings":
        v = rng.standard_normal((rows, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, rows * 64 + 1, 64, dtype=np.int32)),
            pa.array(v.ravel(), pa.float32()),
        )
        return pa.table({
            "vec_id": ids,
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, rows), pa.int32()),
        })
    raise ValueError(f"unknown table {table}")


def write_tables(
    out_dir: str, seed: int, scale: float, docs: int, vecs: int
) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale, docs, vecs)
    for t in TABLES:
        tbl = build(t, seed, n)
        pq.write_table(tbl, f"{out_dir}/{t}.parquet", row_group_size=max(1, tbl.num_rows))
    return n
