"""Seeded generator for the star-schema tables the dashboard and analyst
workloads read: ``region nation customer supplier part orders lineitem
events documents``, one parquet file each with ONE row group.

The schemas and value domains follow the engine's test tables (a
TPC-H-like star plus an ``events`` stream table and a ``documents``
corpus). One row group per file is deliberate: the engine's file-stream
sources and scans then read each table as a single task, which is the
layout the program meets in its own test data, so the benchmark keeps it
instead of hiding that cost. The same ``(seed, sf)`` gives byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Rows per table at sf=1 (the fact tables scale; the small dims do not).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All tables as Arrow tables, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in ROWS_AT_SF1.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adj = rng.choice(PART_ADJ, n["part"])
    noun = rng.choice(PART_NOUN, n["part"])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10, 2),
        }
    )
    order_days = rng.integers(0, 2404, n["orders"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(STATUSES, n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n["lineitem"]), 2),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n["lineitem"]),
            "l_linestatus": rng.choice(("F", "O"), n["lineitem"]),
            "l_shipdate": _ts(
                _EPOCH_1995 + rng.integers(1, 2500, n["lineitem"]) * _DAY_US
            ),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n["events"]))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + ev_ts),
            "user_id": rng.integers(0, max(2, n["events"] // 66), n["events"]),
            "event_type": rng.choice(EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }
    )
    lengths = rng.integers(10, 90, n["documents"])
    words = rng.choice(WORDS, int(lengths.sum()))
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n["documents"])]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n["documents"], dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n["documents"]),
            "source": [f"src{s}" for s in rng.integers(0, 20, n["documents"])],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group);
    return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts
