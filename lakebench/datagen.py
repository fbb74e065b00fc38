"""Seeded synthetic inputs in the fixture layout the engine reads:
``region nation customer supplier part orders lineitem events`` as one
parquet file each, with the column names, physical types and value
domains of the TPC-H-style fixtures. ``scale`` plays the role of the
TPC-H scale factor (customers = 150,000 x scale). The same seed always
gives byte-identical tables."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
PART_TYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
# The tables every run reads: the same for every --seed, which drives only
# the order of operations, the transcript batches and the table changes,
# so runs on different seeds time the same data.
DATA_SEED = 1

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _sizes(scale: float) -> dict[str, int]:
    n_cust = max(10, int(150_000 * scale))
    return {
        "customer": n_cust,
        "supplier": max(5, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": n_cust * 10,
        "lineitem": n_cust * 40,
        "events": max(100, int(1_000_000 * scale)),
        "users": max(10, n_cust // 10),
    }


def _build(name: str, rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        })
    if name == "customer":
        m = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(m), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(m)],
            "c_nationkey": pa.array(rng.integers(0, 25, m), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, m), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, m),
        })
    if name == "supplier":
        m = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(m), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(m)],
            "s_nationkey": pa.array(rng.integers(0, 25, m), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, m), f64),
        })
    if name == "part":
        m = n["part"]
        adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), m)]
        noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), m)]
        return pa.table({
            "p_partkey": pa.array(np.arange(m), i64),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, m)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, m),
            "p_size": pa.array(rng.integers(1, 51, m), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(m) % 1000) / 10, 2), f64),
        })
    if name == "orders":
        m = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(m), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], m), i64),
            "o_orderstatus": _pick(rng, ORDER_STATUS, m),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, m), f64),
            "o_orderdate": _days(rng, 0, 2404, m),
            "o_orderpriority": _pick(rng, PRIORITIES, m),
        })
    if name == "lineitem":
        m = n["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, m), f64),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, f64),
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, 1, 2499, m),
        })
    if name == "events":
        m = n["events"]
        ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, m))
        return pa.table({
            "event_id": pa.array(np.arange(m), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], m), i64),
            "event_type": _pick(rng, EVENT_TYPES, m),
            "value": pa.array(np.round(np.minimum(rng.exponential(60.0, m), 560.0), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)], pa.string()),
        })
    raise ValueError(f"unknown table {name!r}")


def make_tables(seed: int, scale: float, only: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """Build the tables named in ``only``. Each table draws from its own
    random stream, so its content does not depend on which other tables
    were asked for."""
    n = _sizes(scale)
    return {
        name: _build(name, np.random.default_rng([seed, TABLES.index(name)]), n)
        for name in only
    }


def write_tables(
    out_dir: str, seed: int, scale: float, only: tuple[str, ...] = TABLES
) -> dict[str, int]:
    """Write each table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale, only).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
