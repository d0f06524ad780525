"""Seeded generator for the TPC-H-shaped tables the graph layer reads.

The engine projects customers into a people graph (``sources.tpch``):
nation → college, region → board, market segment → stream, account
balance bucket → address, and the parts a customer bought → interests.
The benchmark cannot rely on any pre-built data set, so it writes these
tables itself, with the column names and types of the engine's test data.
Every value is a function of ``(seed, scale)``; ``scale`` is the TPC-H
scale factor, with 150 customers, 1,500 orders and ~6,000 line items at
0.001.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def graph_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The five tables the people graph is derived from, keyed by name."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * scale))
    n_orders = 10 * n_cust
    n_lines = 4 * n_orders
    n_parts = max(20, round(200_000 * scale))
    n_supp = max(2, round(10_000 * scale))

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    custkey = np.arange(n_cust, dtype="int64")
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    orderkey = np.arange(n_orders, dtype="int64")
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2400, n_orders) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_lines).astype("float64")
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype("int64"),
        "l_partkey": rng.integers(0, n_parts, n_lines).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_lines) * _DAY_US),
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_graph_tables(out_dir: str, seed: int, scale: float) -> int:
    """Write ``<out_dir>/<table>.parquet`` for every graph table; returns
    the customer (node) count."""
    os.makedirs(out_dir, exist_ok=True)
    tables = graph_tables(seed, scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables["customer"].num_rows
