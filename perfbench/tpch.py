"""Seeded generator for the TPC-H-like tables the ``ledger_scan`` queries read.

The registered queries read ``{sf_dir}/{table}.parquet`` with the column names,
types and value domains of the repository's test tables (``TESTDATA.md``):
``lineitem``, ``orders`` and ``supplier``. Row counts scale with ``sf`` like
TPC-H (sf 0.1: 600,000 line items, 150,000 orders, 1,000 suppliers). The same
``(seed, sf)`` always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "supplier")

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_SPAN_DAYS = 2_404  # 1995-01-01 .. 2001-08-01
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "supplier": max(10, round(10_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    n_s, n_o, n_l = n["supplier"], n["orders"], n["lineitem"]

    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    order_day = rng.integers(0, _ORDER_SPAN_DAYS, n_o)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, max(1, n_o // 10), n_o, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_o),
            "o_totalprice": _money(rng, 1_000, 500_000, n_o),
            "o_orderdate": pa.array(_ORDER_EPOCH + order_day * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": rng.choice(_PRIORITIES, n_o),
        }
    )
    l_order = rng.integers(0, n_o, n_l, dtype=np.int64)
    ship_day = np.minimum(order_day[l_order] + rng.integers(1, 122, n_l), _ORDER_SPAN_DAYS + 121)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, max(1, n_l // 30), n_l, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_l, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_l),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_l),
            "l_shipdate": pa.array(_ORDER_EPOCH + ship_day * _DAY_US, pa.timestamp("us")),
        }
    )
    return {"lineitem": lineitem, "orders": orders, "supplier": supplier}


def write(sf_dir: str, seed: int, sf: float) -> int:
    """Write every table to ``{sf_dir}/{table}.parquet``; return the bytes written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in _tables(seed, sf).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
