"""Seeded input generator. The same seed gives byte-identical inputs:
customer / orders / lineitem tables with TPC-H column names and shapes
(money in whole cents, so exact-cents sums are exact).
"""

from __future__ import annotations

import os

import numpy as np

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_FLAGS = np.array(["A", "N", "R"])
_MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])


def tpch_like(seed: int, n_customer: int, n_orders: int, lines_per_order: int = 4) -> dict:
    """-> {table: pyarrow.Table}. Row order is a seeded permutation."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    ck = rng.permutation(np.arange(1, n_customer + 1, dtype=np.int64))
    customer = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, n_customer, dtype=np.int32),
        "c_acctbal": rng.integers(-99_999, 999_999, n_customer) / 100.0,
        "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n_customer)],
    })
    ok = rng.permutation(np.arange(1, n_orders + 1, dtype=np.int64))
    start = np.datetime64("1992-01-01")
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_customer + 1, n_orders, dtype=np.int64),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n_orders)],
        "o_totalprice": rng.integers(100_00, 500_000_00, n_orders) / 100.0,
        "o_orderdate": start + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n_orders)],
        "o_shippriority": np.zeros(n_orders, dtype=np.int32),
    })
    n_lines = n_orders * lines_per_order
    lk = np.repeat(ok, lines_per_order)
    ln = np.tile(np.arange(1, lines_per_order + 1, dtype=np.int32), n_orders)
    lineitem = pa.table({
        "l_orderkey": lk,
        "l_linenumber": ln,
        "l_partkey": rng.integers(1, 20_000, n_lines, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": rng.integers(900_00, 100_000_00, n_lines) / 100.0,
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _FLAGS[rng.integers(0, 3, n_lines)],
        "l_shipmode": _MODES[rng.integers(0, len(_MODES), n_lines)],
        "l_shipdate": start + rng.integers(0, 2500, n_lines).astype("timedelta64[D]"),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict, out_dir: str, row_group: int = 50_000) -> None:
    """One ``{table}.parquet`` per table (the parquet source's layout),
    with row groups small enough that every core gets a split."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=row_group)
