"""Seeded TPC-H-shaped ``orders`` table for the registered RFM reports.

The six reports read only ``o_orderkey``, ``o_custkey``, ``o_orderdate``
and ``o_totalprice``.  Keys, customer sparsity (no orders for every
third customer), the 1992-01-01 .. 1998-08-02 date range and the price
range follow TPC-H, so the reports' group counts and windows match the
shape of the engine's test corpora.  One parquet file with one row
group, like those corpora, so ``queries.load`` applies its scan spread.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_FIRST = dt.date(1992, 1, 1)
_DAYS = (dt.date(1998, 8, 2) - _FIRST).days + 1


def write_orders(sf_dir: str, seed: int, n_orders: int) -> str:
    """Write ``<sf_dir>/orders.parquet`` with ``n_orders`` rows."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_orders, dtype=np.int64)
    orderkey = (i // 8) * 32 + i % 8 + 1  # TPC-H sparse keys
    n_cust = max(n_orders // 10, 3)
    cust = rng.integers(1, n_cust + 1, n_orders)
    cust = np.where(cust % 3 == 0, cust - 1, cust)
    cust = np.where(cust == 0, 1, cust).astype(np.int64)
    days = rng.integers(0, _DAYS, n_orders)
    dates = (np.datetime64(_FIRST, "us")
             + days.astype("timedelta64[D]").astype("timedelta64[us]"))
    cents = rng.integers(90_000, 50_000_000, n_orders)
    table = pa.table({
        "o_orderkey": pa.array(orderkey),
        "o_custkey": pa.array(cust),
        "o_totalprice": pa.array(cents / 100.0),
        "o_orderdate": pa.array(dates, type=pa.timestamp("us")),
    })
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "orders.parquet")
    pq.write_table(table, path, row_group_size=n_orders)
    return path
