"""Seeded input generator for the benchmark.

Builds the two tables the workloads load into an engine, with the value
domains of the library's TPC-H-shaped ``orders`` and ``customer``
fixtures, already in engine form (an ``id`` key column).  The same
``(seed, sf)`` always gives identical tables; ``sf=0.1`` is the
benchmark scale (150k orders, 15k customers), ``sf=0.001`` the smoke
scale.  Prices carry two decimals, so the workloads can keep exact
integer-cent models of them.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

ORDERS_PER_SF = 1_500_000
CUSTOMERS_PER_SF = 150_000
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
DAY_US = 86_400_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, derived from the seed."""
    return np.random.default_rng(zlib.crc32(f"{stream}:{seed}".encode()))


def orders(seed: int, sf: float) -> pa.Table:
    rng = rng_for(seed, "orders")
    n = max(1, int(ORDERS_PER_SF * sf))
    base_us = np.datetime64("1995-01-01", "us").astype(np.int64)
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "custkey": pa.array(rng.integers(0, customers_count(sf), n), pa.int64()),
        "status": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "price": np.round(rng.integers(100_000, 50_000_000, n) / 100, 2),
        "orderdate": pa.array(
            base_us + rng.integers(0, 2405, n) * DAY_US, pa.timestamp("us", tz="UTC")
        ),
        "priority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def customers_count(sf: float) -> int:
    return max(1, int(CUSTOMERS_PER_SF * sf))


def customers(seed: int, sf: float) -> pa.Table:
    rng = rng_for(seed, "customer")
    n = customers_count(sf)
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "name": [f"Customer#{i:09d}" for i in range(n)],
        "nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "acctbal": np.round(rng.integers(0, 1_000_000, n) / 100, 2),
        "mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })
