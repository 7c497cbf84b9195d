"""Seeded generator of the benchmark's input tables.

The tables follow the schema of the repository's TPC-H-ish test data for the
four the workloads use (nation, customer, orders, events), so the engine's
own ``tables``/``triplify`` loaders read them unchanged.  Row counts scale
with ``sf`` the way the test data does (customer = 150k x sf, orders = 10
per customer, events = 1M x sf over 30 days).  Every value derives from
``seed``: the same seed writes the same files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
EVENT_START = datetime(2024, 1, 1)
EVENT_DAYS = 30


def sizes(sf: float) -> dict[str, int]:
    n_cust = max(30, int(150_000 * sf))
    return {
        "customer": n_cust,
        "orders": 10 * n_cust,
        "events": max(1000, int(1_000_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return base + rng.integers(0, 2400, n).astype("timedelta64[D]")


TABLES = ["nation", "customer", "orders", "events"]


def make_tables(sf: float, seed: int, names: list[str] | None = None) -> dict[str, pa.Table]:
    """The requested tables (all by default).  Each table draws from its own
    generator seeded by ``(seed, table)``, so a table's contents do not
    depend on which other tables were requested."""
    n = sizes(sf)
    nc, no = n["customer"], n["orders"]
    want = TABLES if names is None else names

    def rng(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, TABLES.index(name)])

    t: dict[str, pa.Table] = {}
    if "nation" in want:
        t["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": NATIONS,
            "n_regionkey": pa.array(rng("nation").integers(0, 5, 25), pa.int32()),
        })
    if "customer" in want:
        r = rng("customer")
        ck = np.arange(nc, dtype=np.int64)
        t["customer"] = pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
        })
    if "orders" in want:
        r = rng("orders")
        t["orders"] = pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": r.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
            "o_totalprice": _money(r, 900.0, 480_000.0, no),
            "o_orderdate": _days(r, no),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
        })
    if "events" in want:
        r = rng("events")
        ne = n["events"]
        span_us = EVENT_DAYS * 86_400 * 1_000_000
        offs = np.sort(r.integers(0, span_us, ne))
        t["events"] = pa.table({
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64(EVENT_START, "us") + offs.astype("timedelta64[us]"),
            "user_id": r.integers(0, nc, ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), ne)],
            "value": _money(r, 0.0, 100.0, ne),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def epoch_seconds(ts: pa.ChunkedArray) -> np.ndarray:
    """Whole seconds since the Unix epoch, as Spark's ``cast(long)`` of a
    UTC timestamp gives them."""
    us = ts.to_numpy().astype("datetime64[us]").astype(np.int64)
    return us // 1_000_000
