"""Seeded star-schema tables for the `core_queries` workload.

The program has no generator for the tables its `CoreQueries` read, so the
benchmark owns one. It writes one parquet file per table with the columns
and types the queries and their DuckDB oracles expect, at about a 0.01
scale factor of a TPC-H-like schema (60,000 line items, 15,000 orders,
10,000 events). Every value comes from `numpy.random.default_rng(seed)`.

Shapes the queries exercise: some nation names carry the `' Town'` suffix,
some part sizes are 0 (the -999 sentinel), a third of the customers have no
order, a few line items name a supplier that does not exist, money has two
decimals, and event times have microseconds and never tie within a user.
"""

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 1500
SUPPLIERS = 100
PARTS = 2000
ORDERS = 15000
EVENTS = 10000
USERS = 100

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["small", "red", "large", "blue", "ring", "widget", "bolt", "gear"]
DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    """`n` midnight timestamps between two dates."""
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """Table name -> pyarrow table."""
    rng = np.random.default_rng(seed)
    pick = lambda values, n: pa.array(np.array(values)[rng.integers(0, len(values), n)])
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    out = {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{k}" + (" Town" if k % 4 == 1 else "") for k in range(25)],
            "n_regionkey": i32([k % 5 for k in range(25)])}),
        "customer": pa.table({
            "c_custkey": i64(range(CUSTOMERS)),
            "c_name": [f"Customer#{k:09d}" for k in range(CUSTOMERS)],
            "c_nationkey": i32(rng.integers(0, 25, CUSTOMERS)),
            "c_acctbal": _money(rng, CUSTOMERS, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, CUSTOMERS)}),
        "supplier": pa.table({
            "s_suppkey": i64(range(SUPPLIERS)),
            "s_name": [f"Supplier#{k:09d}" for k in range(SUPPLIERS)],
            "s_nationkey": i32(rng.integers(0, 25, SUPPLIERS)),
            "s_acctbal": _money(rng, SUPPLIERS, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": i64(range(PARTS)),
            "p_name": [f"{WORDS[a]} {WORDS[4 + b]}" for a, b in
                       zip(rng.integers(0, 4, PARTS), rng.integers(0, 4, PARTS))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, PARTS)],
            "p_type": pick(["ECONOMY", "STANDARD", "PROMO", "LARGE"], PARTS),
            "p_size": i32(rng.integers(0, 51, PARTS)),
            "p_retailprice": np.round(900 + np.arange(PARTS) * 0.1, 2)}),
    }

    # customers 0 mod 3 never order
    buyers = np.array([k for k in range(CUSTOMERS) if k % 3])
    out["orders"] = pa.table({
        "o_orderkey": i64(range(ORDERS)),
        "o_custkey": i64(buyers[rng.integers(0, len(buyers), ORDERS)]),
        "o_orderstatus": pick(["F", "O", "P"], ORDERS),
        "o_totalprice": _money(rng, ORDERS, 1000, 500000),
        "o_orderdate": _days(rng, ORDERS, "1992-01-01", "1998-12-31"),
        "o_orderpriority": pick(PRIORITIES, ORDERS)})

    lines = rng.integers(1, 8, ORDERS)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(ORDERS), lines)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": i64(orderkey),
        "l_partkey": i64(rng.integers(0, PARTS, n)),
        # a few suppliers past the supplier table
        "l_suppkey": i64(rng.integers(0, SUPPLIERS + 4, n)),
        "l_linenumber": i32(linenumber),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 100000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1992-01-02", "2001-12-31")})

    # distinct microsecond offsets, so no two events share a time
    offsets = np.sort(rng.choice(30 * DAY_US, EVENTS, replace=False))
    out["events"] = pa.table({
        "event_id": i64(range(EVENTS)),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us")
                       + offsets.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, USERS, EVENTS)),
        "event_type": pick(EVENT_TYPES, EVENTS),
        "value": _money(rng, EVENTS, 0, 100),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})
    return out


def make(dest, seed):
    """Write the tables for `seed` to the new directory `dest`."""
    dest = Path(dest)
    dest.mkdir(parents=True)
    for name, table in tables(seed).items():
        pq.write_table(table, dest / f"{name}.parquet")
    return dest
