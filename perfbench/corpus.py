"""A TPC-H-shaped corpus for the query mix, written with NumPy + Arrow.

Same tables, column types and physical parquet encoding (naive
microsecond timestamps) as the corpus the ``queries.catalog`` entries
and their DuckDB oracles were written against (TESTDATA.md), one
``<table>.parquet`` file each, at ``scale`` times the sf 1 row counts.
The package has no generator for this corpus, so the benchmark makes its
own: deterministic in ``seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_WORDS = ["red", "blue", "small", "large", "steel", "brass", "ring", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400 * 1_000_000


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options: list[str], n: int) -> pa.Array:
    return pa.array(np.array(options, dtype=object)[rng.integers(0, len(options), n)], pa.string())


def write_corpus(root: str, scale: float, seed: int = 42) -> int:
    """Write the corpus under ``root``; returns its size in bytes."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(1, int(15_000 * scale))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)},
        "nation": {
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": pa.array(
                [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": _money(rng, n_part, 900.0, 2100.0),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": np.arange(n_ev),
            "ts": (
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + rng.integers(0, 30 * US_PER_DAY, n_ev)
            ).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, cols in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        total += os.path.getsize(path)
    return total
