"""Seeded inputs for the three workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical Parquet, the same YCSB rows and the same event
batches. Data is built with NumPy + Arrow only; the engine under test
never sees the seed, only the generated rows.

The TPC-H tables follow the slimmed schema the repo's ``QuerySpec``
texts are written against (no partsupp, ``NATION_n`` names, single-word
``p_type``, 1995-2001 dates; see the repo's FIXTURES.md), with the same
value domains, so every query's literals select rows at any scale.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - _EPOCH).astype(int))


def _ts_ms(rng, lo: str, hi: str, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H tables at scale factor ``sf`` (lineitem has
    6M x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pkeys = np.arange(n_part, dtype="int64")
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pkeys),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (pkeys % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_ms(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts_ms(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file Parquet per table, the source the load phase
    ingests and the DuckDB oracle reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- YCSB ---------------------------------------------------------------------

YCSB_FIELDS = [f"field{i}" for i in range(10)]
YCSB_FIELD_LEN = 16
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype="S1")


def ycsb_values(rng: np.random.Generator, n: int) -> list[list[str]]:
    """``n`` rows of the ten ``YCSB_FIELD_LEN``-character field values."""
    raw = _ALPHABET[rng.integers(0, len(_ALPHABET), (n, 10, YCSB_FIELD_LEN))]
    flat = raw.view(f"S{YCSB_FIELD_LEN}").reshape(n, 10)
    return [[v.decode() for v in row] for row in flat]


def ycsb_rows(seed: int, n: int) -> tuple[list[int], list[list[str]]]:
    """Initial ``usertable`` content: keys ``0..n-1`` and their fields."""
    return list(range(n)), ycsb_values(np.random.default_rng([seed, 2]), n)


class Zipfian:
    """YCSB's zipfian rank generator (theta 0.99) over ``n`` items, by
    inverse CDF. Ranks past the current item count are redrawn, so one
    table serves a key set that shrinks and grows a little."""

    def __init__(self, n: int, theta: float = 0.99):
        w = 1.0 / np.arange(1, n + 1) ** theta
        self._cdf = np.cumsum(w) / w.sum()

    def rank(self, rng: np.random.Generator, live: int) -> int:
        while True:
            r = int(np.searchsorted(self._cdf, rng.random()))
            if r < live:
                return r


# -- events -------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
EVENTS_DDL = (
    "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING)"
)
_EVENTS_T0 = dt.datetime(2026, 1, 1)


def event_rows(seed: int, first_id: int, n: int) -> list[list]:
    """``n`` event rows with ids ``first_id..``: one event per 10 ms of
    event time, 5000 users, values in whole cents."""
    rng = np.random.default_rng([seed, 3, first_id])
    users = rng.integers(0, 5000, n).tolist()
    types = rng.integers(0, len(EVENT_TYPES), n).tolist()
    cents = rng.integers(0, 100_000, n).tolist()
    rows = []
    for i in range(n):
        eid = first_id + i
        rows.append(
            [
                eid,
                _EVENTS_T0 + dt.timedelta(milliseconds=10 * eid),
                users[i],
                EVENT_TYPES[types[i]],
                cents[i] / 100.0,
                f'{{"src":"app","n":{eid % 97}}}',
            ]
        )
    return rows
