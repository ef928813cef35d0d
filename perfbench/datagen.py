"""Seeded synthetic tables for the benchmark.

The package's queries and operators are written against a TPC-H-like
star schema plus an ``events`` stream table (region, nation, customer,
supplier, part, orders, lineitem, events). This module builds those
tables from a seed with NumPy and writes them as single parquet files
``<dir>/<table>.parquet`` — the layout ``tables.load_table`` reads.

Row counts scale with ``sf`` the way the package's test data does
(sf0.1: 15k customers, 1k suppliers, 20k parts, 150k orders, 600k
lineitems, 100k events). Keys are dense ``0..n-1``; lineitem draws its
order key and line number independently, so ``(l_orderkey,
l_linenumber)`` is NOT unique — the same property the package's own
test data has, kept on purpose.

``upsample`` is the deterministic key-offset method of
``tools/gen_scale_data.py``: R copies of a table, every key domain
shifted by its stride ``max(key)+1`` per copy, foreign keys shifted with
their parent, timestamps kept.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "red", "small", "new", "hot", "old", "green", "big"]
_NOUN = ["anvil", "widget", "bolt", "ring", "rod", "plate", "gear", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000

# table -> {key column: key domain}; foreign keys share the parent's domain
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
}


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(n_days: np.ndarray, epoch: np.datetime64) -> np.ndarray:
    return epoch + n_days.astype("int64") * np.timedelta64(1, "D")


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All eight tables as Arrow tables; same (seed, sf) → same bytes."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": _pick(rng, _PTYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": 900.0 + rng.integers(0, 1000, npart) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng.integers(0, 2405, no), _ORDER_EPOCH),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": rng.integers(0, npart, nl).astype("int64"),
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng.integers(1, 2500, nl), _ORDER_EPOCH),
        }
    )
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": _EVENT_EPOCH + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n["users"], ne).astype("int64"),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.round(rng.exponential(40.0, ne), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def upsample(tables: dict[str, pa.Table], reps: int) -> dict[str, pa.Table]:
    """R key-offset copies of every keyed table (``tools/gen_scale_data.py``'s
    method): strides are ``max(key)+1`` of the domain's defining column."""
    defining = {"cust": ("customer", "c_custkey"), "supp": ("supplier", "s_suppkey"),
                "part": ("part", "p_partkey"), "order": ("orders", "o_orderkey"),
                "event": ("events", "event_id"), "user": ("events", "user_id")}
    strides = {}
    for dom, (tbl, col) in defining.items():
        strides[dom] = int(np.max(tables[tbl][col].to_numpy())) + 1
    out = {}
    for name, tbl in tables.items():
        keys = KEYED.get(name)
        if not keys:
            out[name] = tbl
            continue
        copies = []
        for rep in range(reps):
            t = tbl
            for col, dom in keys.items():
                shifted = t[col].to_numpy() + rep * strides[dom]
                t = t.set_column(t.schema.get_field_index(col), col, pa.array(shifted, pa.int64()))
            copies.append(t)
        out[name] = pa.concat_tables(copies)
    return out

