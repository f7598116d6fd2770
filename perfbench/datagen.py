"""Deterministic sf0.1-shaped TPC-H-like tables for the benchmark.

The benchmark may only read inside its own checkout, so it cannot use a
shared test-data directory. This module regenerates tables with the same
schemas, row counts and value domains as the project's sf0.1 test data
(seed 42): 600k lineitem rows, 150k orders, 15k customers, 20k parts,
1k suppliers, 25 nations, 5 regions and 100k events, one Parquet file
(one row group) per table, about 17 MB in total.

The data seed is fixed. The workload seed (``--seed``) only changes the
order and parameters of the operations run against these tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated content changes, so a stale copy is rebuilt.
VERSION = 1
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2405          # 1995-01-01 .. 2001-08-01
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts in [lo, hi] with two decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _days(day0: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array((day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]"))


def build_tables(sf: float = 0.1, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    nation = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(_ORDER_DAY0, rng.integers(0, _ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(_SHIP_DAY0, rng.integers(0, _SHIP_DAYS + 1, n_li)),
    })
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_EVENT_T0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def ensure_dataset(root: str) -> str:
    """Write the tables under ``root`` once; reuse them on later runs.

    A ``_READY`` marker holding the generator version is written last,
    so an interrupted generation is redone rather than half-read.
    """
    marker = os.path.join(root, "_READY")
    want = {"version": VERSION, "seed": DATA_SEED}
    try:
        with open(marker) as fh:
            if json.load(fh) == want:
                return root
    except (OSError, ValueError):
        pass
    os.makedirs(root, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"),
                       row_group_size=len(table) or 1, compression="snappy")
    with open(marker, "w") as fh:
        json.dump(want, fh)
    return root
