"""Seeded TPC-H-like input tables for the benchmark.

The tables have the column names, types and value ranges of the
repository's test data (one parquet file per table, written by pyarrow),
so every registry query, the medallion sources and the DuckDB oracles
run on them unchanged. Keys are dense and unique; every other column is
drawn independently from the seed, so two seeds give different rows with
the same shape.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# rows per unit of scale factor (TPC-H proportions)
CUSTOMERS, SUPPLIERS, PARTS, ORDERS, EVENTS = (
    150_000, 10_000, 200_000, 1_500_000, 1_000_000)

US_PER_DAY = 86_400_000_000
EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
                 .timestamp()) * 1_000_000
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                 .timestamp()) * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(CUSTOMERS * sf))
    n_supp = max(10, int(SUPPLIERS * sf))
    n_part = max(200, int(PARTS * sf))
    n_ord = max(1_500, int(ORDERS * sf))
    n_ev = max(1_000, int(EVENTS * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part),
                                              _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + order_day * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, ~4 on average
    l_order = np.repeat(np.arange(n_ord), lines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + (order_day[l_order]
                                        + rng.integers(1, 122, n_li))
                          * US_PER_DAY)})
    n_users = max(150, n_cust // 10)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.sort(
            rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return out


def write(out_dir: Path, seed: int, sf: float) -> dict:
    """Writes one parquet file per table; returns {table: (rows, bytes)}."""
    out_dir.mkdir(parents=True, exist_ok=True)
    sizes = {}
    for name, tab in tables(seed, sf).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(tab, path)
        sizes[name] = (tab.num_rows, path.stat().st_size)
    return sizes
