"""Seeded dashboard tables for the benchmark.

Writes the five tables the 17 dashboard panels read (`events`,
`customer`, `nation`, `orders`, `lineitem`) as parquet, with the schema
and value shapes of the repo's sf test tables: a month of events in
January 2024 over `users` stations, `{"k": n}` payloads, TPC-H-like
orders and line items. `scale` = 1 matches sf0.1's row counts
(100 k events, 15 k customers, 150 k orders, 600 k line items). The
same seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    n_cust = int(15_000 * scale)
    n_users = max(1, n_cust // 10)
    n_events = int(100_000 * scale)
    n_orders = int(150_000 * scale)
    n_lines = int(600_000 * scale)
    os.makedirs(out, exist_ok=True)
    tables = {}

    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    ts = np.sort(T0_US + rng.integers(0, 30 * DAY_US, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), type=pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"],
                                 n_events),
        "value": np.round(rng.exponential(30.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    day0 = np.datetime64("1995-01-01", "D").astype("int64")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), type=pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts((day0 + rng.integers(0, 2500, n_orders)) * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_lines), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_lines), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_lines),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["O", "F"], n_lines),
        "l_shipdate": _ts((day0 + rng.integers(0, 2500, n_lines)) * DAY_US),
    })
    for name, t in tables.items():
        tmp = os.path.join(out, name + ".parquet.tmp")
        pq.write_table(t, tmp, row_group_size=64 * 1024)
        os.replace(tmp, os.path.join(out, name + ".parquet"))
    return sorted(tables)
