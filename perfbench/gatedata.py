"""Seeded parquet tables for the gates workload.

The tables the workload's gates read, with the same names, columns and
physical types as the repository's test data (a TPC-H-like star schema
plus ``events``), at about half its 0.01 scale. Part
keys are skewed so that basket pairs reach the support threshold and the
association-rule gate has a non-empty result.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 750, 50, 1_000, 7_500
N_EVENTS, N_USERS = 5_000, 100


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    return pa.array([base + timedelta(seconds=float(s)) for s in seconds], pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, N_CUSTOMER),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMER
            ).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, N_SUPPLIER),
        }
    )
    days = rng.integers(0, 2400, N_ORDERS)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _ts(datetime(1995, 1, 1), days * 86400),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS).tolist(),
        }
    )
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            # skewed part popularity: frequent pairs reach the basket support
            "l_partkey": pa.array((N_PART * rng.random(n_li) ** 3).astype(np.int64), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _ts(datetime(1995, 1, 1), (np.repeat(days, lines) + rng.integers(1, 120, n_li)) * 86400),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": _ts(datetime(2024, 1, 1), np.round(secs, 6)),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], N_EVENTS).tolist(),
            "value": _money(rng, 0, 100, N_EVENTS),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    return out


def write(seed: int, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
