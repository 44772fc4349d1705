"""Seeded inputs for the http_merge_pg workload and the result it must land.

The generator process (``mockapi.py``) serves the orders; the customers
table is loaded into Postgres before the first run. The benchmark computes
the expected target contents from the same rows in plain Python,
independently of Spark and the sink, and compares them with what landed.
Every output column is an integer or a string, so a checksum over the
target's text form is exact.
"""

from __future__ import annotations

import hashlib
import random

ORDERS_ROWS = 20_000
ORDERS_PAGE = 1_000
CUSTOMERS_ROWS = 2_000
ORDER_STATUSES = ["NEW", "PAID", "SHIPPED", "RETURNED"]
REGIONS = ["north", "south", "east", "west", "central"]

TARGET_COLUMNS = [
    "order_id", "customer_id", "region", "tier", "line_cents", "net_cents",
    "status", "cust_seq", "cust_total_cents",
]


def orders_rows(seed: int) -> list[dict]:
    rng = random.Random(seed * 7919 + 2)
    return [
        {
            "order_id": i,
            "customer_id": rng.randrange(CUSTOMERS_ROWS),
            "amount_cents": rng.randrange(100, 50_000),
            "qty": rng.randrange(1, 6),
            "status": rng.choice(ORDER_STATUSES),
            "day": rng.randrange(365),
        }
        for i in range(ORDERS_ROWS)
    ]


def customers_rows(seed: int) -> list[tuple]:
    rng = random.Random(seed * 7919 + 3)
    return [
        (c, f"customer {c}", rng.choice(REGIONS), rng.randrange(1, 5))
        for c in range(CUSTOMERS_ROWS)
    ]


def expected_target(orders: list[dict], customers: list[tuple]) -> list[tuple]:
    """What ``modules/merge_pg/orders.sql`` must leave in the target after
    the MERGE, ordered by order_id."""
    cust = {c[0]: c for c in customers}
    by_customer: dict[int, list[dict]] = {}
    for o in orders:
        by_customer.setdefault(o["customer_id"], []).append(o)
    seq: dict[int, int] = {}
    total: dict[int, int] = {}
    for cid, group in by_customer.items():
        group.sort(key=lambda o: (o["day"], o["order_id"]))
        for i, o in enumerate(group, start=1):
            seq[o["order_id"]] = i
        total[cid] = sum(o["amount_cents"] * o["qty"] for o in group)
    out = []
    for o in sorted(orders, key=lambda o: o["order_id"]):
        _, _, region, tier = cust[o["customer_id"]]
        line = o["amount_cents"] * o["qty"]
        net = line * 9 // 10 if tier >= 3 else line
        out.append(
            (
                o["order_id"], o["customer_id"], region, tier, line, net,
                o["status"].lower(), seq[o["order_id"]], total[o["customer_id"]],
            )
        )
    return out


def stale_rows(orders: list[dict]) -> list[tuple]:
    """Old versions of the even order ids, written before each run so that
    half the keys are MATCHED (updated) and half are inserted."""
    return [
        (o["order_id"], o["customer_id"], "stale", 0, -1, -1, "stale", -1, -1)
        for o in orders
        if o["order_id"] % 2 == 0
    ]


def checksum(rows: list[tuple]) -> str:
    """md5 of the rows' text form, matching ``checksum_sql`` in Postgres."""
    text = ",".join("|".join(str(v) for v in r) for r in rows)
    return hashlib.md5(text.encode()).hexdigest()


def checksum_sql(table: str, columns: list[str]) -> str:
    cols = ", ".join(columns)
    return (
        f"SELECT count(*), md5(string_agg(concat_ws('|', {cols}), ',' "
        f"ORDER BY {columns[0]})) FROM {table}"
    )
