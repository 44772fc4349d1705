"""http_merge_pg: a pipeline module run through
``pipeline.runner.run_module``.

The module (``modules/merge_pg/orders.sql``) reads orders from the offline
API (``mockapi.py``; page_number pages with a total hint, so no page-count
probe runs) and customers back from Postgres through a ``kind: postgres``
source, joins them, adds a per-customer window and derived columns, and
MERGEs by order_id into a live Postgres table. Before each run, outside
the timed part, the target is rebuilt holding stale versions of the even
ids and ANALYZEd: every run updates half the keys and inserts the other
half, and dead tuples never build up between runs.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import time
import urllib.request

import yaml

import inputs
from pgserver import LocalPostgres

HERE = os.path.dirname(os.path.abspath(__file__))
MODULES_DIR = os.path.join(HERE, "modules", "merge_pg")
MODULE = "orders.sql"
TARGET = "orders_enriched"
PG_USER_ENV, PG_PASS_ENV = "PERFBENCH_PG_USER", "PERFBENCH_PG_PASS"


class MockApi:
    """The generator process and its counters."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "mockapi.py"), "--seed", str(seed)],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            self.stop()
            raise RuntimeError("mock API did not start")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=30) as resp:
            return json.loads(resp.read())

    def stats(self) -> dict:
        return self._get("/_stats")

    def reset(self) -> None:
        self._get("/_reset")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class MergePgWorkload:
    name = "http_merge_pg"
    warmup_runs = 1  # untimed run after setup; see STEADINESS.md, "Warm-up"
    # temp-view name prefix -> the layer whose source it is
    source_view_prefixes = {"orders_": "http", "customers_": "pgsource"}

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.api: MockApi | None = None
        self.pg: LocalPostgres | None = None
        self.config_path = os.path.join(work, "pipelines.yaml")

    def start_services(self) -> None:
        self.api = MockApi(self.seed)
        self.pg = LocalPostgres(self.work)
        self.pg.start()
        os.environ[PG_USER_ENV], os.environ[PG_PASS_ENV] = "postgres", "trust"
        config = {
            "sources": [
                {
                    "name": "orders",
                    "url": self.api.url + "/orders",
                    "data_path": "/data",
                    "pagination": {
                        "type": "page_number",
                        "per_page": inputs.ORDERS_PAGE,
                        "total_hint": {"kind": "items", "pointer": "/meta/total"},
                    },
                    "primary_key_in_dest": "order_id",
                    "max_concurrency": 4,
                },
                {
                    "name": "customers",
                    "kind": "postgres",
                    "dsn": self.pg.dsn,
                    "table": "customers",
                    "partition_column": "customer_id",
                    "num_partitions": 4,
                },
            ],
            "targets": [
                {
                    "name": "warehouse", "kind": "postgres", "host": "127.0.0.1",
                    "port": self.pg.port, "database": "postgres",
                    "username_env": PG_USER_ENV, "password_env": PG_PASS_ENV,
                }
            ],
        }
        with open(self.config_path, "w") as f:
            yaml.safe_dump(config, f)
        orders = inputs.orders_rows(self.seed)
        customers = inputs.customers_rows(self.seed)
        self.expected = inputs.expected_target(orders, customers)
        self.expected_sum = inputs.checksum(self.expected)
        self.stale = inputs.stale_rows(orders)
        self._load(
            "customers",
            "customer_id BIGINT PRIMARY KEY, name TEXT, region TEXT, tier BIGINT",
            customers,
        )

    def stop_services(self) -> None:
        if self.api is not None:
            self.api.stop()
            self.api = None
        if self.pg is not None:
            self.pg.stop()
            self.pg = None

    def context(self) -> dict:
        return {"postgres": self.pg.settings()}

    def _load(self, table: str, columns: str, rows: list[tuple]) -> None:
        """(Re)create ``table``, COPY ``rows`` into it and ANALYZE it."""
        conn = self.pg.connect()
        try:
            cur = conn.cursor()
            cur.execute(f"DROP TABLE IF EXISTS {table}")
            cur.execute(f"CREATE TABLE {table} ({columns})")
            buf = io.StringIO("".join(",".join(map(str, r)) + "\n" for r in rows))
            cur.copy_expert(f"COPY {table} FROM STDIN WITH (FORMAT csv)", buf)
            conn.commit()
            cur.execute(f"ANALYZE {table}")
            conn.commit()
        finally:
            conn.close()

    def prepare_run(self) -> None:
        self._load(
            TARGET,
            "order_id BIGINT PRIMARY KEY, customer_id BIGINT, region TEXT, tier BIGINT, "
            "line_cents BIGINT, net_cents BIGINT, status TEXT, cust_seq BIGINT, "
            "cust_total_cents BIGINT",
            self.stale,
        )

    def run_once(self, spark):
        """One pipeline run; returns the runner's ModuleStats."""
        from apitap_spark.config.models import load_config_from_path
        from apitap_spark.pipeline.runner import run_module

        cfg = load_config_from_path(self.config_path)
        return run_module(spark, cfg, MODULES_DIR, MODULE, "warehouse")

    def check(self) -> bool:
        """Row count, every column of every row (so the key set too), and
        no stale version left on a matched key."""
        conn = self.pg.connect()
        try:
            cur = conn.cursor()
            cur.execute(inputs.checksum_sql(TARGET, inputs.TARGET_COLUMNS))
            n, digest = cur.fetchone()
            cur.execute(f"SELECT count(*) FROM {TARGET} WHERE status = 'stale'")
            stale_left = cur.fetchone()[0]
            conn.rollback()
        finally:
            conn.close()
        return n == len(self.expected) and digest == self.expected_sum and stale_left == 0

    def pg_counters(self) -> dict:
        """Server-wide write counters; polled until the exiting writer
        backends have flushed their statistics."""
        conn = self.pg.connect()
        try:
            cur = conn.cursor()
            last = None
            for _ in range(40):
                cur.execute("SELECT pg_stat_clear_snapshot()")
                cur.execute(
                    "SELECT xact_commit, tup_inserted, tup_updated, "
                    "pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0')::bigint "
                    "FROM pg_stat_database WHERE datname = 'postgres'"
                )
                row = tuple(int(v) for v in cur.fetchone())
                conn.rollback()
                if last is not None and row[:3] == last[:3]:
                    break
                last = row
                time.sleep(0.05)
        finally:
            conn.close()
        return dict(zip(("xact_commits", "tup_inserted", "tup_updated", "wal_bytes"), row))
