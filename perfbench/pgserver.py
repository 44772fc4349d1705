"""A throwaway PostgreSQL server inside the benchmark's work directory.

Postgres refuses to run as root, so when the benchmark runs as root the
server runs in a user namespace that maps the caller to an unprivileged
uid; the data directory then stays inside the checkout and no system user
is created. The server listens on a free TCP port on 127.0.0.1 and has no
Unix socket. ``SETTINGS`` fixes the flush policy for every run.
"""

from __future__ import annotations

import os
import signal
import socket
import subprocess
import time

from apitap_spark.sinks import pgwire

# Durability is not under test: with flushes off, run-to-run spread comes
# from the write path rather than from the shared disk. Autovacuum is off
# so no background pass lands inside a timed run; the benchmark ANALYZEs
# the tables it rebuilds.
SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "autovacuum": "off",
    "max_wal_size": "4GB",
    "checkpoint_timeout": "1h",
    "shared_buffers": "128MB",
    "listen_addresses": "127.0.0.1",
    "unix_socket_directories": "",
}


def _as_unprivileged(cmd: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return cmd
    return ["unshare", "--user", "--map-user=1000", "--map-group=1000", *cmd]


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class LocalPostgres:
    def __init__(self, root: str):
        self.data = os.path.join(root, "pgdata")
        self.log_path = os.path.join(root, "postgres.log")
        self.port = 0
        self.proc: subprocess.Popen | None = None

    @property
    def dsn(self) -> str:
        return f"host=127.0.0.1 port={self.port} user=postgres dbname=postgres"

    def connect(self):
        return pgwire.connect(self.dsn)

    def start(self, timeout: float = 60.0) -> None:
        subprocess.run(
            _as_unprivileged(
                ["initdb", "-D", self.data, "-A", "trust", "-U", "postgres",
                 "-E", "UTF8", "--no-sync"]
            ),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        self.port = _free_port()
        opts = [f"-c{k}={v}" for k, v in SETTINGS.items()]
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                _as_unprivileged(["postgres", "-D", self.data, "-p", str(self.port), *opts]),
                stdout=log, stderr=subprocess.STDOUT,
            )
        deadline = time.monotonic() + timeout
        while True:
            try:
                self.connect().close()
                return
            except (OSError, pgwire.PgError):
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError(f"postgres did not start; see {self.log_path}")
                time.sleep(0.05)

    def settings(self) -> dict:
        conn = self.connect()
        try:
            cur = conn.cursor()
            cur.execute("SELECT current_setting('fsync'), current_setting('synchronous_commit')")
            fsync, sync_commit = cur.fetchone()
            conn.rollback()
        finally:
            conn.close()
        return {"fsync": fsync, "synchronous_commit": sync_commit}

    def stop(self) -> None:
        if self.proc is None:
            return
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None
