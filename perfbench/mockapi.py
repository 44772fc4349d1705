"""Offline paginated JSON API that feeds the http_merge_pg workload.

Runs as its own process. Every page body is encoded before the server
starts listening, so a request costs a dict lookup and a socket write.

    python3 perfbench/mockapi.py --seed 1

prints ``READY <port>`` once it listens on 127.0.0.1. Routes:

* ``/orders?page=P`` -- page_number pages of ``inputs.ORDERS_PAGE`` rows
  (the ``per_page`` the workload's config sends) under ``/data``, with the
  item total at ``/meta/total``; the first page past the end has no rows,
  and a page beyond it is a 404.
* ``/_stats`` and ``/_reset`` -- counters of the data route: requests,
  body bytes, distinct non-empty pages served, and this process's CPU
  seconds. Control requests are not counted.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


class PageStore:
    def __init__(self, seed: int):
        orders = inputs.orders_rows(seed)
        per = inputs.ORDERS_PAGE
        self.full_pages = -(-len(orders) // per)
        self.pages = {
            p: json.dumps(
                {"data": orders[(p - 1) * per : p * per], "meta": {"total": len(orders)}}
            ).encode()
            for p in range(1, self.full_pages + 2)
        }
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.requests = 0
            self.bytes = 0
            self.useful: set = set()

    def body(self, page: int) -> bytes | None:
        data = self.pages.get(page)
        if data is not None:
            with self.lock:
                self.requests += 1
                self.bytes += len(data)
                if page <= self.full_pages:
                    self.useful.add(page)
        return data

    def stats(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "bytes": self.bytes,
                "useful_pages": len(self.useful),
                "cpu_s": time.process_time(),
            }


def make_handler(store: PageStore):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive: one connection per fetch task
        # headers and body go out in two writes; without TCP_NODELAY the
        # second waits for the client's delayed ACK on every request
        disable_nagle_algorithm = True

        def log_message(self, *args):
            pass

        def _send(self, code: int, data: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            parts = urlsplit(self.path)
            route = parts.path.strip("/")
            if route == "_stats":
                self._send(200, json.dumps(store.stats()).encode())
                return
            if route == "_reset":
                store.reset()
                self._send(200, b"{}")
                return
            page = parse_qs(parts.query).get("page", ["1"])[0]
            data = store.body(int(page)) if route == "orders" and page.isdigit() else None
            if data is None:
                self._send(404, b"{}")
            else:
                self._send(200, data)

    return Handler


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    store = PageStore(args.seed)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(store))
    server.daemon_threads = True
    print(f"READY {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
