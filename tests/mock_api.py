"""In-process mock HTTP API for source tests (FIXTURES F9 pagination matrix).

Serves a configurable dataset with limit/offset, page/per_page, page-only,
and cursor pagination under custom param names, optional envelope
data_path, NDJSON mode, total hints, and injectable transient failures.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class Unauthorized(Exception):
    """Raised by handle() for a 401 (expired/missing bearer token)."""


class MockApi:
    def __init__(self, rows: list[dict]):
        self.rows = rows
        self.fail_next = 0  # number of requests to 500 before succeeding
        self.request_count = 0
        self.inflight = 0  # concurrent in-flight requests right now
        self.max_inflight = 0  # high-water mark (politeness-cap assertions)
        self.delay_sec = 0.0  # per-request hold, makes overlap observable
        self.served: list = []  # (route, query params, body) per 200 response
        self.lock = threading.Lock()
        self.server: ThreadingHTTPServer | None = None
        # OAuth2 client-credentials endpoint state (/token + /protected)
        self.client_id = "cid"
        self.client_secret = "sek"
        self.token_ttl_sec = 3600.0
        self.tokens: dict[str, float] = {}  # token -> expiry epoch
        self.tokens_issued = 0

    def expire_all_tokens(self):
        """Force every outstanding token stale (mid-run expiry tests)."""
        with self.lock:
            for t in self.tokens:
                self.tokens[t] = 0.0

    def start(self) -> str:
        api = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_GET(self):
                with api.lock:
                    api.request_count += 1
                    api.inflight += 1
                    api.max_inflight = max(api.max_inflight, api.inflight)
                    fail = api.fail_next > 0
                    if fail:
                        api.fail_next -= 1
                try:
                    if api.delay_sec > 0:
                        time.sleep(api.delay_sec)
                    if fail:
                        self.send_response(503)
                        self.end_headers()
                        self.wfile.write(b"boom")
                        return
                    parsed = urlparse(self.path)
                    qs = {k: v[0] for k, v in parse_qs(parsed.query).items()}
                    route = parsed.path.strip("/")
                    try:
                        body, ctype = api.handle(
                            route, qs, headers=dict(self.headers)
                        )
                    except Unauthorized:
                        self.send_response(401)
                        self.end_headers()
                        self.wfile.write(b"unauthorized")
                        return
                    except Exception as exc:  # noqa: BLE001
                        self.send_response(400)
                        self.end_headers()
                        self.wfile.write(str(exc).encode())
                        return
                    with api.lock:
                        api.served.append((route, qs, body))
                    data = (
                        body if isinstance(body, bytes) else json.dumps(body).encode()
                    )
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                finally:
                    with api.lock:
                        api.inflight -= 1

            def do_POST(self):
                with api.lock:
                    api.request_count += 1
                    fail = api.fail_next > 0
                    if fail:
                        api.fail_next -= 1
                if fail:
                    self.send_response(503)
                    self.end_headers()
                    self.wfile.write(b"boom")
                    return
                n = int(self.headers.get("Content-Length", "0"))
                form = {
                    k: v[0]
                    for k, v in parse_qs(
                        self.rfile.read(n).decode("utf-8")
                    ).items()
                }
                route = urlparse(self.path).path.strip("/")
                if route != "token":
                    self.send_response(404)
                    self.end_headers()
                    return
                if (
                    form.get("grant_type") != "client_credentials"
                    or form.get("client_id") != api.client_id
                    or form.get("client_secret") != api.client_secret
                ):
                    self.send_response(400)
                    self.end_headers()
                    self.wfile.write(b'{"error":"invalid_client"}')
                    return
                with api.lock:
                    api.tokens_issued += 1
                    tok = f"tok-{api.tokens_issued}"
                    api.tokens[tok] = time.time() + api.token_ttl_sec
                data = json.dumps(
                    {
                        "access_token": tok,
                        "token_type": "Bearer",
                        "expires_in": api.token_ttl_sec,
                    }
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        host, port = self.server.server_address
        return f"http://{host}:{port}"

    def stop(self):
        if self.server:
            self.server.shutdown()

    # ---- route logic -----------------------------------------------------
    def handle(self, route: str, qs: dict, headers: dict | None = None):
        if route == "protected":
            # limit/offset pagination behind a live bearer token
            authz = (headers or {}).get("Authorization", "")
            tok = authz.removeprefix("Bearer ").strip()
            with self.lock:
                exp = self.tokens.get(tok)
            if exp is None or exp < time.time():
                raise Unauthorized(tok or "<missing>")
            limit = int(qs.get("limit", 10))
            offset = int(qs.get("offset", 0))
            return self.rows[offset : offset + limit], "application/json"
        if route == "limit_offset":
            limit = int(qs.get("limit", qs.get("_limit", 10)))
            offset = int(qs.get("offset", qs.get("_start", 0)))
            return self.rows[offset : offset + limit], "application/json"
        if route == "limit_offset_custom":
            limit = int(qs["max"])
            offset = int(qs["skip"])
            return self.rows[offset : offset + limit], "application/json"
        if route == "page_number":
            page = int(qs.get("page", 1))
            per = int(qs.get("per_page", 10))
            start = (page - 1) * per
            return {
                "data": self.rows[start : start + per],
                "meta": {"total": len(self.rows)},
            }, "application/json"
        if route == "page_number_nohint":
            page = int(qs.get("pageNum", 1))
            per = int(qs.get("pageSize", 10))
            start = (page - 1) * per
            return {"results": self.rows[start : start + per]}, "application/json"
        if route == "page_only":
            page = int(qs.get("p", 1))
            per = 7
            start = (page - 1) * per
            return self.rows[start : start + per], "application/json"
        if route == "cursor":
            cur = int(qs.get("nextToken", 0))
            per = int(qs.get("maxResults", 10))
            chunk = self.rows[cur : cur + per]
            nxt = cur + per if cur + per < len(self.rows) else None
            return {"items": chunk, "next_cursor": nxt}, "application/json"
        if route == "incr":
            # incremental sync: rows with seq > since, limit/offset paged
            since = int(qs.get("since", -1))
            limit = int(qs.get("limit", 10))
            offset = int(qs.get("offset", 0))
            fresh = [r for r in self.rows if r["seq"] > since]
            return fresh[offset : offset + limit], "application/json"
        if route == "ndjson":
            limit = int(qs.get("limit", 10))
            offset = int(qs.get("offset", 0))
            lines = "\n".join(json.dumps(r) for r in self.rows[offset : offset + limit])
            return lines.encode(), "application/x-ndjson"
        if route == "scalar":
            return {"data": {"only": "one"}}, "application/json"
        if route == "null_path":
            return {"data": None}, "application/json"
        raise ValueError(f"unknown route {route}")
