"""HTTP source tests: pagination matrix (FIXTURES F9), data_path drill,
NDJSON, retry, schema inference lattice (FIXTURES F1-F4)."""

from __future__ import annotations

import pytest

from apitap_spark.sources.http import (
    CursorPagination,
    HttpSource,
    LimitOffsetPagination,
    PageNumberPagination,
    PageOnlyPagination,
    RetryPolicy,
    TotalHint,
    drill_data_path,
)
from tests.mock_api import MockApi

ROWS = [{"id": i, "userId": i % 7, "title": f"t{i}", "score": i * 1.5} for i in range(53)]


@pytest.fixture(scope="module")
def api():
    api = MockApi(ROWS)
    api.base = api.start()
    yield api
    api.stop()


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


ALL_IDS = sorted(r["id"] for r in ROWS)


def test_limit_offset_stop_on_empty(spark, api):
    src = HttpSource(
        name="lo",
        url=f"{api.base}/limit_offset",
        pagination=LimitOffsetPagination(limit=10),
    )
    df = src.load(spark)
    assert _ids(df) == ALL_IDS


def test_limit_offset_custom_params(spark, api):
    src = HttpSource(
        name="lo2",
        url=f"{api.base}/limit_offset_custom",
        pagination=LimitOffsetPagination(limit=9, limit_param="max", offset_param="skip"),
    )
    assert _ids(src.load(spark)) == ALL_IDS


def test_page_number_with_total_hint(spark, api):
    api.request_count = 0
    src = HttpSource(
        name="pn",
        url=f"{api.base}/page_number",
        pagination=PageNumberPagination(
            per_page=10, total_hint=TotalHint("items", "/meta/total")
        ),
        data_path="/data",
    )
    assert _ids(src.load(spark)) == ALL_IDS
    # hint-sized + page-0 fetched exactly once (SURVEY §7.4): 6 pages for
    # 53 rows at per_page=10 → exactly 6 requests, zero probes
    assert api.request_count == 6


def test_page_number_without_hint_probes(spark, api):
    src = HttpSource(
        name="pn2",
        url=f"{api.base}/page_number_nohint",
        pagination=PageNumberPagination(
            per_page=10, page_param="pageNum", per_page_param="pageSize"
        ),
        data_path="/results",
    )
    assert _ids(src.load(spark)) == ALL_IDS


def test_page_only(spark, api):
    src = HttpSource(
        name="po",
        url=f"{api.base}/page_only",
        pagination=PageOnlyPagination(page_param="p"),
    )
    assert _ids(src.load(spark)) == ALL_IDS


def test_cursor(spark, api):
    src = HttpSource(
        name="cur",
        url=f"{api.base}/cursor",
        pagination=CursorPagination(
            cursor_param="nextToken",
            page_size_param="maxResults",
            page_size=10,
            next_cursor_pointer="/next_cursor",
        ),
        data_path="/items",
    )
    assert _ids(src.load(spark)) == ALL_IDS


def test_ndjson(spark, api):
    src = HttpSource(
        name="nd",
        url=f"{api.base}/ndjson",
        pagination=LimitOffsetPagination(limit=20),
    )
    assert _ids(src.load(spark)) == ALL_IDS


def test_retry_then_success(spark, api):
    api.fail_next = 2
    src = HttpSource(
        name="r",
        url=f"{api.base}/limit_offset",
        pagination=LimitOffsetPagination(limit=60),
        retry=RetryPolicy(max_attempts=3, min_delay_sec=0.01, max_delay_sec=0.02),
    )
    assert _ids(src.load(spark)) == ALL_IDS


def test_retry_exhausted(spark, api):
    api.fail_next = 5
    src = HttpSource(
        name="r2",
        url=f"{api.base}/limit_offset",
        pagination=LimitOffsetPagination(limit=60),
        retry=RetryPolicy(max_attempts=2, min_delay_sec=0.01, max_delay_sec=0.02),
    )
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        src.load(spark)
    api.fail_next = 0


def test_retry_delays_jittered_within_bounds():
    # Reference ExponentialBackoff jitters by default
    # (src/utils/http_retry.rs:100-105): every delay must land in
    # [min, min(2^k * min, max)], and a fixed seed must reproduce.
    pol = RetryPolicy(
        max_attempts=6, min_delay_sec=1.0, max_delay_sec=5.0, jitter_seed=7
    )
    ds = list(pol.delays())
    assert len(ds) == 5
    caps = [1.0, 2.0, 4.0, 5.0, 5.0]
    for d, cap in zip(ds, caps):
        assert 1.0 <= d <= cap
    assert ds == list(pol.delays())  # seeded -> reproducible
    nojit = RetryPolicy(max_attempts=4, jitter=False)
    assert list(nojit.delays()) == [1.0, 2.0, 4.0]


def test_register_and_sql(spark, api):
    src = HttpSource(
        name="posts",
        url=f"{api.base}/limit_offset",
        pagination=LimitOffsetPagination(limit=25),
    )
    src.register(spark, "posts_v")
    out = spark.sql(
        "SELECT id, userId AS user_id FROM posts_v WHERE userId > 5 ORDER BY id"
    ).collect()
    assert [r["user_id"] for r in out] == [6] * len(out)
    assert len(out) == sum(1 for r in ROWS if r["userId"] > 5)


# ---- data_path drill unit behaviors (reference src/http/fetcher.rs:68-93) --
def test_drill_array():
    assert drill_data_path({"data": [1, 2]}, "/data") == [1, 2]


def test_drill_scalar_one_row():
    assert drill_data_path({"data": {"only": "one"}}, "/data") == [{"only": "one"}]


def test_drill_null_no_rows():
    assert drill_data_path({"data": None}, "/data") == []


def test_drill_missing_no_rows():
    assert drill_data_path({"x": 1}, "/data") == []


def test_drill_nested_pointer():
    assert drill_data_path({"a": {"b": {"c": [7]}}}, "/a/b/c") == [7]


def test_drill_no_path_array_passthrough():
    assert drill_data_path([1, 2, 3], None) == [1, 2, 3]


# ---- schema inference lattice (FIXTURES F2/F3/F4, SURVEY §1.2) -------------
def test_inference_widening_and_nullable(spark):
    src = HttpSource(name="x", url="http://unused")
    schema = src.infer_schema(
        spark,
        [
            {"id": 1, "value": 100, "email": None, "active": True},
            {"id": 2, "value": 200.5, "email": "b@x.com", "active": False},
        ],
    )
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["value"] == "double"  # Int64 ⊔ Float64 = Float64
    assert types["id"] == "bigint"
    assert types["active"] == "boolean"
    assert types["email"] == "string"
    assert all(f.nullable for f in schema.fields)


def test_inference_nested_struct_and_list(spark):
    src = HttpSource(name="x", url="http://unused")
    schema = src.infer_schema(
        spark,
        [{"id": 1, "metadata": {"created": "2024-01-01"}, "tags": ["rust", "testing"]}],
    )
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["metadata"] == "struct<created:string>"
    assert types["tags"] == "array<string>"


def test_inference_conflict_falls_to_string(spark):
    src = HttpSource(name="x", url="http://unused")
    schema = src.infer_schema(spark, [{"v": 1}, {"v": "x"}])
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["v"] == "string"


def test_inference_sample_cutoff(spark):
    """Rows beyond sample_size don't influence the schema (fixed-for-run)."""
    src = HttpSource(name="x", url="http://unused", sample_size=100)
    rows = [{"v": 1} for _ in range(100)] + [{"v": "drift"}]
    schema = src.infer_schema(spark, rows)
    assert {f.name: f.dataType.simpleString() for f in schema.fields}["v"] == "bigint"


def test_headers_sent(spark, api):
    """Auth headers reach the server (FIXTURES F6) — verified with a local
    echo endpoint that reflects X-API-KEY back into the row payload."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class EchoHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = _json.dumps(
                [{"id": 1, "key_seen": self.headers.get("X-API-KEY", "")}]
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), EchoHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = HttpSource(
            name="auth",
            url=f"http://127.0.0.1:{srv.server_address[1]}/x",
            pagination=LimitOffsetPagination(limit=50),
            headers={"X-API-KEY": "sekrit"},
        )
        rows = src.load(spark).collect()
        assert rows[0]["key_seen"] == "sekrit"
    finally:
        srv.shutdown()


def test_schema_drift_null_fills(spark):
    """Rows after the sample that contradict the inferred schema null-fill
    (PERMISSIVE) instead of erroring — documented improvement over the
    reference's hard failure (SURVEY §7.4)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    data = [{"id": i, "v": i} for i in range(10)] + [{"id": 10, "v": "drift!"}]

    class DriftHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            qs = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
            lim, off = int(qs.get("limit", 5)), int(qs.get("offset", 0))
            body = _json.dumps(data[off : off + lim]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), DriftHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = HttpSource(
            name="drift",
            url=f"http://127.0.0.1:{srv.server_address[1]}/x",
            pagination=LimitOffsetPagination(limit=5),
            sample_size=5,  # drifted row arrives after the sample
        )
        df = src.load(spark)
        assert dict(df.dtypes)["v"] == "bigint"  # schema fixed from sample
        rows = {r["id"]: r["v"] for r in df.collect()}
        assert rows[10] is None  # drifted value null-filled, run survives
        assert rows[3] == 3
    finally:
        srv.shutdown()


# Page 0 is the schema sample; every later row tests the typed fetch's
# per-row choice between an exact Arrow value and the from_json text path.
TYPED_SAMPLE = [
    {"id": 0, "x": 1.5, "s": "a", "ok": True, "tags": [1], "meta": {"k": "v"},
     "big": 2**65, "A": 1, "a": "x"},
    {"id": 1, "x": 2, "s": "ñ", "ok": False, "tags": [], "meta": None,
     "big": None, "A": None, "a": None},
    {"id": 2, "x": -0.0, "s": "", "ok": None, "tags": None, "meta": {"k": None},
     "big": 3, "A": 2, "a": "y"},
    {"id": 3, "x": None, "s": None, "ok": True, "tags": [2, 3], "meta": {},
     "big": None, "A": 3, "a": "z"},
    {"id": 4, "x": 1e308, "s": "Жж", "ok": False},
    {"id": 5, "x": 5, "s": "e", "ok": True, "tags": [4]},
    {"id": 6, "x": 0.1, "s": "f", "ok": False},
    {"id": 7, "x": 7.25, "s": "g", "ok": True},
]
TYPED_LATER = [
    {"id": 8, "x": 3, "s": "plain", "ok": False, "tags": None, "meta": None},
    {"id": "9", "x": 1.0, "s": "id is text"},
    {"id": 2**70, "s": "id past int64"},
    {"id": 11, "s": "lone \ud800 surrogate"},
    {"id": 12, "s": {"nested": [1, 2]}},
    {"id": 13, "ok": 1},
    {"id": 14, "tags": [1, "two"]},
    {"id": 15, "meta": {"k": "v", "z": 1}},
    {"id": 16, "x": 10**400},
    {"id": 17, "x": float("nan"), "s": "nan"},
    {"id": 18, "A": 5, "a": "lower"},
    {"id": 19, "new_field": 1},
    42,
    [1, 2],
    {"id": 20, "big": 5},
    {"id": 21, "ok": None, "s": ""},
    {"id": 22, "x": True},
    {"id": 23, "x": 2**70 + 1, "s": "wide int as double"},
]
# What the text path (json.dumps every row, from_json in the JVM) landed
# for these rows, captured before the typed fetch replaced it.
TYPED_LANDED = [
    "(1, 'x', Decimal('36893488147419103232'), 0, Row(k='v'), True, 'a', [1], 1.5)",
    "(None, None, None, 1, None, False, 'ñ', [], 2.0)",
    "(2, 'y', Decimal('3'), 2, Row(k=None), None, '', None, -0.0)",
    "(3, 'z', None, 3, Row(k=None), True, None, [2, 3], None)",
    "(None, None, None, 4, None, False, 'Жж', None, 1e+308)",
    "(None, None, None, 5, None, True, 'e', [4], 5.0)",
    "(None, None, None, 6, None, False, 'f', None, 0.1)",
    "(None, None, None, 7, None, True, 'g', None, 7.25)",
    "(None, None, None, 8, None, False, 'plain', None, 3.0)",
    "(None, None, None, None, None, None, 'id is text', None, 1.0)",
    "(None, None, None, None, None, None, 'id past int64', None, None)",
    "(None, None, None, 11, None, None, 'lone ? surrogate', None, None)",
    "(None, None, None, 12, None, None, '{\"nested\":[1,2]}', None, None)",
    "(None, None, None, 13, None, None, None, None, None)",
    "(None, None, None, 14, None, None, None, None, None)",
    "(None, None, None, 15, Row(k='v'), None, None, None, None)",
    "(None, None, None, 16, None, None, None, None, inf)",
    "(None, None, None, 17, None, None, 'nan', None, nan)",
    "(5, 'lower', None, 18, None, None, None, None, None)",
    "(None, None, None, 19, None, None, None, None, None)",
    "(None, None, None, None, None, None, None, None, None)",
    "(None, None, None, None, None, None, None, None, None)",
    "(None, None, Decimal('5'), 20, None, None, None, None, None)",
    "(None, None, None, 21, None, None, '', None, None)",
    "(None, None, None, 22, None, None, None, None, None)",
    "(None, None, None, 23, None, None, 'wide int as double', None, 1.1805916207174113e+21)",
]


TYPED_ROUTES = {
    "limit_offset": (LimitOffsetPagination(limit=8), None),
    "cursor": (
        CursorPagination(
            cursor_param="nextToken", page_size_param="maxResults", page_size=8
        ),
        "/items",
    ),
}


@pytest.mark.parametrize("route", sorted(TYPED_ROUTES))
def test_typed_fetch_lands_what_the_text_path_landed(spark, route):
    """Pages past the sample carry type conflicts, nested values, ints
    past int64 and past the double range, NaN, a lone surrogate, case-only
    duplicate keys, drift and non-object rows: the typed fetch lands each
    row exactly as parsing its JSON text did, and only rows that convert
    exactly skip that parse. A cursor walk's rows land the same schema
    and rows as the paged load's."""
    from apitap_spark.sources.http import typed_batch

    pagination, data_path = TYPED_ROUTES[route]
    api = MockApi(TYPED_SAMPLE + TYPED_LATER)
    base = api.start()
    try:
        df = HttpSource(
            name="typed", url=f"{base}/{route}", pagination=pagination,
            data_path=data_path, sample_size=8, max_concurrency=2,
        ).load(spark)
        assert df.schema.simpleString() == (
            "struct<A:bigint,a:string,big:decimal(20,0),id:bigint,"
            "meta:struct<k:string>,ok:boolean,s:string,tags:array<bigint>,x:double>"
        )
        assert [repr(tuple(r)) for r in df.collect()] == TYPED_LANDED
    finally:
        api.stop()
    batch = typed_batch(TYPED_SAMPLE + TYPED_LATER, df.schema).to_pylist()
    assert [b["j"]["id"] for b in batch if b["__raw"] is None] == [
        4, 6, 7, 8, 17, 18, 19, 21, 23,
    ]


def test_client_error_not_retried(spark):
    """4xx (except 429) fails fast without burning the retry budget."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    hits = {"n": 0}

    class NotFound(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            hits["n"] += 1
            self.send_response(404)
            self.end_headers()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), NotFound)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = HttpSource(
            name="nf",
            url=f"http://127.0.0.1:{srv.server_address[1]}/x",
            pagination=LimitOffsetPagination(limit=10),
            retry=RetryPolicy(max_attempts=3, min_delay_sec=0.01, max_delay_sec=0.02),
        )
        with pytest.raises(RuntimeError, match="404 client error.*not retried"):
            src.load(spark)
        assert hits["n"] == 1  # exactly one request — no retries
    finally:
        srv.shutdown()


# ---- politeness: bounded request concurrency + fetch telemetry ----------
# The reference caps concurrent page fetches at 5 (src/cmd/mod.rs:18
# CONCURRENT_REQUESTS, buffer_unordered at src/http/fetcher.rs:434-497).
# Our cap is the fetch-partition count: each task walks its pages
# sequentially, so in-flight requests never exceed max_concurrency.

BIG_ROWS = [{"id": i, "v": i * 2} for i in range(400)]


@pytest.fixture()
def big_api():
    api = MockApi(BIG_ROWS)
    api.base = api.start()
    yield api
    api.stop()


def test_concurrency_cap_respected(spark, big_api):
    big_api.delay_sec = 0.05  # hold each request so overlap is observable
    src = HttpSource(
        name="cap",
        url=f"{big_api.base}/page_number",
        data_path="/data",
        pagination=PageNumberPagination(
            per_page=10, total_hint=TotalHint("items", "/meta/total")
        ),
        max_concurrency=4,
    )
    df = src.load(spark)
    assert sorted(r["id"] for r in df.select("id").collect()) == [
        r["id"] for r in BIG_ROWS
    ]
    # 40 pages through a 4-task fan-out: parallel, but never more than 4
    # requests in flight at once.
    assert big_api.max_inflight <= 4, big_api.max_inflight
    assert big_api.max_inflight >= 2, "expected overlapping requests"


def test_fetch_stats_counts(spark, big_api):
    src = HttpSource(
        name="stats",
        url=f"{big_api.base}/page_number",
        data_path="/data",
        pagination=PageNumberPagination(
            per_page=10, total_hint=TotalHint("items", "/meta/total")
        ),
        retry=RetryPolicy(max_attempts=3, min_delay_sec=0.01, max_delay_sec=0.02),
    )
    big_api.fail_next = 2  # two transient 503s somewhere in the fetch
    df = src.load(spark)
    assert df.count() == len(BIG_ROWS)
    s = src.stats()
    assert s.pages == 40  # page 0 driver-side + 39 executor-side
    assert s.rows == len(BIG_ROWS)
    assert s.retries == 2



# ---- fetch-once accounting ------------------------------------------------
def _page_index(route: str, qs: dict) -> int:
    if route == "page_number":
        return int(qs["page"]) - 1
    if route == "page_number_nohint":
        return int(qs["pageNum"]) - 1
    return int(qs["offset"]) // int(qs["limit"])


_HINT = TotalHint("items", "/meta/total")
FETCH_CASES = {
    # name: (route, pagination, data_path, rows, pages the load reads)
    "hint_n_pages": (
        "page_number", PageNumberPagination(per_page=10, total_hint=_HINT),
        "/data", ROWS, 6,
    ),
    "hint_1_page": (
        "page_number", PageNumberPagination(per_page=100, total_hint=_HINT),
        "/data", ROWS, 1,
    ),
    "nohint_1_page": (
        "page_number_nohint",
        PageNumberPagination(
            per_page=100, page_param="pageNum", per_page_param="pageSize"
        ),
        "/results", ROWS, 1,
    ),
    "nohint_n_pages": (
        "limit_offset", LimitOffsetPagination(limit=10), None, ROWS, 6,
    ),
    "empty_first_page": (
        "limit_offset", LimitOffsetPagination(limit=10), None, [], 1,
    ),
}


@pytest.mark.parametrize("case", sorted(FETCH_CASES))
def test_fetch_once_accounting(spark, monkeypatch, case):
    """Each page the load reads is requested exactly once — page 0 on the
    driver, never again by its task — and the only other requests are
    the unknown-total probe's. stats() equals what the API served, the
    frame holds exactly the served rows, and building it launches no
    Spark job."""
    from collections import Counter

    route, pagination, data_path, rows, n_pages = FETCH_CASES[case]
    api = MockApi(rows)
    base = api.start()
    probed = []
    probe = HttpSource._probe_fetch

    def spy(self, page_idx, session):
        probed.append(page_idx)
        return probe(self, page_idx, session)

    monkeypatch.setattr(HttpSource, "_probe_fetch", spy)
    sc = spark.sparkContext
    group = f"fetch_once_{case}"
    try:
        src = HttpSource(
            name=case, url=f"{base}/{route}", pagination=pagination,
            data_path=data_path,
        )
        sc.setJobGroup(group, group)
        try:
            df = src.load(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        out = df.collect()
    finally:
        api.stop()

    requested = Counter(_page_index(r, q) for r, q, _ in api.served)
    assert requested == Counter(range(n_pages)) + Counter(probed)
    assert requested[0] == 1
    served = {
        _page_index(r, q): drill_data_path(body, data_path)
        for r, q, body in api.served
    }
    read = [row for p in range(n_pages) for row in served[p]]
    s = src.stats()
    assert s.pages == len(api.served)
    assert s.rows == len(read) == len(rows)
    assert sorted(r["id"] for r in out) == sorted(row["id"] for row in read)

def test_min_request_interval_throttles(spark, big_api):
    import time as _t

    src = HttpSource(
        name="throttle",
        url=f"{big_api.base}/page_number",
        data_path="/data",
        pagination=PageNumberPagination(
            per_page=100, total_hint=TotalHint("items", "/meta/total")
        ),
        max_concurrency=1,
        min_request_interval_sec=0.1,
    )
    t0 = _t.perf_counter()
    assert src.load(spark).count() == len(BIG_ROWS)
    # 4 pages, 3 of them throttled executor-side at >=0.1s spacing
    assert _t.perf_counter() - t0 >= 0.3


# --- OAuth2 client-credentials (reference roadmap README.md:124) ----------


def _oauth(api, **kw):
    from apitap_spark.sources.http import OAuth2ClientCredentials

    return OAuth2ClientCredentials(
        token_url=f"{api.base}/token",
        client_id=api.client_id,
        client_secret=api.client_secret,
        **kw,
    )


def _reset_token_state(api):
    """Clear BOTH sides of token state: the mock IdP's server store and
    the client's process-wide token cache (http._TOKEN_CACHE). A test
    that clears only the server would otherwise watch the client replay
    a cached token issued by an earlier test with the same
    url/id/secret, and every acquisition counter under test goes stale.
    """
    from apitap_spark.sources import http as http_mod

    api.tokens.clear()
    api.tokens_issued = 0
    http_mod._TOKEN_CACHE.clear()


def test_oauth2_token_acquired_once_and_reused(spark, api):
    _reset_token_state(api)
    src = HttpSource(
        name="oauth",
        url=f"{api.base}/protected",
        pagination=LimitOffsetPagination(limit=10),
        auth=_oauth(api),
    )
    df = src.load(spark)
    assert _ids(df) == ALL_IDS
    # one token per Python worker at most; the driver-side probe +
    # load shares ONE (53 rows / limit 10 = 6+ requests >> tokens)
    assert 1 <= api.tokens_issued <= 5


def test_oauth2_refresh_on_mid_run_401(spark, api):
    """Page 1 succeeds, every outstanding token then expires, and the
    next 401 must trigger exactly one invalidate+refresh that completes
    the pull (round-8 verdict next-step #5's done-criterion)."""
    _reset_token_state(api)
    auth = _oauth(api, refresh_slack_sec=0.0)
    # drive the fetch loop directly so expiry lands mid-run
    # deterministically (Spark partitions would race the expiry)
    from apitap_spark.sources.http import fetch_page_rows

    rows = []
    for page in range(6):
        got = fetch_page_rows(
            f"{api.base}/protected",
            {"limit": 10, "offset": page * 10},
            {},
            None,
            RetryPolicy(max_attempts=2, min_delay_sec=0.01,
                        max_delay_sec=0.02),
            auth=auth,
        )
        rows.extend(got)
        if page == 0:
            api.expire_all_tokens()  # every later request 401s once
    assert sorted(r["id"] for r in rows) == ALL_IDS
    assert api.tokens_issued == 2  # initial + exactly one refresh


def test_oauth2_bad_credentials_fail_fast(api):
    from apitap_spark.sources.http import (
        OAuth2ClientCredentials,
        fetch_page_rows,
    )

    bad = OAuth2ClientCredentials(
        token_url=f"{api.base}/token",
        client_id=api.client_id,
        client_secret="wrong",
    )
    with pytest.raises(RuntimeError, match="token endpoint"):
        fetch_page_rows(
            f"{api.base}/protected",
            {"limit": 10, "offset": 0},
            {},
            None,
            RetryPolicy(max_attempts=2, min_delay_sec=0.01,
                        max_delay_sec=0.02),
            auth=bad,
        )


def test_oauth2_second_401_fails_fast_not_retried(spark, api):
    """A 401 that survives a fresh token is a credential problem: one
    refresh, then the client-error fail-fast path — never the backoff
    loop hammering the API."""
    _reset_token_state(api)
    auth = _oauth(api, refresh_slack_sec=0.0)
    from apitap_spark.sources.http import fetch_page_rows

    real_ttl = api.token_ttl_sec
    api.token_ttl_sec = -1.0  # every issued token is already expired
    try:
        n0 = api.request_count
        with pytest.raises(RuntimeError, match="401"):
            fetch_page_rows(
                f"{api.base}/protected",
                {"limit": 10, "offset": 0},
                {},
                None,
                RetryPolicy(max_attempts=3, min_delay_sec=0.01,
                            max_delay_sec=0.02),
                auth=auth,
            )
        # 2 GETs (401 + refreshed 401) + 2 token POSTs, no backoff walk
        assert api.request_count - n0 <= 4
        assert api.tokens_issued == 2
    finally:
        api.token_ttl_sec = real_ttl


def test_oauth2_config_block_builds_source(monkeypatch):
    from apitap_spark.config.models import ConfigError, SourceConfig

    monkeypatch.setenv("T_OAUTH_SECRET", "sek")
    cfg = SourceConfig.from_dict(
        {
            "name": "s",
            "url": "http://x/items",
            "auth": {
                "token_url": "http://x/token",
                "client_id": "cid",
                "client_secret_env": "T_OAUTH_SECRET",
                "scope": "read",
            },
        }
    )
    src = cfg.to_http_source()
    assert src.auth is not None
    assert src.auth.client_secret == "sek"
    assert src.auth.scope == "read"
    # missing secret env -> loud error at build time, not a silent 401
    monkeypatch.delenv("T_OAUTH_SECRET")
    with pytest.raises(ConfigError, match="T_OAUTH_SECRET"):
        cfg.to_http_source()
    # malformed blocks rejected at parse time
    with pytest.raises(ConfigError, match="client_secret"):
        SourceConfig.from_dict(
            {
                "name": "s2",
                "url": "http://x/items",
                "auth": {"token_url": "http://x/token", "client_id": "c"},
            }
        )


def test_oauth2_pickles_without_token_state(api):
    import pickle

    auth = _oauth(api)
    auth._token = "secret-cached"
    auth._expires_at = 9e9
    clone = pickle.loads(pickle.dumps(auth))
    assert clone._token is None  # workers re-authenticate themselves
    assert clone.client_id == api.client_id


def test_oauth2_token_endpoint_blip_is_retried(spark, api):
    """A one-off 503 from the TOKEN endpoint rides the same backoff as
    a data-endpoint blip: the partition fetch survives instead of
    failing fast (code-review finding: token 5xx used to bypass the
    retry budget as a RuntimeError)."""
    from apitap_spark.sources.http import fetch_page_rows

    _reset_token_state(api)
    auth = _oauth(api)
    api.fail_next = 1  # next request (the token POST) 503s once
    rows = fetch_page_rows(
        f"{api.base}/protected",
        {"limit": 10, "offset": 0},
        {},
        None,
        RetryPolicy(max_attempts=3, min_delay_sec=0.01, max_delay_sec=0.02),
        auth=auth,
    )
    assert [r["id"] for r in rows] == list(range(10))
    assert api.tokens_issued == 1  # retry then ONE successful acquire
