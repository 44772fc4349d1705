"""Paginated HTTP JSON source — Spark-native re-expression of the
reference's extraction layer.

Reference behaviors reproduced (SURVEY §2.1):

* S1  HTTP GET + retry: exponential-backoff retry with bounded attempts/
      delays (reference ``src/http/fetcher.rs:34-134``,
      ``src/utils/http_retry.rs:96-114``).
* S2  JSON body decode + ``data_path`` drill: JSON-pointer path into the
      envelope; array→rows, scalar→1 row, null/missing→0 rows
      (reference ``src/http/fetcher.rs:68-93``).
* S3  NDJSON line streams by Content-Type (reference
      ``src/http/fetcher.rs:95-133``).
* S4  LimitOffset pagination: ``?limit=N&offset=K``, stop on empty page
      (reference ``src/http/fetcher.rs:250-311``).
* S5  PageNumber pagination: ``?page=P&per_page=N``; with a total hint the
      tail pages fetch concurrently (reference ``src/http/fetcher.rs:
      345-533``); here "concurrently" means *across executors*.
* S6  PageOnly pagination — implemented (the reference stubs it,
      ``src/http/fetcher.rs:181-183``).
* S7  Cursor pagination — implemented, driver-side sequential (the
      reference stubs it, ``src/http/fetcher.rs:184-187``).
* S8  TotalHint (items/pages pointers) sizes the parallel fetch
      (reference ``src/http/fetcher.rs:194-198,412-421``).
* S9/S10 the fetched stream registers as a SQL-queryable temp view —
      Spark's scan machinery replaces the reference's channel/TableProvider
      bridge (reference ``src/utils/table_provider.rs``,
      ``src/utils/execution.rs``).
* §1.3 sampled schema inference: ≤100-row sample fixed for the run, with
      Spark JSON inference's widen-to-double / fallback-to-string lattice
      (reference ``src/http/fetcher.rs:667-727``, ``src/utils/schema.rs``).

Scale design: a load is ONE plan, ``spark.range(0, n_pages, 1, k)`` +
``mapInPandas`` — one HTTP request per page, pages spread over ``k``
tasks, rows never pass through the driver (except page 0, fetched once
on the driver for its schema sample and total hint and shipped to its
task inside the fetch closure, and the driver-side sequential cursor
walk, which is inherently serial). Schema inference runs at analysis
time (``schema_of_json`` over the sample), so building the frame
launches no Spark job. Unknown totals are discovered with an O(log n)
exponential+binary probe on the driver, then fetched in one parallel
pass — the reference's sequential stop-on-empty loop becomes two
phases: cheap discovery, then an embarrassingly parallel read.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SAMPLE_SIZE = 100
DEFAULT_CONCURRENCY = 5  # reference src/cmd/mod.rs:18
MAX_PROBE_PAGES = 1 << 20


@dataclass
class FetchStats:
    """Per-load fetch telemetry (reference ``src/http/fetcher.rs:345-533``
    FetchStats: pages fetched / rows decoded / retried requests).

    Driver-side requests (page 0, probe, cursor walk) count immediately;
    executor-side page fetches flow back through Spark accumulators, so
    the numbers are complete once the action that consumed the DataFrame
    finishes.
    """

    pages: int = 0
    rows: int = 0
    retries: int = 0

    def as_dict(self) -> dict:
        return {"pages": self.pages, "rows": self.rows, "retries": self.retries}


@dataclass
class RetryPolicy:
    """Exponential backoff bounds (reference src/utils/http_retry.rs:96-114).

    Like the reference's ``ExponentialBackoff`` (jitter on by default,
    src/utils/http_retry.rs:100-105), each delay is jittered uniformly
    in [min_delay_sec, base] so concurrent fetchers hitting the same
    rate-limited API don't retry in lockstep. ``jitter_seed`` makes the
    sequence reproducible for tests; None draws fresh randomness.
    """

    max_attempts: int = 3
    min_delay_sec: float = 1.0
    max_delay_sec: float = 5.0
    jitter: bool = True
    jitter_seed: int | None = None

    def delays(self) -> Iterator[float]:
        import random

        rng = random.Random(self.jitter_seed)
        d = self.min_delay_sec
        for _ in range(self.max_attempts - 1):
            base = min(d, self.max_delay_sec)
            if self.jitter and base > self.min_delay_sec:
                yield rng.uniform(self.min_delay_sec, base)
            else:
                yield base
            d *= 2


# Process-wide token cache: (token_url, client_id, scope, audience) ->
# (access_token, expires_at_epoch).  Auth objects are rebuilt from
# options on many paths (one per micro-batch poll, one per rendered
# config) — without a shared cache each rebuild would POST for a fresh
# token even when the previous one has an hour left, hammering the IdP
# on long-running syncs.  The cache is per Python process (driver or
# executor worker), so secrets never cross process boundaries through
# it; invalidate() evicts the shared entry too, or a 401-triggered
# refresh would just read the same stale token back.
_TOKEN_CACHE: dict = {}
_TOKEN_CACHE_LOCK = None  # created lazily: module import must stay cheap


def _token_cache_lock():
    global _TOKEN_CACHE_LOCK
    if _TOKEN_CACHE_LOCK is None:
        import threading

        _TOKEN_CACHE_LOCK = threading.Lock()
    return _TOKEN_CACHE_LOCK


@dataclass
class OAuth2ClientCredentials:
    """RFC 6749 §4.4 client-credentials token acquisition with
    refresh-on-401 (reference roadmap README.md:124 "OAuth2
    authentication" — unimplemented there; static ``headers:`` covered
    fixed bearer tokens but not expiring ones).

    One POST to ``token_url`` acquires a bearer token, cached on the
    instance AND in a process-wide cache keyed by (token_url,
    client_id, scope, audience) until ``expires_in`` minus
    ``refresh_slack_sec`` — so even callers that rebuild the auth
    object per request (each streaming micro-batch, each rendered
    pipeline module) reuse one token per expiry window per process.
    A 401 mid-run invalidates both caches and refreshes ONCE before
    the request is retried (a second 401 with a fresh token means bad
    credentials and fails fast). The instance pickles into executor
    closures WITHOUT its cached token — each Python worker acquires
    (or cache-shares) its own, so a long fetch never ships a stale
    token and the token server sees at most one acquisition per
    worker process per expiry window.
    """

    token_url: str
    client_id: str
    # repr=False: dataclass reprs surface in logs, assertion messages
    # and Spark task errors — the secret must never ride along
    client_secret: str = field(default="", repr=False)
    scope: str | None = None
    audience: str | None = None
    refresh_slack_sec: float = 60.0
    timeout: float = 30.0

    def __post_init__(self):
        self._reset_state()

    def _reset_state(self):
        import threading

        self._token: str | None = None
        self._expires_at = 0.0
        self._lock = threading.Lock()

    # token + lock never pickle: executors authenticate themselves
    def __getstate__(self):
        d = dict(self.__dict__)
        for k in ("_token", "_expires_at", "_lock"):
            d.pop(k, None)
        return d

    def __setstate__(self, d):
        self.__dict__.update(d)
        self._reset_state()

    def headers(self, session=None) -> dict:
        return {"Authorization": f"Bearer {self._get_token(session)}"}

    def _cache_key(self) -> tuple:
        # The key must bind the CREDENTIAL, not just the identity: two
        # auth objects with the same client_id but different secrets
        # must never share a token (one may be misconfigured). A digest
        # keeps the secret itself out of any key dump / debugger view.
        import hashlib

        digest = hashlib.sha256(
            self.client_secret.encode("utf-8")
        ).hexdigest()[:16]
        return (
            self.token_url, self.client_id, digest,
            self.scope, self.audience,
        )

    def invalidate(self) -> None:
        with self._lock:
            self._token = None
            self._expires_at = 0.0
        with _token_cache_lock():
            _TOKEN_CACHE.pop(self._cache_key(), None)

    def _get_token(self, session=None) -> str:
        import requests

        with self._lock:
            now = time.time()
            if self._token and now < self._expires_at - self.refresh_slack_sec:
                return self._token
            with _token_cache_lock():
                hit = _TOKEN_CACHE.get(self._cache_key())
            if hit and now < hit[1] - self.refresh_slack_sec:
                self._token, self._expires_at = hit
                return self._token
            data = {
                "grant_type": "client_credentials",
                "client_id": self.client_id,
                "client_secret": self.client_secret,
            }
            if self.scope:
                data["scope"] = self.scope
            if self.audience:
                data["audience"] = self.audience
            sess = session or requests
            resp = sess.post(self.token_url, data=data, timeout=self.timeout)
            if resp.status_code >= 500 or resp.status_code == 429:
                # transient: surface as a RETRYABLE transport error so
                # _fetch_raw's backoff treats a token-endpoint blip the
                # same as a data-endpoint blip instead of failing the
                # whole partition on one 503
                raise requests.HTTPError(
                    f"retryable status {resp.status_code} from OAuth2 "
                    f"token endpoint {self.token_url}",
                    response=resp,
                )
            if resp.status_code != 200:
                raise RuntimeError(
                    f"OAuth2 token endpoint {self.token_url} returned "
                    f"{resp.status_code}"
                )
            payload = resp.json()
            tok = payload.get("access_token")
            if not tok:
                raise RuntimeError(
                    "OAuth2 token response missing access_token"
                )
            self._token = tok
            self._expires_at = now + float(payload.get("expires_in", 3600))
            with _token_cache_lock():
                _TOKEN_CACHE[self._cache_key()] = (tok, self._expires_at)
            return self._token


@dataclass
class TotalHint:
    """Where to find the total item/page count in the page-1 envelope
    (reference src/http/fetcher.rs:194-198)."""

    kind: str  # "items" | "pages"
    pointer: str  # JSON pointer, e.g. "/meta/total"


@dataclass
class LimitOffsetPagination:
    limit: int = 100
    limit_param: str = "limit"
    offset_param: str = "offset"


@dataclass
class PageNumberPagination:
    per_page: int = 100
    page_param: str = "page"
    per_page_param: str = "per_page"
    total_hint: TotalHint | None = None
    start_page: int = 1


@dataclass
class PageOnlyPagination:
    page_param: str = "page"
    start_page: int = 1


@dataclass
class CursorPagination:
    cursor_param: str = "cursor"
    page_size_param: str | None = None
    page_size: int | None = None
    next_cursor_pointer: str = "/next_cursor"


Pagination = LimitOffsetPagination | PageNumberPagination | PageOnlyPagination | CursorPagination


def drill_data_path(obj, data_path: str | None) -> list:
    """JSON-pointer drill + row flattening (reference src/http/fetcher.rs:68-93).

    array → rows; object/scalar → one row; null/missing path → no rows.
    """
    v = obj
    if data_path:
        for part in data_path.strip("/").split("/"):
            if part == "":
                continue
            if isinstance(v, dict) and part in v:
                v = v[part]
            # ascii-only index check: str.isdigit() accepts Unicode digits
            # ('²', '٣') that int() rejects — hypothesis-found crash
            elif (
                isinstance(v, list)
                and part.isascii()
                and part.isdigit()
                and int(part) < len(v)
            ):
                v = v[int(part)]
            else:
                return []
    if v is None:
        return []
    if isinstance(v, list):
        return list(v)
    return [v]


def _fetch_raw(
    url: str,
    params: dict,
    headers: dict,
    retry: RetryPolicy,
    timeout: float = 30.0,
    session=None,
    on_retry=None,
    auth=None,
):
    """One GET with bounded exponential-backoff retry (S1). Returns the
    ``requests`` response. Raises after max_attempts. ``on_retry`` (if
    given) is called once per retried attempt — the FetchStats hook.
    ``auth`` (OAuth2ClientCredentials) contributes a bearer header per
    attempt; a 401 triggers ONE immediate invalidate+refresh retry that
    does not consume the backoff budget (token expiry mid-run is not a
    transport fault)."""
    import requests

    sess = session or requests.Session()
    delays = list(retry.delays()) + [None]
    last_exc: Exception | None = None
    auth_retried = False

    def _get():
        hdrs = headers if auth is None else {**headers, **auth.headers(sess)}
        return sess.get(url, params=params, headers=hdrs, timeout=timeout)

    for delay in delays:
        try:
            resp = _get()
            if resp.status_code == 401 and auth is not None and not auth_retried:
                auth.invalidate()
                auth_retried = True
                resp = _get()  # fresh token; a second 401 fails fast below
            if 400 <= resp.status_code < 500 and resp.status_code != 429:
                # Client errors are deterministic — retrying wastes the
                # budget and hammers the API (429 excepted: that IS the
                # API asking us to retry later).
                raise RuntimeError(
                    f"HTTP {resp.status_code} client error for {url} (not retried)"
                )
            if resp.status_code >= 500 or resp.status_code == 429:
                raise requests.HTTPError(
                    f"retryable status {resp.status_code}", response=resp
                )
            return resp
        except RuntimeError:
            raise
        except Exception as exc:  # noqa: BLE001 — transport/5xx/429 retry
            last_exc = exc
            if delay is None:
                break
            if on_retry is not None:
                on_retry()
            time.sleep(delay)
    raise RuntimeError(f"HTTP fetch failed after {retry.max_attempts} attempts: {last_exc}")


def parse_response(resp, data_path: str | None) -> tuple[list, object]:
    """Decode one HTTP response into (rows, envelope) (S2+S3).

    NDJSON responses (Content-Type contains 'ndjson') parse line-by-line,
    blank lines skipped, per-line data_path drill, envelope None; JSON
    bodies parse whole then drill, returning the envelope object so
    callers can read total hints without a second request.
    """
    ctype = resp.headers.get("Content-Type", "")
    if "ndjson" in ctype:
        rows: list = []
        for line in resp.text.splitlines():
            line = line.strip()
            if not line:
                continue
            rows.extend(drill_data_path(json.loads(line), data_path))
        return rows, None
    obj = resp.json()
    return drill_data_path(obj, data_path), obj


def fetch_page_rows(
    url: str,
    params: dict,
    headers: dict,
    data_path: str | None,
    retry: RetryPolicy,
    session=None,
    on_retry=None,
    auth=None,
) -> list:
    """Fetch one page and return its rows (S1+S2+S3)."""
    resp = _fetch_raw(
        url, params, headers, retry, session=session, on_retry=on_retry,
        auth=auth,
    )
    return parse_response(resp, data_path)[0]


@dataclass
class HttpSource:
    """A named paginated HTTP JSON endpoint (reference src/pipeline/mod.rs:33-47)."""

    name: str
    url: str
    pagination: Pagination = field(default_factory=LimitOffsetPagination)
    data_path: str | None = None
    headers: dict = field(default_factory=dict)
    extra_params: dict = field(default_factory=dict)
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    sample_size: int = DEFAULT_SAMPLE_SIZE
    dest_table: str | None = None
    primary_key: str | None = None
    # Politeness controls (reference caps concurrent page fetches at 5:
    # src/cmd/mod.rs:18 CONCURRENT_REQUESTS, buffer_unordered at
    # src/http/fetcher.rs:434-497). max_concurrency bounds the number of
    # Spark tasks fetching at once — pages beyond it are fetched
    # sequentially *within* each task, so in-flight requests never exceed
    # the cap no matter how many executors the cluster has.
    # min_request_interval_sec additionally rate-limits each task.
    max_concurrency: int = DEFAULT_CONCURRENCY
    min_request_interval_sec: float = 0.0
    # OAuth2 client-credentials (reference roadmap README.md:124); None
    # keeps the static-headers path byte-identical
    auth: OAuth2ClientCredentials | None = None

    def __post_init__(self):
        self._driver_stats = FetchStats()
        self._accs = None  # (pages, rows, retries) accumulators after load()

    def stats(self) -> FetchStats:
        """Fetch telemetry for the last ``load()``. Executor-side counts
        arrive via accumulators, i.e. after an action consumed the frame."""
        s = FetchStats(**self._driver_stats.as_dict())
        if self._accs is not None:
            pages, rows, retries = self._accs
            s.pages += pages.value
            s.rows += rows.value
            s.retries += retries.value
        return s

    # ---- page parameterization ------------------------------------------
    def _page_params(self, page_idx: int) -> dict:
        """Query params for 0-based page index."""
        p = dict(self.extra_params)
        pg = self.pagination
        if isinstance(pg, LimitOffsetPagination):
            p[pg.limit_param] = pg.limit
            p[pg.offset_param] = page_idx * pg.limit
        elif isinstance(pg, PageNumberPagination):
            p[pg.page_param] = pg.start_page + page_idx
            p[pg.per_page_param] = pg.per_page
        elif isinstance(pg, PageOnlyPagination):
            p[pg.page_param] = pg.start_page + page_idx
        else:
            raise ValueError("cursor pagination has no random page access")
        return p

    def _fetch_page(self, page_idx: int, session=None, on_retry=None) -> list:
        if self.min_request_interval_sec > 0:
            time.sleep(self.min_request_interval_sec)
        return fetch_page_rows(
            self.url,
            self._page_params(page_idx),
            self.headers,
            self.data_path,
            self.retry,
            session=session,
            on_retry=on_retry,
            auth=self.auth,
        )

    # ---- total discovery -------------------------------------------------
    def _total_from_hint(self, first_page_obj) -> int | None:
        pg = self.pagination
        hint = getattr(pg, "total_hint", None)
        if hint is None:
            return None
        vals = drill_data_path(first_page_obj, hint.pointer)
        if not vals or not isinstance(vals[0], (int, float)):
            return None
        total = int(vals[0])
        if hint.kind == "items":
            per = pg.per_page if isinstance(pg, PageNumberPagination) else 1
            return max(1, -(-total // per))
        return max(1, total)

    def plan_pages(self) -> tuple[list, int]:
        """Page 0's rows and the number of pages to read, from ONE page-0
        request ("fetch page 1 once", SURVEY §7.4 — the reference fetches
        it twice on the data_path-miss path): the envelope's total hint
        when present, else a short first page means one page, else the
        exponential probe. An empty page 0 plans one (empty) page."""
        import requests

        sess = requests.Session()
        count_retry = lambda: setattr(  # noqa: E731
            self._driver_stats, "retries", self._driver_stats.retries + 1
        )
        resp = _fetch_raw(
            self.url, self._page_params(0), self.headers, self.retry,
            session=sess, on_retry=count_retry, auth=self.auth,
        )
        first, envelope = parse_response(resp, self.data_path)
        self._driver_stats.pages += 1
        self._driver_stats.rows += len(first)
        if not first:
            return first, 1
        n_pages = self._total_from_hint(envelope) if envelope is not None else None
        if n_pages is None:
            if len(first) < self._page_size_guess():
                n_pages = 1  # short first page ⇒ no further pages
            else:
                n_pages = self._probe_page_count(session=sess)
        return first, n_pages

    def _probe_page_count(self, session=None) -> int:
        """Exponential + binary probe for the first empty page (unknown-total
        path). O(log n) driver-side requests replace the reference's fully
        sequential walk so the body fetch can then run parallel."""
        lo = 0  # highest known non-empty page index
        hi = 1  # candidate empty page index
        probe = lambda i: self._probe_fetch(i, session)  # noqa: E731
        while hi < MAX_PROBE_PAGES and probe(hi):
            lo, hi = hi, hi * 2
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if probe(mid):
                lo = mid
            else:
                hi = mid
        return lo + 1  # pages 0..lo are non-empty

    def _probe_fetch(self, page_idx: int, session) -> list:
        self._driver_stats.pages += 1
        return self._fetch_page(
            page_idx,
            session=session,
            on_retry=lambda: setattr(
                self._driver_stats, "retries", self._driver_stats.retries + 1
            ),
        )

    # ---- cursor (inherently sequential, driver-side) ---------------------
    def _cursor_rows(self) -> list:
        import requests

        pg = self.pagination
        assert isinstance(pg, CursorPagination)
        sess = requests.Session()
        rows: list = []
        cursor = None
        count_retry = lambda: setattr(  # noqa: E731
            self._driver_stats, "retries", self._driver_stats.retries + 1
        )
        while True:
            params = dict(self.extra_params)
            if cursor is not None:
                params[pg.cursor_param] = cursor
            if pg.page_size_param and pg.page_size:
                params[pg.page_size_param] = pg.page_size
            if self.min_request_interval_sec > 0:
                time.sleep(self.min_request_interval_sec)
            resp = _fetch_raw(
                self.url, params, self.headers, self.retry,
                session=sess, on_retry=count_retry, auth=self.auth,
            )
            obj = resp.json()
            self._driver_stats.pages += 1
            page = drill_data_path(obj, self.data_path)
            if not page:
                break
            rows.extend(page)
            self._driver_stats.rows += len(page)
            nxt = drill_data_path(obj, pg.next_cursor_pointer)
            cursor = nxt[0] if nxt else None
            if cursor is None:
                break
        return rows

    # ---- Spark integration ----------------------------------------------
    def infer_schema(self, spark: SparkSession, sample_rows: list):
        """≤sample_size-row schema inference, fixed for the run (reference
        src/http/fetcher.rs:667-727): Spark's JSON inference implements the
        same widen-int⊔float→double / conflict→string lattice natively
        (SURVEY §1.2).

        Object rows go through ``schema_of_json`` over the sample as ONE
        JSON array: it runs the JSON reader's inference at analysis time,
        so no Spark job is launched, and the element type equals what
        ``spark.read.json`` infers for the same rows (property-tested).
        Non-object rows keep the reader job, whose top-level handling of
        scalars and nested arrays differs."""
        sample = sample_rows[: self.sample_size]
        if not all(isinstance(r, dict) for r in sample):
            lines = [json.dumps(r) for r in sample]
            return spark.read.json(spark.sparkContext.parallelize(lines, 1)).schema
        text = F.lit(json.dumps(sample))
        probe = spark.range(1).select(F.from_json(text, F.schema_of_json(text)))
        return probe.schema[0].dataType.elementType

    def load(self, spark: SparkSession) -> DataFrame:
        """Fetch the full source as a DataFrame (schema inferred from the
        first page's ≤100-row sample; later drift null-fills via PERMISSIVE
        parsing — documented improvement over the reference's hard error,
        SURVEY §7.4)."""
        self._driver_stats = FetchStats()
        self._accs = None
        pg = self.pagination
        if isinstance(pg, CursorPagination):
            return json_rows_frame(spark, self._cursor_rows(), self.sample_size)

        first, n_pages = self.plan_pages()
        if not first:
            return spark.createDataFrame([], "struct<>")
        schema = self.infer_schema(spark, first)

        # Distributed fetch of pages 0..n-1 in one plan. Page 0 was fetched
        # above and rides in the closure ("fetch once", SURVEY §7.4); the
        # task holding it emits those rows without a request. Executor-side
        # requests.Session per partition. The task count is capped at
        # max_concurrency (the reference's buffer_unordered(5) politeness,
        # src/http/fetcher.rs:434-497): each task walks its pages
        # sequentially, so at most max_concurrency requests are ever in
        # flight — on local[32] and on a 1000-executor cluster alike.
        sc = spark.sparkContext
        acc_pages, acc_rows, acc_retries = (
            sc.accumulator(0), sc.accumulator(0), sc.accumulator(0)
        )
        self._accs = (acc_pages, acc_rows, acc_retries)
        src = self  # capture for closure; dataclass pickles cleanly
        first_json = [json.dumps(r) for r in first]

        def fetch_partition(batches: Iterator) -> Iterator:
            import pandas as pd
            import requests as rq

            sess = rq.Session()
            for pdf in batches:
                out = []
                retries = [0]

                def _on_retry():
                    retries[0] += 1

                for page_idx in pdf["id"]:
                    if page_idx == 0:
                        out.extend(first_json)  # fetched and counted on the driver
                        continue
                    rows = src._fetch_page(
                        int(page_idx), session=sess, on_retry=_on_retry
                    )
                    out.extend(json.dumps(row) for row in rows)
                    acc_pages.add(1)
                    acc_rows.add(len(rows))
                acc_retries.add(retries[0])
                yield pd.DataFrame({"value": out})

        tasks = min(n_pages, max(1, self.max_concurrency))
        raw = spark.range(0, n_pages, 1, tasks).mapInPandas(
            fetch_partition, schema="value string"
        )
        return raw.select(F.from_json(F.col("value"), schema).alias("j")).select("j.*")

    def _page_size_guess(self) -> int:
        pg = self.pagination
        if isinstance(pg, LimitOffsetPagination):
            return pg.limit
        if isinstance(pg, PageNumberPagination):
            return pg.per_page
        return 1  # PageOnly: any non-empty page ⇒ keep probing

    def register(self, spark: SparkSession, view_name: str | None = None) -> DataFrame:
        """Load and expose as a SQL-queryable temp view (S9/S10 analog)."""
        df = self.load(spark)
        df.createOrReplaceTempView(view_name or self.name)
        return df


def json_rows_frame(
    spark: SparkSession, rows: list, sample_size: int = DEFAULT_SAMPLE_SIZE
) -> DataFrame:
    """Driver-held JSON rows as a DataFrame: the schema is inferred from
    the first ``sample_size`` rows and every row parses under it
    (PERMISSIVE ``from_json``). No rows make an empty frame."""
    if not rows:
        return spark.createDataFrame([], "struct<>")
    schema = HttpSource(name="_json", url="-", sample_size=sample_size).infer_schema(
        spark, rows
    )
    lines = spark.sparkContext.parallelize([json.dumps(r) for r in rows])
    return (
        spark.createDataFrame(lines, "string")
        .select(F.from_json(F.col("value"), schema).alias("j"))
        .select("j.*")
    )
