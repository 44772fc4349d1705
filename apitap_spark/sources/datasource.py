"""Spark 4 Python Data Source API wrapper for the paginated HTTP source.

The idiomatic Spark 4 surface for S9 (SURVEY §2.1): the HTTP stream
registers as a real ``spark.read.format(...)`` source, so scans plan
through Catalyst like any other relation:

    spark.dataSource.register(HttpJsonDataSource)
    df = (spark.read.format("apitap_http")
            .option("url", "https://api.example.com/items")
            .option("pagination_type", "page_number")
            .option("per_page", 50)
            .option("data_path", "/data")
            .load())

Partition planning is one InputPartition per page (the reference's
``buffer_unordered(5)`` concurrency becomes executor-task parallelism);
cursor pagination degrades to a single sequential partition. ``schema()``
must run before any executor exists, so it uses the driver-side flat
inferencer (sources/schema.py) over the first page — the same sampled
"fixed for the run" policy as the reference (SURVEY §1.3).
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from apitap_spark.sources.http import (
    DEFAULT_CONCURRENCY,
    CursorPagination,
    HttpSource,
    LimitOffsetPagination,
    PageNumberPagination,
    PageOnlyPagination,
    RetryPolicy,
    TotalHint,
)
from apitap_spark.sources.schema import coerce_row, infer_schema_simple


def _source_from_options(options: dict) -> HttpSource:
    kind = options.get("pagination_type", "limit_offset")
    if kind == "limit_offset":
        pagination = LimitOffsetPagination(
            limit=int(options.get("limit", 100)),
            limit_param=options.get("limit_param", "limit"),
            offset_param=options.get("offset_param", "offset"),
        )
    elif kind == "page_number":
        hint = None
        if options.get("total_items_pointer"):
            hint = TotalHint("items", options["total_items_pointer"])
        elif options.get("total_pages_pointer"):
            hint = TotalHint("pages", options["total_pages_pointer"])
        pagination = PageNumberPagination(
            per_page=int(options.get("per_page", 100)),
            page_param=options.get("page_param", "page"),
            per_page_param=options.get("per_page_param", "per_page"),
            total_hint=hint,
        )
    elif kind == "page_only":
        pagination = PageOnlyPagination(page_param=options.get("page_param", "page"))
    elif kind == "cursor":
        pagination = CursorPagination(
            cursor_param=options.get("cursor_param", "cursor"),
            page_size_param=options.get("page_size_param"),
            page_size=int(options["page_size"]) if options.get("page_size") else None,
            next_cursor_pointer=options.get("next_cursor_pointer", "/next_cursor"),
        )
    else:
        raise ValueError(f"unknown pagination_type {kind!r}")
    headers = json.loads(options["headers"]) if options.get("headers") else {}
    params = json.loads(options["params"]) if options.get("params") else {}
    auth = None
    if options.get("oauth_token_url"):
        # OAuth2 client-credentials via flat data-source options —
        # parity with the pipeline config's auth: block. Secret comes
        # from oauth_client_secret_env when given (preferred: option
        # strings surface in plans/logs). The env var resolves in the
        # process that calls this — readers therefore call it ONCE in
        # their driver-side constructor and let the built HttpSource
        # pickle into executor tasks (auth.__getstate__ drops only the
        # token/lock, never the secret), so a cluster where the env var
        # exists solely on the driver still reads every partition.
        import os as _os

        from apitap_spark.sources.http import OAuth2ClientCredentials

        secret = options.get("oauth_client_secret", "")
        env = options.get("oauth_client_secret_env")
        if not secret and env:
            secret = _os.environ.get(env, "")
            if not secret:
                raise ValueError(
                    f"apitap_http: env {env} (oauth_client_secret_env) "
                    "not set"
                )
        auth = OAuth2ClientCredentials(
            token_url=options["oauth_token_url"],
            client_id=options.get("oauth_client_id", ""),
            client_secret=secret,
            scope=options.get("oauth_scope"),
            audience=options.get("oauth_audience"),
        )
    return HttpSource(
        name=options.get("name", "http_source"),
        url=options["url"],
        pagination=pagination,
        data_path=options.get("data_path"),
        headers=headers,
        extra_params=params,
        retry=RetryPolicy(
            max_attempts=int(options.get("retry_max_attempts", 3)),
            min_delay_sec=float(options.get("retry_min_delay_sec", 1.0)),
            max_delay_sec=float(options.get("retry_max_delay_sec", 5.0)),
        ),
        sample_size=int(options.get("sample_size", 100)),
        max_concurrency=int(options.get("max_concurrency", DEFAULT_CONCURRENCY)),
        min_request_interval_sec=float(options.get("min_request_interval_sec", 0.0)),
        auth=auth,
    )


class PagePartition(InputPartition):
    """A strided slice of page indices. One partition = one Spark task =
    one sequential fetch loop, so the partition count (≤ max_concurrency)
    bounds in-flight requests — the reference's buffer_unordered(5)
    politeness (src/cmd/mod.rs:18) expressed as partition planning."""

    def __init__(self, pages: tuple, first: list | None = None):
        super().__init__(pages)
        self.pages = pages
        self.first = first  # page 0's rows, fetched on the driver


class CursorPartition(InputPartition):
    def __init__(self):
        super().__init__(0)


class HttpJsonReader(DataSourceReader):
    def __init__(self, options: dict, schema):
        self._options = dict(options)
        self._schema = schema
        # Build the source (and resolve oauth_client_secret_env) ONCE,
        # here on the driver: executor processes on a real cluster
        # don't inherit driver-only env vars, so read() must never
        # re-resolve them — the HttpSource pickles into each task with
        # the secret inside the auth object (repr-hidden, token/lock
        # stripped by __getstate__).
        self._src = _source_from_options(self._options)

    def partitions(self) -> Sequence[InputPartition]:
        src = self._src
        if isinstance(src.pagination, CursorPagination):
            return [CursorPartition()]
        # The same page plan as HttpSource.load; page 0's rows ride in
        # the partition that holds page 0, so read() never refetches it.
        first, n_pages = src.plan_pages()
        k = max(1, min(n_pages, src.max_concurrency))
        return [
            PagePartition(
                tuple(range(start, n_pages, k)), first if start == 0 else None
            )
            for start in range(k)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        import requests

        src = self._src
        if isinstance(partition, CursorPartition):
            rows = src._cursor_rows()
            for row in rows:
                yield coerce_row(row, self._schema)
            return
        sess = requests.Session()
        for page_idx in partition.pages:
            rows = (
                partition.first
                if page_idx == 0
                else src._fetch_page(page_idx, session=sess)
            )
            for row in rows:
                yield coerce_row(row, self._schema)


class HttpJsonSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming poll of a limit/offset API: offset = rows consumed.

    The reference lists webhook/streaming ingestion as roadmap
    (reference ``README.md:535``); this is the Structured Streaming
    realization for APPEND-ONLY limit/offset endpoints: each micro-batch
    resumes at the committed row offset, fetches up to
    ``max_pages_per_batch`` pages, and stops early on a short page
    (caught up — backpressure falls out of the page budget). Exactly-once
    delivery comes from Spark's offset log: ``readBetweenOffsets``
    re-fetches a committed [start, end) row range deterministically, the
    same idempotent-replay contract as the batch incremental sync
    (pipeline/state.py). Polling is driver-side by design (the `simple`
    stream reader) — sequential page discovery is inherently serial;
    downstream stages parallelize as usual.
    """

    def __init__(self, options: dict, schema):
        self._options = dict(options)
        self._schema = schema
        self._max_pages = int(options.get("max_pages_per_batch", 10))
        # Same driver-side construction contract as HttpJsonReader: one
        # env resolution, one auth object reused across EVERY micro-batch
        # (the process-wide token cache in OAuth2ClientCredentials then
        # guarantees at most one token POST per expiry window even on a
        # 5s poll interval).
        self._src = _source_from_options(self._options)

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def _fetch_at(self, src: HttpSource, row_offset: int, limit: int) -> list:
        from apitap_spark.sources.http import fetch_page_rows

        pg = src.pagination
        params = dict(src.extra_params)
        params[pg.limit_param] = limit
        params[pg.offset_param] = row_offset
        return fetch_page_rows(
            src.url, params, src.headers, src.data_path, src.retry,
            auth=src.auth,
        )

    def read(self, start: dict):
        src = self._src
        if not isinstance(src.pagination, LimitOffsetPagination):
            raise ValueError(
                "streaming reads support pagination_type=limit_offset "
                "(append-only row offsets are the replayable cursor)"
            )
        limit = src.pagination.limit
        pos = int(start["offset"])
        out: list = []
        for _ in range(self._max_pages):
            rows = self._fetch_at(src, pos + len(out), limit)
            out.extend(rows)
            if len(rows) < limit:
                break
        return (
            iter([coerce_row(r, self._schema) for r in out]),
            {"offset": pos + len(out)},
        )

    def readBetweenOffsets(self, start: dict, end: dict):
        src = self._src
        limit = src.pagination.limit
        pos, stop = int(start["offset"]), int(end["offset"])
        while pos < stop:
            rows = self._fetch_at(src, pos, min(limit, stop - pos))
            if not rows:
                break  # source shrank under a committed range: stop cleanly
            for r in rows[: stop - pos]:
                yield coerce_row(r, self._schema)
            pos += len(rows)


class HttpJsonDataSource(DataSource):
    """``format("apitap_http")`` — paginated HTTP JSON as a first-class
    Spark data source (batch ``read`` and streaming ``readStream``)."""

    @classmethod
    def name(cls) -> str:
        return "apitap_http"

    def schema(self):
        src = _source_from_options(self.options)
        if isinstance(src.pagination, CursorPagination):
            rows = src._cursor_rows()
        else:
            rows = src._fetch_page(0)
        return infer_schema_simple(rows, src.sample_size)

    def reader(self, schema) -> DataSourceReader:
        return HttpJsonReader(self.options, schema)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return HttpJsonSimpleStreamReader(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(HttpJsonDataSource)
