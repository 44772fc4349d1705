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

from apitap_spark.config.models import SourceConfig
from apitap_spark.sources.http import (
    DEFAULT_SAMPLE_SIZE,
    CursorPagination,
    HttpSource,
    LimitOffsetPagination,
)
from apitap_spark.sources.schema import coerce_row, infer_schema_simple


# Flat options that pass through unchanged into the pipeline config's
# pagination block (config/models.py parses and validates both paths).
_PAGINATION_OPTIONS = (
    "limit", "limit_param", "offset_param", "per_page", "page_param",
    "per_page_param", "start_page", "cursor_param", "page_size_param",
    "page_size", "next_cursor_pointer",
)


def _prefixed(options: dict, prefix: str) -> dict:
    return {k.removeprefix(prefix): v for k, v in options.items() if k.startswith(prefix)}


def _source_from_options(options: dict) -> HttpSource:
    """The HttpSource of flat ``format("apitap_http")`` options: they map
    onto a pipeline source entry (``oauth_<key>`` onto its ``auth:``
    block, ``retry_<key>`` onto ``retry:``) and build through
    ``SourceConfig``, so both paths parse and validate alike.

    ``oauth_client_secret_env`` resolves in the calling process: readers
    call this ONCE in their driver-side constructor and let the built
    HttpSource pickle into executor tasks (auth.__getstate__ drops only
    the token/lock, never the secret), so a cluster where the env var
    exists solely on the driver still reads every partition."""
    pagination = {k: options[k] for k in _PAGINATION_OPTIONS if k in options}
    pagination["type"] = options.get("pagination_type", "limit_offset")
    if options.get("total_items_pointer"):
        pagination["total_hint"] = {"items_pointer": options["total_items_pointer"]}
    elif options.get("total_pages_pointer"):
        pagination["total_hint"] = {"pages_pointer": options["total_pages_pointer"]}
    entry = {
        "name": options.get("name", "http_source"),
        "pagination": pagination,
        "headers": json.loads(options.get("headers") or "{}"),
        "params": json.loads(options.get("params") or "{}"),
        "retry": _prefixed(options, "retry_"),
        **{
            k: options[k]
            for k in ("url", "data_path", "max_concurrency", "min_request_interval_sec")
            if k in options
        },
    }
    if options.get("oauth_token_url"):
        entry["auth"] = _prefixed(options, "oauth_")
    src = SourceConfig.from_dict(entry).to_http_source()
    src.sample_size = int(options.get("sample_size", DEFAULT_SAMPLE_SIZE))
    return src


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
