"""Spark 4 Python Data Source for streaming reads of the HTTP source.

``readStream.format("apitap_http")`` polls an append-only limit/offset
API in micro-batches (SURVEY §2.1 S9, the reference's streaming-ingestion
roadmap item):

    spark.dataSource.register(HttpJsonDataSource)
    stream = (spark.readStream.format("apitap_http")
                .option("url", "https://api.example.com/items")
                .option("pagination_type", "limit_offset")
                .option("limit", 50)
                .load())

The source is streaming-only. A batch read is ``HttpSource.load`` (or
``register`` for a SQL view), whose one fetch plan decodes every page
with ``typed_batch``. ``schema()`` runs in a planning worker with no
SparkContext, so it uses the flat inferencer (sources/schema.py) over
page 0, requested once — the same sampled "fixed for the run" policy as
the reference (SURVEY §1.3).
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from apitap_spark.config.models import SourceConfig
from apitap_spark.sources.http import (
    DEFAULT_SAMPLE_SIZE,
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

    ``oauth_client_secret_env`` resolves in the calling process: the
    stream reader calls this ONCE in its driver-side constructor and
    keeps the built HttpSource (auth.__getstate__ drops only the
    token/lock when it pickles, never the secret), so a cluster where
    the env var exists solely on the driver still reads every batch."""
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
        # Built ONCE, driver-side: one env resolution, one auth object
        # reused across EVERY micro-batch (the process-wide token cache in
        # OAuth2ClientCredentials then guarantees at most one token POST
        # per expiry window even on a 5s poll interval).
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
    """``readStream.format("apitap_http")`` — an append-only limit/offset
    HTTP JSON API as a Spark streaming source."""

    @classmethod
    def name(cls) -> str:
        return "apitap_http"

    def schema(self):
        src = _source_from_options(self.options)
        return infer_schema_simple(src._fetch_page(0), src.sample_size)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return HttpJsonSimpleStreamReader(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(HttpJsonDataSource)
