"""Spark 4 Python DataSource API tests: spark.read.format("apitap_http")."""

from __future__ import annotations

import pytest

from apitap_spark.sources.schema import infer_schema_simple
from tests.mock_api import MockApi

ROWS = [{"id": i, "userId": i % 5, "title": f"t{i}", "score": i * 0.5} for i in range(37)]


@pytest.fixture(scope="module")
def api():
    api = MockApi(ROWS)
    api.base = api.start()
    yield api
    api.stop()


@pytest.fixture(scope="module")
def registered(spark):
    from apitap_spark.sources.datasource import register

    register(spark)
    return spark


def test_format_read_limit_offset(registered, api):
    df = (
        registered.read.format("apitap_http")
        .option("url", f"{api.base}/limit_offset")
        .option("pagination_type", "limit_offset")
        .option("limit", 10)
        .load()
    )
    assert dict(df.dtypes) == {
        "id": "bigint",
        "userId": "bigint",
        "title": "string",
        "score": "double",
    }
    assert sorted(r["id"] for r in df.collect()) == list(range(37))


def test_format_read_page_number_hint(registered, api):
    df = (
        registered.read.format("apitap_http")
        .option("url", f"{api.base}/page_number")
        .option("pagination_type", "page_number")
        .option("per_page", 10)
        .option("total_items_pointer", "/meta/total")
        .option("data_path", "/data")
        .load()
    )
    # partition-per-page: 4 pages → 4 partitions
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 37


@pytest.mark.parametrize("route", ["page_number", "limit_offset"])
def test_format_read_fetches_page_zero_twice(registered, route):
    """A batch read requests page 0 once in schema() and once for the
    page plan (HttpSource.plan_pages); the partition holding page 0
    carries the plan's rows, so its task never requests it again. Every
    other page is requested once, plus the unknown-total probe's."""
    from collections import Counter

    api = MockApi(ROWS)
    base = api.start()
    reader = registered.read.format("apitap_http").option("url", f"{base}/{route}")
    if route == "page_number":
        reader = (
            reader.option("pagination_type", "page_number")
            .option("per_page", 10)
            .option("total_items_pointer", "/meta/total")
            .option("data_path", "/data")
        )
    else:
        reader = reader.option("pagination_type", "limit_offset").option("limit", 10)
    try:
        ids = sorted(r["id"] for r in reader.load().collect())
    finally:
        api.stop()
    assert ids == list(range(37))
    if route == "page_number":
        pages = Counter(int(q["page"]) - 1 for _, q, _ in api.served)
        assert pages == Counter({0: 2, 1: 1, 2: 1, 3: 1})
    else:
        pages = Counter(int(q["offset"]) // 10 for _, q, _ in api.served)
        # probe: pages 1, 2, 4 (empty), 3; then the tasks read 1, 2, 3
        assert pages == Counter({0: 2, 1: 2, 2: 2, 3: 2, 4: 1})


def test_format_read_cursor_single_partition(registered, api):
    df = (
        registered.read.format("apitap_http")
        .option("url", f"{api.base}/cursor")
        .option("pagination_type", "cursor")
        .option("cursor_param", "nextToken")
        .option("page_size_param", "maxResults")
        .option("page_size", 10)
        .option("data_path", "/items")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1  # inherently sequential
    assert df.count() == 37


def test_format_sql_queryable(registered, api):
    (
        registered.read.format("apitap_http")
        .option("url", f"{api.base}/limit_offset")
        .option("pagination_type", "limit_offset")
        .option("limit", 20)
        .load()
    ).createOrReplaceTempView("ds_posts")
    out = registered.sql(
        "SELECT userId, COUNT(*) AS n FROM ds_posts GROUP BY userId ORDER BY userId"
    ).collect()
    expected = [(k, sum(1 for r in ROWS if r["userId"] == k)) for k in range(5)]
    assert [(r["userId"], r["n"]) for r in out] == expected


# ---- flat inferencer semantics (reference schema.rs tests, SURVEY §5) ------
def test_simple_inference_lattice():
    schema = infer_schema_simple(
        [
            {"i": 1, "f": 1.5, "b": True, "s": "x", "n": None, "nested": {"a": 1}},
            {"i": 2, "f": 2, "b": False, "s": "y", "n": None, "nested": [1, 2]},
        ]
    )
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types == {
        "i": "bigint",
        "f": "double",  # double ⊔ bigint widens
        "b": "boolean",
        "s": "string",
        "n": "string",  # all-null bottoms out at string
        "nested": "string",  # stringified (reference streaming inferencer)
    }


def test_simple_inference_conflict_to_string():
    schema = infer_schema_simple([{"v": 1}, {"v": True}])
    assert schema.fields[0].dataType.simpleString() == "string"


def test_simple_inference_empty_errors():
    with pytest.raises(ValueError, match="empty sample"):
        infer_schema_simple([])


def test_simple_inference_non_object_errors():
    with pytest.raises(ValueError, match="expected JSON objects"):
        infer_schema_simple([42])


def test_simple_inference_sample_cutoff():
    rows = [{"v": 1}] * 100 + [{"v": "drift"}]
    schema = infer_schema_simple(rows, sample_size=100)
    assert schema.fields[0].dataType.simpleString() == "bigint"


def test_stream_read_incremental_microbatches(registered, tmp_path):
    """readStream polls the limit/offset API; rows appended between
    micro-batches arrive exactly once (offset log + replayable ranges)."""
    api = MockApi([{"id": i, "v": i * 1.0} for i in range(25)])
    base = api.start()
    try:
        stream = (
            registered.readStream.format("apitap_http")
            .option("url", f"{base}/limit_offset")
            .option("pagination_type", "limit_offset")
            .option("limit", 10)
            .option("max_pages_per_batch", 2)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("http_stream_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            got = registered.sql("SELECT id FROM http_stream_sink").collect()
            assert sorted(r["id"] for r in got) == list(range(25))
            api.rows.extend({"id": i, "v": i * 1.0} for i in range(25, 40))
            q.processAllAvailable()
            got = registered.sql("SELECT id FROM http_stream_sink").collect()
            ids = sorted(r["id"] for r in got)
            assert ids == list(range(40))  # no dupes, no gaps
        finally:
            q.stop()
    finally:
        api.stop()


def test_stream_read_between_offsets_replay():
    """readBetweenOffsets re-fetches a committed range deterministically
    (the exactly-once replay contract, exercised directly)."""
    from pyspark.sql.types import StructType

    from apitap_spark.sources.datasource import HttpJsonSimpleStreamReader
    from apitap_spark.sources.schema import infer_schema_simple

    api = MockApi([{"id": i, "v": i * 1.0} for i in range(30)])
    base = api.start()
    try:
        opts = {
            "url": f"{base}/limit_offset",
            "pagination_type": "limit_offset",
            "limit": "7",
        }
        schema = infer_schema_simple([{"id": 0, "v": 0.0}], 10)
        r = HttpJsonSimpleStreamReader(opts, schema)
        assert r.initialOffset() == {"offset": 0}
        rows, end = r.read({"offset": 0})
        ids = [t[0] for t in rows]
        assert ids == list(range(30)) and end == {"offset": 30}
        # replay a mid-range slice: same rows, same order
        replay = [t[0] for t in r.readBetweenOffsets({"offset": 5}, {"offset": 19})]
        assert replay == list(range(5, 19))
    finally:
        api.stop()


def test_datasource_oauth_options_end_to_end(registered, monkeypatch, tmp_path):
    """format("apitap_http") with oauth_* options authenticates against
    the mock token endpoint and reads the protected route. The e2e path
    passes the secret directly (data-source options resolve in the
    PLANNING WORKER, whose env pre-dates this test's monkeypatch; real
    clusters ship env via spark.executorEnv.*); env indirection is
    covered at unit level below."""
    from tests.mock_api import MockApi

    api = MockApi([{"id": i, "v": i * 2.0} for i in range(23)])
    base = api.start()
    try:
        df = (
            registered.read.format("apitap_http")
            .option("url", f"{base}/protected")
            .option("pagination_type", "limit_offset")
            .option("limit", 10)
            .option("oauth_token_url", f"{base}/token")
            .option("oauth_client_id", api.client_id)
            .option("oauth_client_secret", api.client_secret)
            .load()
        )
        got = sorted(r["id"] for r in df.collect())
        assert got == list(range(23))
        assert api.tokens_issued >= 1
    finally:
        api.stop()


def test_datasource_oauth_env_indirection_unit(monkeypatch):
    import pytest as _pytest

    from apitap_spark.sources.datasource import _source_from_options

    monkeypatch.setenv("T_DS_OAUTH_SECRET", "s3")
    src = _source_from_options(
        {
            "url": "http://x/items",
            "oauth_token_url": "http://x/token",
            "oauth_client_id": "cid",
            "oauth_client_secret_env": "T_DS_OAUTH_SECRET",
        }
    )
    assert src.auth is not None and src.auth.client_secret == "s3"
    monkeypatch.delenv("T_DS_OAUTH_SECRET")
    with _pytest.raises(ValueError, match="T_DS_OAUTH_SECRET"):
        _source_from_options(
            {
                "url": "http://x/items",
                "oauth_token_url": "http://x/token",
                "oauth_client_id": "cid",
                "oauth_client_secret_env": "T_DS_OAUTH_SECRET",
            }
        )


def test_reader_resolves_secret_env_once_at_construction(monkeypatch):
    """The env var backing oauth_client_secret_env exists only on the
    DRIVER of a real cluster. Readers must therefore resolve it in
    __init__ (driver-side) and carry the secret inside the pickled
    HttpSource — read() on an executor whose env lacks the var must
    still authenticate (round-9 ADVICE #1)."""
    import pickle

    from apitap_spark.sources.datasource import (
        HttpJsonReader,
        HttpJsonSimpleStreamReader,
    )

    monkeypatch.setenv("T_DS_OAUTH_SECRET2", "driver-only")
    opts = {
        "url": "http://x/items",
        "oauth_token_url": "http://x/token",
        "oauth_client_id": "cid",
        "oauth_client_secret_env": "T_DS_OAUTH_SECRET2",
    }
    batch = HttpJsonReader(opts, None)
    stream = HttpJsonSimpleStreamReader(opts, None)
    monkeypatch.delenv("T_DS_OAUTH_SECRET2")  # simulate the executor env
    for reader in (batch, stream):
        clone = pickle.loads(pickle.dumps(reader))  # ships to the task
        assert clone._src.auth is not None
        assert clone._src.auth.client_secret == "driver-only"
        # the token cache state never rides the pickle
        assert clone._src.auth._token is None


def test_process_token_cache_spans_rebuilt_auth_objects():
    """One token POST per expiry window per process, even when the auth
    object is rebuilt for every micro-batch (round-9 ADVICE #2): a
    second OAuth2ClientCredentials with the same url/id/secret/scope
    must reuse the process-cached token instead of re-POSTing."""
    from tests.mock_api import MockApi

    from apitap_spark.sources import http as http_mod
    from apitap_spark.sources.datasource import _source_from_options

    api = MockApi([{"id": i} for i in range(5)])
    base = api.start()
    http_mod._TOKEN_CACHE.clear()
    try:
        opts = {
            "url": f"{base}/protected",
            "oauth_token_url": f"{base}/token",
            "oauth_client_id": api.client_id,
            "oauth_client_secret": api.client_secret,
        }
        for _ in range(4):  # four "micro-batches", each a fresh source
            src = _source_from_options(opts)
            rows = src._fetch_page(0)
            assert [r["id"] for r in rows] == list(range(5))
        assert api.tokens_issued == 1
        # a DIFFERENT secret must not share the cached token
        bad = _source_from_options({**opts, "oauth_client_secret": "nope"})
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="token endpoint"):
            bad._fetch_page(0)
    finally:
        api.stop()
        http_mod._TOKEN_CACHE.clear()


def test_start_page_option_sets_first_request():
    """``start_page`` reaches the pagination: a 0-based API gets its
    first request for page 0, as the YAML path's ``start_page: 0``."""
    from apitap_spark.sources.datasource import _source_from_options

    api = MockApi(ROWS)
    base = api.start()
    try:
        src = _source_from_options(
            {
                "url": f"{base}/page_number",
                "pagination_type": "page_number",
                "per_page": "10",
                "start_page": "0",
                "total_items_pointer": "/meta/total",
                "data_path": "/data",
            }
        )
        src.plan_pages()
        assert api.served[0][1]["page"] == "0"
    finally:
        api.stop()


def test_oauth_options_validate_like_the_yaml_auth_block():
    """An empty ``oauth_client_id`` is refused, as in a pipeline's
    ``auth:`` block, and ``oauth_refresh_slack_sec`` reaches the auth."""
    from apitap_spark.sources.datasource import _source_from_options

    opts = {
        "url": "http://x/items",
        "oauth_token_url": "http://x/token",
        "oauth_client_id": "cid",
        "oauth_client_secret": "s",
        "oauth_refresh_slack_sec": "5",
    }
    assert _source_from_options(opts).auth.refresh_slack_sec == 5.0
    with pytest.raises(ValueError, match="client_id"):
        _source_from_options({**opts, "oauth_client_id": ""})
