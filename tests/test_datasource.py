"""Spark 4 Python DataSource API tests: spark.readStream.format("apitap_http")."""

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


@pytest.mark.parametrize("route", ["page_number", "limit_offset"])
def test_schema_requests_page_zero_once(registered, route):
    """Planning ``readStream.format("apitap_http")`` runs ``schema()``,
    which requests page 0 once and nothing else: no page plan, no probe,
    no cursor walk. The flat inferencer types page 0's rows."""
    api = MockApi(ROWS)
    base = api.start()
    reader = registered.readStream.format("apitap_http").option(
        "url", f"{base}/{route}"
    )
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
        df = reader.load()
    finally:
        api.stop()
    assert dict(df.dtypes) == {
        "id": "bigint",
        "userId": "bigint",
        "title": "string",
        "score": "double",
    }
    assert len(api.served) == 1
    _, query, _ = api.served[0]
    if route == "page_number":
        assert query == {"page": "1", "per_page": "10"}
    else:
        assert query == {"limit": "10", "offset": "0"}


def test_format_sql_queryable(registered, api, tmp_path):
    """The stream registers as a temp view that Spark SQL queries."""
    (
        registered.readStream.format("apitap_http")
        .option("url", f"{api.base}/limit_offset")
        .option("pagination_type", "limit_offset")
        .option("limit", 20)
        .load()
    ).createOrReplaceTempView("ds_posts")
    q = (
        registered.sql("SELECT id, userId FROM ds_posts WHERE score >= 5")
        .writeStream.format("memory")
        .queryName("ds_posts_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    out = registered.sql("SELECT * FROM ds_posts_sink ORDER BY id").collect()
    assert [(r["id"], r["userId"]) for r in out] == [
        (r["id"], r["userId"]) for r in ROWS if r["score"] >= 5
    ]


def test_batch_read_is_refused(registered, api):
    """The source is streaming-only: a batch read is ``HttpSource.load``,
    whose one fetch plan decodes every page."""
    from pyspark.errors import AnalysisException

    reader = registered.read.format("apitap_http").option(
        "url", f"{api.base}/limit_offset"
    )
    with pytest.raises(AnalysisException, match="reader is not implemented"):
        reader.load().collect()


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


# Flat values a drifted page can carry, met by each flat field type.
DRIFT_PROBES = [
    None, True, False, 0, -1, 2**63 - 1, 2**63, -(2**63), -(2**63) - 1,
    10**400, 1.5, 1.9, -0.0, 1e308, float("nan"), "", "s", "abc", "no",
    "NaN", "1", "true", "\ud800", [], [1], {}, {"k": 1}, {"k": [1, "x"]},
]


def test_stream_read_null_fills_drift(spark):
    """A micro-batch whose rows drift from the sampled schema null-fills
    each value that does not convert exactly (``http._EXACT``) instead
    of failing the batch or truncating, and a string field takes a
    non-string value's compact JSON text. Over ``DRIFT_PROBES`` in
    each flat type this equals ``from_json(json.dumps(row))`` on every
    value but five, where ``from_json`` lands:

    * ``10**400`` in a double field: ``inf`` (here NULL, not exact);
    * ``"NaN"`` (quoted) in a double field: ``nan`` (here NULL);
    * ``1e308`` in a string field: ``'1.0E308'``, the JVM's float text
      (here ``'1e+308'``);
    * ``float("nan")`` in a string field: ``'"NaN"'`` (here ``'NaN'``);
    * a lone surrogate in a string field: ``'?'`` (here NULL: it is not
      UTF-8)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from apitap_spark.sources.datasource import HttpJsonSimpleStreamReader

    kinds = {"l": T.LongType(), "d": T.DoubleType(), "s": T.StringType(),
             "b": T.BooleanType()}
    schema = T.StructType([T.StructField(k, t) for k, t in kinds.items()])
    page = [
        {"l": 1, "d": 0.5, "s": "a", "b": True},
        {"l": "abc", "d": "x", "s": 7, "b": "no"},
        {"l": 1.9, "d": True, "s": {"k": [1, 2]}, "b": 1},
        42,
    ] + [{k: v for k in kinds} for v in DRIFT_PROBES]
    api = MockApi(page)
    base = api.start()
    try:
        opts = {
            "url": f"{base}/limit_offset",
            "pagination_type": "limit_offset",
            "limit": "100",
        }
        got, end = HttpJsonSimpleStreamReader(opts, schema).read({"offset": 0})
        got = list(got)
    finally:
        api.stop()
    assert end == {"offset": len(page)}
    assert got[:4] == [
        (1, 0.5, "a", True),
        (None, None, "7", None),
        (None, None, '{"k":[1,2]}', None),
        (None, None, None, None),
    ]
    parsed = (
        spark.createDataFrame([(json.dumps(r),) for r in page], "t string")
        .select(F.from_json("t", schema).alias("j"))
        .select("j.*")
        .collect()
    )
    differ = {
        (k, repr(v))
        for row, want, v in zip(got[4:], parsed[4:], DRIFT_PROBES)
        for k, a, b in zip(kinds, row, want)
        if repr(a) != repr(b)
    }
    assert differ == {
        ("d", repr(10**400)), ("d", "'NaN'"), ("s", "1e+308"),
        ("s", "nan"), ("s", "'\\ud800'"),
    }
    assert [tuple(r) for r in parsed[:4]] == got[:4]


def test_datasource_oauth_options_end_to_end(registered, tmp_path):
    """readStream.format("apitap_http") with oauth_* options
    authenticates against the mock token endpoint and reads the
    protected route. The e2e path passes the secret directly
    (data-source options resolve in the PLANNING WORKER, whose env
    pre-dates the test; real clusters ship env via
    spark.executorEnv.*); env indirection is covered at unit level
    below."""
    api = MockApi([{"id": i, "v": i * 2.0} for i in range(23)])
    base = api.start()
    try:
        stream = (
            registered.readStream.format("apitap_http")
            .option("url", f"{base}/protected")
            .option("pagination_type", "limit_offset")
            .option("limit", 10)
            .option("oauth_token_url", f"{base}/token")
            .option("oauth_client_id", api.client_id)
            .option("oauth_client_secret", api.client_secret)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("http_oauth_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        got = registered.sql("SELECT id FROM http_oauth_sink").collect()
        assert sorted(r["id"] for r in got) == list(range(23))
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
    DRIVER of a real cluster. The stream reader must therefore resolve
    it in __init__ (driver-side) and carry the secret inside the pickled
    HttpSource — a read in a process whose env lacks the var must
    still authenticate (round-9 ADVICE #1)."""
    import pickle

    from apitap_spark.sources.datasource import HttpJsonSimpleStreamReader

    monkeypatch.setenv("T_DS_OAUTH_SECRET2", "driver-only")
    opts = {
        "url": "http://x/items",
        "oauth_token_url": "http://x/token",
        "oauth_client_id": "cid",
        "oauth_client_secret_env": "T_DS_OAUTH_SECRET2",
    }
    stream = HttpJsonSimpleStreamReader(opts, None)
    monkeypatch.delenv("T_DS_OAUTH_SECRET2")  # simulate the executor env
    clone = pickle.loads(pickle.dumps(stream))  # ships to the task
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
