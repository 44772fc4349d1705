"""Pipeline DSL tests: config validation, templating capture, module
discovery, and the full fetch→SQL→merge-sink run against the mock API +
a DuckDB target (the reference quick-start flow, README.md:204-217)."""

from __future__ import annotations

import os

import duckdb
import pytest

from apitap_spark.config.models import (
    ConfigError,
    load_config,
)
from apitap_spark.pipeline.runner import main as cli_main
from apitap_spark.pipeline.runner import run_pipeline
from apitap_spark.pipeline.templating import list_sql_templates, render_module
from apitap_spark.sources.http import (
    CursorPagination,
    PageNumberPagination,
)
from tests.mock_api import MockApi

ROWS = [
    {"id": i, "userId": i % 7, "title": f"title {i}", "body": f"body {i}"}
    for i in range(41)
]


# ---- config (T6) -----------------------------------------------------------
def test_config_roundtrip_and_index():
    cfg = load_config(
        {
            "sources": [
                {
                    "name": "posts",
                    "url": "http://x/posts",
                    "pagination": {
                        "type": "page_number",
                        "page_param": "pageNum",
                        "per_page_param": "pageSize",
                        "per_page": 25,
                        "total_hint": {"kind": "items", "pointer": "/meta/total"},
                    },
                    "primary_key_in_dest": "id",
                },
                {
                    "name": "cur",
                    "url": "http://x/c",
                    "pagination": {"type": "cursor", "cursor_param": "nextToken"},
                },
            ],
            "targets": [{"name": "wh", "kind": "duckdb", "path": "/tmp/x.db"}],
        }
    )
    pg = cfg.source("posts").pagination
    assert isinstance(pg, PageNumberPagination)
    assert (pg.page_param, pg.per_page_param, pg.per_page) == ("pageNum", "pageSize", 25)
    assert pg.total_hint.pointer == "/meta/total"
    assert isinstance(cfg.source("cur").pagination, CursorPagination)
    assert cfg.target("wh").kind == "duckdb"


def test_config_duplicate_names_rejected():
    with pytest.raises(ConfigError, match="duplicate source"):
        load_config(
            {
                "sources": [
                    {"name": "a", "url": "http://x"},
                    {"name": "a", "url": "http://y"},
                ]
            }
        )


def test_config_env_credentials(monkeypatch):
    cfg = load_config(
        {
            "targets": [
                {
                    "name": "pg",
                    "kind": "postgres",
                    "username_env": "TEST_PG_U",
                    "password_env": "TEST_PG_P",
                }
            ]
        }
    )
    with pytest.raises(ConfigError, match="not set"):
        cfg.target("pg").credentials()
    monkeypatch.setenv("TEST_PG_U", "u")
    monkeypatch.setenv("TEST_PG_P", "p")
    assert cfg.target("pg").credentials() == ("u", "p")


def test_unknown_names():
    cfg = load_config({})
    with pytest.raises(ConfigError, match="unknown source"):
        cfg.source("nope")
    with pytest.raises(ConfigError, match="unknown target"):
        cfg.target("nope")


# ---- templating (T1-T5) ----------------------------------------------------
@pytest.fixture
def modules_dir(tmp_path):
    d = tmp_path / "sql"
    (d / "nested").mkdir(parents=True)
    (d / "transform.sql").write_text(
        "{{ sink(name='user_posts') }}\n"
        "SELECT id, userId AS user_id, title\n"
        "FROM {{ use_source('posts') }}\n"
        "WHERE userId > 3"
    )
    (d / "nested" / "second.SQL").write_text(
        "{{ sink(name='all_posts') }}\nSELECT id, body FROM {{ use_source('posts') }}"
    )
    (d / "readme.txt").write_text("not sql")
    return str(d)


def test_list_templates_recursive_sorted(modules_dir):
    assert list_sql_templates(modules_dir) == ["nested/second.SQL", "transform.sql"]


def test_render_captures_sink_and_source(modules_dir):
    r = render_module(modules_dir, "transform.sql")
    assert r.sink == "user_posts"
    assert list(r.sources) == ["posts"]
    view = r.sources["posts"]
    assert view.startswith("posts_") and len(view) > len("posts_")
    # use_source renders the resolved view name — no string rewrite needed
    assert f"FROM {view}" in r.sql
    assert "{{" not in r.sql


def test_render_capture_resets_between_modules(modules_dir):
    a = render_module(modules_dir, "transform.sql")
    b = render_module(modules_dir, "nested/second.SQL")
    assert b.sink == "all_posts"
    assert a.sources["posts"] != b.sources["posts"]  # unique view per render


def test_render_substring_hazard_avoided(tmp_path):
    """A column named like the source must survive (SURVEY §7.4 T5 hazard)."""
    d = tmp_path / "sql"
    d.mkdir()
    (d / "m.sql").write_text(
        "{{ sink(name='out') }}SELECT posts_count FROM {{ use_source('posts') }}"
    )
    r = render_module(str(d), "m.sql")
    assert "posts_count" in r.sql  # untouched — the hazard the reference has


# ---- end-to-end pipeline (T7/T8) ------------------------------------------
@pytest.fixture(scope="module")
def api():
    api = MockApi(ROWS)
    api.base = api.start()
    yield api
    api.stop()


def _write_cfg(tmp_path, api_base, duck_path):
    cfg = tmp_path / "pipelines.yaml"
    cfg.write_text(
        f"""
sources:
  - name: posts
    url: {api_base}/limit_offset
    pagination: {{type: limit_offset, limit: 10}}
    dest_table: posts_raw
    primary_key_in_dest: id
targets:
  - name: wh
    kind: duckdb
    path: {duck_path}
"""
    )
    return str(cfg)


def test_run_pipeline_end_to_end(spark, tmp_path, api, modules_dir):
    duck_path = os.path.join(tmp_path, "wh.duckdb")
    cfg_path = _write_cfg(tmp_path, api.base, duck_path)
    stats = run_pipeline(spark, modules_dir, cfg_path)
    by_module = {s.module: s for s in stats}
    assert by_module["transform.sql"].sink_table == "user_posts"
    expected = sum(1 for r in ROWS if r["userId"] > 3)
    assert by_module["transform.sql"].rows_written == expected

    con = duckdb.connect(duck_path)
    assert con.execute("SELECT count(*) FROM user_posts").fetchone()[0] == expected
    assert con.execute("SELECT count(*) FROM all_posts").fetchone()[0] == len(ROWS)
    con.close()

    # Idempotent re-run: merge-by-PK leaves counts unchanged (retry safety)
    run_pipeline(spark, modules_dir, cfg_path)
    con = duckdb.connect(duck_path)
    assert con.execute("SELECT count(*) FROM user_posts").fetchone()[0] == expected
    con.close()


def test_cli_runs(tmp_path, api, modules_dir, capsys):
    duck_path = os.path.join(tmp_path, "cli.duckdb")
    cfg_path = _write_cfg(tmp_path, api.base, duck_path)
    rc = cli_main(["-m", modules_dir, "-y", cfg_path, "--log-json", "--log-level", "warning"])
    assert rc == 0
    out = capsys.readouterr().out
    assert '"sink_table": "user_posts"' in out
    con = duckdb.connect(duck_path)
    assert con.execute("SELECT count(*) FROM all_posts").fetchone()[0] == len(ROWS)
    con.close()



# Spark jobs of one run_module over the mock API into DuckDB, measured
# when the write job started counting the rows it loads: the write's
# single job. Before, schema inference and result.count() added two.
RUN_MODULE_JOB_BUDGET = 1


def test_run_module_job_budget(spark, tmp_path, api):
    """A module run launches no JSON-inference and no count job: the
    schema is inferred at analysis time and the write job returns the
    row count, which must equal the rows that landed."""
    from apitap_spark.config.models import load_config_from_path
    from apitap_spark.pipeline.runner import run_module

    duck_path = os.path.join(tmp_path, "budget.duckdb")
    cfg = load_config_from_path(_write_cfg(tmp_path, api.base, duck_path))
    sql_dir = tmp_path / "budget"
    sql_dir.mkdir()
    (sql_dir / "m.sql").write_text(
        "{{ sink(name='budget_posts') }}"
        "SELECT id, title FROM {{ use_source('posts') }} WHERE userId > 3"
    )
    sc = spark.sparkContext
    group = "run_module_job_budget"
    sc.setJobGroup(group, group)
    try:
        stats = run_module(spark, cfg, str(sql_dir), "m.sql", "wh")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        tracker.getStageInfo(s).name
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert not [n for n in stages if n.startswith("json at")], stages
    # AQE submits a count() under a thread-pool call site, not "count at",
    # so the budget is what catches it: the module has no shuffle, and the
    # write alone is one job
    assert len(jobs) <= RUN_MODULE_JOB_BUDGET, stages
    expected = sum(1 for r in ROWS if r["userId"] > 3)
    con = duckdb.connect(duck_path)
    landed = con.execute("SELECT count(*) FROM budget_posts").fetchone()[0]
    con.close()
    assert landed == stats.rows_written == expected

def test_incremental_sync_high_watermark(spark, tmp_path):
    """Second run fetches only rows past the watermark; warehouse converges
    (reference roadmap: incremental sync state management)."""
    import json as _json

    rows = [{"id": i, "seq": i, "v": f"v{i}"} for i in range(20)]
    api2 = MockApi(rows)
    base = api2.start()
    try:
        duck_path = os.path.join(tmp_path, "incr.duckdb")
        state_path = os.path.join(tmp_path, "state.json")
        sql_dir = tmp_path / "isql"
        sql_dir.mkdir()
        (sql_dir / "sync.sql").write_text(
            "{{ sink(name='incr_rows') }}SELECT id, seq, v FROM {{ use_source('incr') }}"
        )
        cfg = tmp_path / "incr.yaml"
        cfg.write_text(
            f"""
sources:
  - name: incr
    url: {base}/incr
    pagination: {{type: limit_offset, limit: 8}}
    primary_key_in_dest: id
    incremental: {{cursor_field: seq, cursor_param: since}}
targets:
  - name: wh
    kind: duckdb
    path: {duck_path}
"""
        )
        run_pipeline(spark, str(sql_dir), str(cfg), state_path=state_path)
        st = _json.load(open(state_path))
        assert st["incr"]["last_value"] == 19

        api2.rows.extend({"id": i, "seq": i, "v": f"v{i}"} for i in range(20, 27))
        api2.request_count = 0
        run_pipeline(spark, str(sql_dir), str(cfg), state_path=state_path)
        assert _json.load(open(state_path))["incr"]["last_value"] == 26
        # delta fetch: 7 fresh rows at limit 8 → page0(7 rows)+empty-check,
        # far fewer requests than a full resync
        assert api2.request_count <= 4

        con = duckdb.connect(duck_path)
        assert con.execute("SELECT count(*), max(seq) FROM incr_rows").fetchone() == (27, 26)
        con.close()
    finally:
        api2.stop()


def _pg_reachable() -> bool:
    import socket

    try:
        socket.create_connection(("127.0.0.1", 54329), timeout=0.5).close()
        return True
    except OSError:
        return False


@pytest.mark.skipif(
    not _pg_reachable(),
    reason="live-Postgres pipeline e2e: run `sh tools/pg_local.sh start`",
)
def test_run_pipeline_end_to_end_live_postgres(
    spark, tmp_path, api, modules_dir, monkeypatch
):
    """The full DSL path — HTTP source → SQL modules → MERGE — against a
    real PostgreSQL through the pgwire fallback (no psycopg installed),
    idempotent on re-run."""
    monkeypatch.setenv("APITAP_PG_USER", "postgres")
    monkeypatch.setenv("APITAP_PG_PASS", "trust")
    cfg = tmp_path / "pipelines_pg.yaml"
    cfg.write_text(
        f"""
sources:
  - name: posts
    url: {api.base}/limit_offset
    pagination: {{type: limit_offset, limit: 10}}
    dest_table: posts_raw
    primary_key_in_dest: id
targets:
  - name: wh
    kind: postgres
    host: 127.0.0.1
    port: 54329
    database: postgres
    username_env: APITAP_PG_USER
    password_env: APITAP_PG_PASS
"""
    )
    from apitap_spark.sinks import pgwire

    conn = pgwire.connect(
        "host=127.0.0.1 port=54329 user=postgres dbname=postgres"
    )
    cur = conn.cursor()
    for t in ("user_posts", "all_posts"):
        cur.execute(f"DROP TABLE IF EXISTS {t}")
    conn.commit()
    try:
        expected = sum(1 for r in ROWS if r["userId"] > 3)
        for _ in range(2):  # second run proves merge idempotence
            stats = run_pipeline(spark, modules_dir, str(cfg))
            by_module = {s.module: s for s in stats}
            assert by_module["transform.sql"].rows_written == expected
            cur.execute("SELECT COUNT(*) FROM user_posts")
            assert cur.fetchone() == (expected,)
            cur.execute("SELECT COUNT(*) FROM all_posts")
            assert cur.fetchone() == (len(ROWS),)
            conn.rollback()  # release read locks before the next run
    finally:
        for t in ("user_posts", "all_posts"):
            cur.execute(f"DROP TABLE IF EXISTS {t}")
        conn.commit()
        conn.close()


def test_postgres_source_config_validation():
    """postgres-kind sources need table + dsn/dsn_env; http still needs
    url; unknown kinds are rejected (offline — no server involved)."""
    import pytest as _pytest

    from apitap_spark.config.models import ConfigError, SourceConfig

    sc = SourceConfig.from_dict(
        {
            "name": "wh",
            "kind": "postgres",
            "dsn": "host=h user=u",
            "table": "t",
            "partition_column": "id",
            "num_partitions": 7,
        }
    )
    assert sc.kind == "postgres" and sc.num_partitions == 7
    assert sc.resolved_dsn() == "host=h user=u"
    with _pytest.raises(ConfigError, match="requires table"):
        SourceConfig.from_dict({"name": "x", "kind": "postgres", "dsn": "d"})
    with _pytest.raises(ConfigError, match="requires dsn"):
        SourceConfig.from_dict({"name": "x", "kind": "postgres", "table": "t"})
    with _pytest.raises(ConfigError, match="unknown kind"):
        SourceConfig.from_dict({"name": "x", "kind": "mysql", "table": "t"})
    with _pytest.raises(ConfigError, match="requires a url"):
        SourceConfig.from_dict({"name": "x"})
    # env indirection mirrors target credentials
    import os as _os

    sc2 = SourceConfig.from_dict(
        {"name": "wh2", "kind": "postgres", "dsn_env": "APITAP_TEST_DSN_X", "table": "t"}
    )
    with _pytest.raises(ConfigError, match="not set"):
        sc2.resolved_dsn()
    _os.environ["APITAP_TEST_DSN_X"] = "host=z"
    try:
        assert sc2.resolved_dsn() == "host=z"
    finally:
        del _os.environ["APITAP_TEST_DSN_X"]
    # a postgres source never impersonates the http path
    with _pytest.raises(ConfigError, match="not http"):
        sc.to_http_source()


def test_incremental_fence_config_parsing():
    """incremental: block accepts the streaming late-commit fences —
    cursor_slack (numeric/interval string) XOR xmin_fence — and rejects
    setting both, since they are alternative visibility protocols."""
    import pytest as _pytest

    from apitap_spark.config.models import ConfigError, SourceConfig

    base = {
        "name": "wh",
        "kind": "postgres",
        "dsn": "host=h",
        "table": "t",
    }
    sc = SourceConfig.from_dict(
        {**base, "incremental": {"cursor_field": "id", "cursor_slack": 3}}
    )
    assert sc.incremental.cursor_slack == "3"  # normalized to str
    assert sc.incremental.xmin_fence is False
    sc2 = SourceConfig.from_dict(
        {**base, "incremental": {"cursor_field": "ts",
                                 "cursor_slack": "5 minutes"}}
    )
    assert sc2.incremental.cursor_slack == "5 minutes"
    sc3 = SourceConfig.from_dict(
        {**base, "incremental": {"cursor_field": "id", "xmin_fence": True}}
    )
    assert sc3.incremental.xmin_fence is True
    assert sc3.incremental.cursor_slack is None
    # defaults: no fence unless asked
    sc4 = SourceConfig.from_dict(
        {**base, "incremental": {"cursor_field": "id"}}
    )
    assert sc4.incremental.cursor_slack is None
    assert sc4.incremental.xmin_fence is False
    # string-aware truthiness (a templating layer may stringify):
    # "false" must NOT enable the fence — nor trip the conflict check
    sc5 = SourceConfig.from_dict(
        {**base, "incremental": {"cursor_field": "id",
                                 "xmin_fence": "false",
                                 "cursor_slack": 3}}
    )
    assert sc5.incremental.xmin_fence is False
    assert sc5.incremental.cursor_slack == "3"
    sc6 = SourceConfig.from_dict(
        {**base, "incremental": {"cursor_field": "id",
                                 "xmin_fence": "true"}}
    )
    assert sc6.incremental.xmin_fence is True
    # an unrecognized value must RAISE, not silently disable the loss
    # protection the user asked for
    with _pytest.raises(ConfigError, match="must be a boolean"):
        SourceConfig.from_dict(
            {**base, "incremental": {"cursor_field": "id",
                                     "xmin_fence": "on"}}
        )
    with _pytest.raises(ConfigError, match="alternative fences"):
        SourceConfig.from_dict(
            {**base, "incremental": {"cursor_field": "id",
                                     "cursor_slack": 3,
                                     "xmin_fence": True}}
        )
