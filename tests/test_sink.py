"""Merge sink tests: SQL shapes (unit), version dispatch, and real
upsert/append/overwrite semantics against a DuckDB stand-in database."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import types as T

from apitap_spark.sinks.jdbc_merge import (
    DuckDbDialect,
    JdbcMergeWriter,
    PostgresDialect,
    WriteMode,
    _bind_value,
    ddl_for_schema,
    insert_sql,
    merge_sql,
    pg_type_for,
    quote_ident,
    quote_ident_path,
    rows_per_statement,
    upsert_sql,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)


# ---- S20 quoting -----------------------------------------------------------
def test_quote_ident_escapes():
    assert quote_ident('we"ird') == '"we""ird"'
    assert quote_ident("plain") == '"plain"'


def test_quote_ident_path():
    assert quote_ident_path("public.events") == '"public"."events"'


# ---- type lattice ----------------------------------------------------------
def test_pg_types():
    assert pg_type_for(T.LongType()) == "BIGINT"
    assert pg_type_for(T.IntegerType()) == "BIGINT"
    assert pg_type_for(T.DoubleType()) == "DOUBLE PRECISION"
    assert pg_type_for(T.BooleanType()) == "BOOLEAN"
    assert pg_type_for(T.StringType()) == "TEXT"
    assert pg_type_for(T.ArrayType(T.LongType())) == "JSONB"
    assert pg_type_for(T.StructType([])) == "JSONB"
    assert pg_type_for(T.TimestampType()) == "TIMESTAMP"
    assert pg_type_for(T.DecimalType(18, 2)) == "NUMERIC(18,2)"


def test_ddl_with_pk():
    ddl = ddl_for_schema("t", SCHEMA, "id")
    assert ddl.startswith('CREATE TABLE IF NOT EXISTS "t" (')
    assert '"id" BIGINT' in ddl and '"tags" JSONB' in ddl
    assert 'PRIMARY KEY ("id")' in ddl


# ---- statement shapes ------------------------------------------------------
def test_insert_sql_shape():
    sql = insert_sql(PostgresDialect(), "t", ["a", "b"], 2)
    assert sql == 'INSERT INTO "t" ("a", "b") VALUES (%s, %s), (%s, %s)'


def test_upsert_sql_shape():
    sql = upsert_sql(PostgresDialect(), "t", ["id", "v"], ["id"], 1)
    assert 'ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v"' in sql


def test_upsert_all_pk_do_nothing():
    sql = upsert_sql(PostgresDialect(), "t", ["id"], ["id"], 1)
    assert sql.endswith('ON CONFLICT ("id") DO NOTHING')


def test_merge_sql_shape():
    sql = merge_sql(PostgresDialect(), "s.t", ["id", "v"], ["id"], 2)
    assert sql.startswith('MERGE INTO "s"."t" AS t USING (VALUES (%s, %s), (%s, %s))')
    assert 'ON t."id" = s."id"' in sql
    assert 'WHEN MATCHED THEN UPDATE SET "v" = s."v"' in sql
    assert 'WHEN NOT MATCHED THEN INSERT ("id", "v") VALUES (s."id", s."v")' in sql


def test_stage_sql_shapes():
    """COPY-staged upsert builders: typed temp stage (ON COMMIT DROP),
    MERGE-from-stage for PG 15+, INSERT..ON CONFLICT-from-stage for
    9.5-14 — no per-placeholder CASTs needed because the stage columns
    carry the types."""
    from apitap_spark.sinks.jdbc_merge import (
        merge_from_stage_sql,
        stage_ddl,
        stage_table_name,
        upsert_from_stage_sql,
    )

    assert stage_table_name("s.t") == "_apitap_stage_t"
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.ArrayType(T.LongType())),
        ]
    )
    ddl = stage_ddl(PostgresDialect(), "_apitap_stage_t", schema)
    assert ddl.startswith('CREATE TEMP TABLE IF NOT EXISTS "_apitap_stage_t"')
    assert '"id" BIGINT' in ddl and '"payload" JSONB' in ddl
    assert ddl.endswith("ON COMMIT DROP")
    m = merge_from_stage_sql("s.t", "_apitap_stage_t", ["id", "v"], ["id"])
    assert m.startswith('MERGE INTO "s"."t" AS t USING "_apitap_stage_t" AS s')
    assert 'ON t."id" = s."id"' in m
    assert 'WHEN MATCHED THEN UPDATE SET "v" = s."v"' in m
    assert "%s" not in m and "VALUES (s." in m
    u = upsert_from_stage_sql("t", "_apitap_stage_t", ["id", "v"], ["id"])
    assert u.startswith('INSERT INTO "t" ("id", "v") SELECT "id", "v" FROM')
    assert 'ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v"' in u
    u2 = upsert_from_stage_sql("t", "_apitap_stage_t", ["id"], ["id"])
    assert u2.endswith('ON CONFLICT ("id") DO NOTHING')


def test_param_limit_chunking():
    assert rows_per_statement(13, 5000) == 5000  # 65000 binds OK
    assert rows_per_statement(14, 5000) == 65535 // 14  # capped
    assert rows_per_statement(100000, 5000) == 1


# ---- S17 version dispatch --------------------------------------------------
class FakeConn:
    def __init__(self, version_text):
        self.version_text = version_text

    def cursor(self):
        conn = self

        class Cur:
            def execute(self, sql, params=None):
                assert "version" in sql

            def fetchone(self):
                return (conn.version_text,)

        return Cur()


@pytest.mark.parametrize(
    "text,expected",
    [
        ("PostgreSQL 15.2 on x86_64-pc-linux-gnu", (15, 2)),
        ("PostgreSQL 9.6.24", (9, 6)),
        ("PostgreSQL 16beta1", (16, 0)),
        ("SomethingElse 1.0", (0, 0)),
    ],
)
def test_pg_version_parse(text, expected):
    assert PostgresDialect().server_version(FakeConn(text)) == expected


def test_version_gates():
    d = PostgresDialect()
    assert d.supports_merge((15, 0)) and not d.supports_merge((14, 9))
    assert d.supports_on_conflict((9, 5)) and not d.supports_on_conflict((9, 4))


def test_statement_routing_unsupported():
    w = JdbcMergeWriter(lambda: None, "t", mode=WriteMode.MERGE, primary_key="id")
    with pytest.raises(RuntimeError, match="neither MERGE nor ON CONFLICT"):
        w._statement(2, ["id", "v"], (9, 4), 1)


def test_merge_requires_pk():
    with pytest.raises(ValueError, match="primary key"):
        JdbcMergeWriter(lambda: None, "t", mode=WriteMode.MERGE)


# ---- semantics against DuckDB ---------------------------------------------
@pytest.fixture
def duck_path(tmp_path):
    return os.path.join(tmp_path, "sink.duckdb")


def _factory(path):
    def connect():
        return duckdb.connect(path)

    return connect


def _writer(path, mode, **kw):
    return JdbcMergeWriter(
        _factory(path),
        "target",
        dialect=DuckDbDialect(),
        mode=mode,
        **kw,
    )


def test_merge_upsert_semantics(spark, duck_path):
    """Second write with same PKs updates instead of duplicating (S15/S16)."""
    w = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    df1 = spark.createDataFrame(
        [(1, "a", 1.0, ["x"]), (2, "b", 2.0, ["y"])], SCHEMA
    ).coalesce(1)
    w.write(df1)
    df2 = spark.createDataFrame(
        [(2, "B!", 20.0, ["y2"]), (3, "c", 3.0, None)], SCHEMA
    ).coalesce(1)
    w.write(df2)
    rows = duckdb.connect(duck_path).execute(
        "SELECT id, name, score, tags FROM target ORDER BY id"
    ).fetchall()
    assert rows == [
        (1, "a", 1.0, '["x"]'),
        (2, "B!", 20.0, '["y2"]'),
        (3, "c", 3.0, None),
    ]


def test_append_duplicates(spark, duck_path):
    w = _writer(duck_path, WriteMode.APPEND)
    df = spark.createDataFrame([(1, "a", 1.0, None)], SCHEMA).coalesce(1)
    w.write(df)
    w.write(df)
    n = duckdb.connect(duck_path).execute("SELECT count(*) FROM target").fetchone()[0]
    assert n == 2


def test_overwrite_truncates(spark, duck_path):
    w = _writer(duck_path, WriteMode.APPEND)
    w.write(spark.createDataFrame([(1, "a", 1.0, None)], SCHEMA).coalesce(1))
    w2 = _writer(duck_path, WriteMode.OVERWRITE)
    w2.write(spark.createDataFrame([(9, "z", 9.0, None)], SCHEMA).coalesce(1))
    rows = duckdb.connect(duck_path).execute("SELECT id FROM target").fetchall()
    assert rows == [(9,)]


def test_write_rows_driver_side(duck_path):
    """write_rows works without Spark (library surface, reference entry 3.3)."""
    w = _writer(duck_path, WriteMode.MERGE, primary_key="id", batch_size=1)
    w.prepare(SCHEMA)
    n = w.write_rows([(1, "a", 1.0, None), (1, "a2", 2.0, None)], SCHEMA)
    w.prepare(SCHEMA)  # idempotent ensure_table
    assert n == 2
    rows = duckdb.connect(duck_path).execute("SELECT id, name FROM target").fetchall()
    assert rows == [(1, "a2")]  # second statement upserted over the first


def test_postgres_copy_bulk_append_shape():
    """COPY append path: SQL + CSV payload shape via a fake copy_expert
    cursor (:class:`CopyConn`)."""
    conn = CopyConn()
    w = JdbcMergeWriter(
        lambda: conn, "public.t", dialect=PostgresDialect(), mode=WriteMode.APPEND
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    assert w.write_rows([(1, "a"), (2, None), (3, 'q"x')], schema) == 3
    [(sql, data)] = conn.copies
    assert sql.startswith('COPY "public"."t" ("id", "name") FROM STDIN')
    assert "NULL ''" in sql
    # strings are ALWAYS quoted: with NULL '' an unquoted empty field is
    # NULL, so only quoting keeps '' distinct from NULL (found live on
    # PG 15 — csv.writer's minimal quoting silently nulled empty strings)
    assert data.decode().splitlines() == [
        '1,"a"',
        "2,",  # None → unquoted empty = NULL
        '3,"q""x"',  # escaped quote
    ]
    # the live-semantics cases: empty string stays quoted, bytes → bytea
    conn.copies.clear()
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("b", T.BinaryType()),
        ]
    )
    w.write_rows([(1, "", b"\x00\xff")], schema)
    [(_, data)] = conn.copies
    assert data.decode() == '1,"","\\x00ff"\n'


def test_duckdb_bulk_append_used_for_append(spark, duck_path):
    """Append mode routes through the registered-DataFrame bulk path and
    results match."""
    w = _writer(duck_path, WriteMode.APPEND, batch_size=2)
    w.prepare(SCHEMA)
    n = w.write_rows([(i, f"n{i}", float(i), None) for i in range(7)], SCHEMA)
    assert n == 7
    got = duckdb.connect(duck_path).execute(
        "SELECT count(*), sum(id) FROM target"
    ).fetchone()
    assert got == (7, 21)


def test_schema_evolution_adds_columns(spark, duck_path):
    """New DataFrame columns evolve the live table additively; old rows
    null-fill (reference has no schema evolution, README.md:125)."""
    w1 = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    s1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    w1.prepare(s1)
    w1.write_rows([(1, "a"), (2, "b")], s1)

    s2 = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    w2 = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    w2.prepare(s2)  # evolves: ADD COLUMN score
    w2.write_rows([(2, "B", 2.5), (3, "c", 3.5)], s2)

    rows = duckdb.connect(duck_path).execute(
        "SELECT id, name, score FROM target ORDER BY id"
    ).fetchall()
    assert rows == [(1, "a", None), (2, "B", 2.5), (3, "c", 3.5)]


def test_clickhouse_dialect_shapes():
    """ClickHouse: ReplacingMergeTree DDL, merge routed to plain INSERT."""
    from apitap_spark.sinks.jdbc_merge import ClickHouseDialect

    d = ClickHouseDialect()
    ddl = ddl_for_schema("t", SCHEMA, "id", dialect=d)
    assert '"id" Int64' in ddl and '"score" Float64' in ddl and '"name" String' in ddl
    assert "PRIMARY KEY" not in ddl
    assert ddl.endswith('ENGINE = ReplacingMergeTree ORDER BY ("id")')
    w = JdbcMergeWriter(lambda: None, "t", dialect=d, mode=WriteMode.MERGE, primary_key="id")
    sql = w._statement(2, ["id", "v"], (0, 0), 2)
    assert sql.startswith('INSERT INTO "t"')  # engine dedups, not the writer


def test_bigquery_dialect_shapes():
    """BigQuery: standard-SQL MERGE, CLUSTER BY instead of PK."""
    from apitap_spark.sinks.jdbc_merge import BigQueryDialect

    d = BigQueryDialect()
    ddl = ddl_for_schema("ds.t", SCHEMA, "id", dialect=d)
    assert '"id" INT64' in ddl and '"tags" JSON' in ddl
    assert "PRIMARY KEY" not in ddl
    assert ddl.endswith('CLUSTER BY "id"')
    w = JdbcMergeWriter(lambda: None, "ds.t", dialect=d, mode=WriteMode.MERGE, primary_key="id")
    sql = w._statement(2, ["id", "v"], d.server_version(None), 1)
    assert sql.startswith('MERGE INTO "ds"."t"')


def test_merge_dedups_pks_within_statement(spark, duck_path):
    """Repeated PKs inside one merge statement must not crash the engine
    ("command cannot affect row a second time"); last row wins — the same
    outcome the rows would produce applied one by one (CDC increments)."""
    w = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    df = spark.createDataFrame(
        [(1, "a", 1.0, None), (2, "b", 2.0, None), (1, "a2", 10.0, None)],
        SCHEMA,
    ).coalesce(1)
    w.write(df)
    rows = duckdb.connect(duck_path).execute(
        "SELECT id, name, score FROM target ORDER BY id"
    ).fetchall()
    assert rows == [(1, "a2", 10.0), (2, "b", 2.0)]


def test_existing_columns_schema_qualified(duck_path):
    """Schema evolution must look only at the target's own schema — a
    same-named table elsewhere must not mask missing columns."""
    con = duckdb.connect(duck_path)
    con.execute("CREATE SCHEMA other")
    # decoy with the full column set in ANOTHER schema
    con.execute("CREATE TABLE other.target (id BIGINT, name TEXT, score DOUBLE, tags JSON, extra TEXT)")
    con.close()
    w = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    w.prepare(SCHEMA)  # creates main.target without "extra"
    import pyspark.sql.types as T

    wider = T.StructType(SCHEMA.fields + [T.StructField("extra", T.StringType())])
    w.prepare(wider)  # must ALTER main.target despite the decoy
    cols = {
        r[0]
        for r in duckdb.connect(duck_path).execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name='target' AND table_schema='main'"
        ).fetchall()
    }
    assert "extra" in cols


# ---- partition bodies: edge values ---------------------------------------
# Shared with test_sink_postgres.py, which sends the same rows through the
# COPY-rendered CSV path on a live server.
EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("r", T.FloatType()),
        T.StructField("amount", T.DecimalType(12, 3)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ok", T.BooleanType()),
    ]
)
_DAY = dt.date(2024, 2, 29)
_TS = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
EDGE_ROWS = [
    (1, None, float("nan"), 0.1, Decimal("1.500"), _DAY, _TS, True),
    (2, "", float("inf"), None, None, None, None, None),
    (3, 'quo"te, comma', float("-inf"), float("nan"), Decimal("-0.001"), _DAY, _TS, False),
    (4, "line\nbreak\\back\\slash", 2.5, 1.5, Decimal("123456789.125"), _DAY, _TS, True),
    (5, "ünïcödé ✓ 日本", -0.0, -2.0, Decimal("0.000"), _DAY, _TS, False),
    # duplicate PK in the same partition: the last one wins
    (1, "last wins", 1.25, 3.0, Decimal("9.999"), dt.date(1999, 12, 31),
     dt.datetime(1999, 12, 31, 23, 59, 59), False),
]


def edge_expected() -> list[tuple]:
    """Target rows after one MERGE of EDGE_ROWS: the last row per id, NaN
    and ±inf as NULL, and the float32 column widened as a Row carries it."""
    import numpy as np

    def bound(i, v):
        if isinstance(v, float) and not math.isfinite(v):
            return None
        if i == 3 and v is not None:
            return float(np.float32(v))
        return v

    last = {r[0]: tuple(bound(i, v) for i, v in enumerate(r)) for r in EDGE_ROWS}
    return [last[k] for k in sorted(last)]


NESTED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField(
            "meta",
            T.StructType(
                [T.StructField("k", T.StringType()), T.StructField("n", T.LongType())]
            ),
        ),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
    ]
)
NESTED_ROWS = [
    (1, ["a", 'q"x', "b\\s"], ("v", 7), {"x": 1.5}),
    (2, [], None, {}),
    (3, None, ("", None), None),
]
# what the row path has always bound for NESTED_ROWS (json.dumps of dicts);
# ASCII only: jsonb rejects \u escapes above 007F in a non-UTF8 database
NESTED_JSON = {
    1: (json.dumps(["a", 'q"x', "b\\s"]), json.dumps({"k": "v", "n": 7}), json.dumps({"x": 1.5})),
    2: ("[]", None, "{}"),
    3: (None, json.dumps({"k": "", "n": None}), None),
}


def test_edge_values_merge_duckdb(spark, duck_path):
    """The row partition body: NULL vs '', NaN/±inf as NULL, awkward
    text, decimal/date/timestamp/bool, last-wins PK dedup, and
    rows_written counting the input rows before dedup."""
    w = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    assert w.write(spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA)) == len(EDGE_ROWS)
    assert w.rows_written == len(EDGE_ROWS)
    got = duckdb.connect(duck_path).execute(
        "SELECT * FROM target ORDER BY id"
    ).fetchall()
    assert got == edge_expected()


def test_nested_columns_land_as_row_path_json_duckdb(spark, duck_path):
    w = _writer(duck_path, WriteMode.MERGE, primary_key="id")
    w.write(spark.createDataFrame(NESTED_ROWS, NESTED_SCHEMA))
    got = duckdb.connect(duck_path).execute(
        "SELECT id, tags, meta, attrs FROM target ORDER BY id"
    ).fetchall()
    assert {r[0]: r[1:] for r in got} == NESTED_JSON
    meta = NESTED_SCHEMA["meta"].dataType
    assert _bind_value({"k": "v", "n": 7}, meta, DuckDbDialect()) == NESTED_JSON[1][1]


class CopyConn:
    """DB-API stand-in for a PostgreSQL 15 connection with COPY: records
    statements, COPY payloads and how each transaction ended."""

    def __init__(self, fail_copy: bool = False):
        self.sql: list = []
        self.copies: list = []
        self.ends: list = []
        self.fail_copy = fail_copy

    def cursor(self):
        conn = self

        class Cur:
            def execute(self, sql, params=None):
                conn.sql.append(sql)

            def fetchone(self):
                return ("PostgreSQL 15.4",)

            def copy_expert(self, sql, f):
                if conn.fail_copy:
                    raise RuntimeError("connection lost mid-COPY")
                conn.copies.append((sql, f.read()))

        return Cur()

    def commit(self):
        self.ends.append("commit")

    def rollback(self):
        self.ends.append("rollback")

    def close(self):
        pass


COPY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


_UTC = dt.timezone.utc
# the first and last share one New York wall-clock time (the DST fold);
# the third is the last second before the spring-forward gap
_COPY_TS = [
    dt.datetime(2024, 11, 3, 5, 30, 0, 250000, tzinfo=_UTC),
    None,
    dt.datetime(2024, 3, 10, 6, 59, 59, 500000, tzinfo=_UTC),
    dt.datetime(2024, 11, 3, 6, 30, 0, 250000, tzinfo=_UTC),
]


def _micros(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1, tzinfo=_UTC)) // dt.timedelta(microseconds=1)


def _copy_batch():
    """One Arrow batch as mapInArrow hands it over: session timestamps
    arrive zoned (UTC instants)."""
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {
            "id": pa.array([1, 2, 3, 1], pa.int64()),
            "s": pa.array([None, "", 'q"x,y', "a\nb\\c"]),
            "f": pa.array([float("nan"), float("inf"), 1.5, 2.0]),
            "ts": pa.array(_COPY_TS, pa.timestamp("us", tz="UTC")),
        }
    )


def _driver_route(w, schema=COPY_SCHEMA):
    """The COPY route ``w.prepare`` returns on the driver, computed over a
    connection of its own so the partition body's records stay separate."""
    import copy

    driver = copy.copy(w)
    driver.conn_factory = CopyConn
    return driver.prepare(schema)[1]


@pytest.fixture(params=["UTC", "America/New_York"])
def local_tz(request, monkeypatch):
    """Run under a process time zone; restored (and re-read) afterwards."""
    import time

    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def test_copy_body_renders_csv_and_dedups_last_wins(local_tz):
    """The COPY partition body: pyarrow CSV into the stage with '' quoted
    and NULL bare, NaN/inf as NULL, the duplicate PK deduplicated to its
    last row, then one MERGE and one commit; returns the input row count.
    Timestamps land as the local wall-clock time the row path bound
    (``TimestampType.fromInternal``), including both sides of a DST
    change when the process zone has one."""
    conn = CopyConn()
    w = JdbcMergeWriter(
        lambda: conn, "public.t", dialect=PostgresDialect(),
        mode=WriteMode.MERGE, primary_key="id",
    )
    route = _driver_route(w)
    assert w.write_batches(iter([_copy_batch()]), COPY_SCHEMA, route) == 4
    [(sql, data)] = conn.copies
    assert sql.startswith('COPY "_apitap_stage_t" ("id", "s", "f", "ts") FROM STDIN')
    as_row = [
        None if t is None else T.TimestampType().fromInternal(_micros(t))
        for t in _COPY_TS
    ]
    assert data.decode() == (
        '2,"",,\n'
        f'3,"q""x,y",1.5,{as_row[2]}\n'
        f'1,"a\nb\\c",2,{as_row[3]}\n'
    )
    if local_tz != "UTC":
        # the two instants an hour apart share one local wall-clock time
        assert as_row[3] == as_row[0]
    assert any(q.startswith('MERGE INTO "public"."t"') for q in conn.sql)
    assert conn.ends == ["commit"]
    # the route came from the driver: the partition never re-probes
    assert "SELECT version()" not in conn.sql


def test_copy_body_append_copies_into_target_without_dedup():
    conn = CopyConn()
    w = JdbcMergeWriter(
        lambda: conn, "t", dialect=PostgresDialect(), mode=WriteMode.APPEND
    )
    assert (
        w.write_batches(iter([_copy_batch()] * 2), COPY_SCHEMA, _driver_route(w))
        == 8
    )
    [(sql, data)] = conn.copies
    assert sql.startswith('COPY "t" ')
    assert data.count(b"\n") == 10  # 8 row ends + 2 embedded newlines
    assert not any("MERGE" in q for q in conn.sql)


def test_copy_body_failure_rolls_back():
    conn = CopyConn(fail_copy=True)
    w = JdbcMergeWriter(
        lambda: conn, "t", dialect=PostgresDialect(),
        mode=WriteMode.MERGE, primary_key="id",
    )
    with pytest.raises(RuntimeError, match="mid-COPY"):
        w.write_batches(iter([_copy_batch()]), COPY_SCHEMA, _driver_route(w))
    assert conn.ends == ["rollback"]


def test_empty_partition_opens_no_connection():
    def refuse():
        raise AssertionError("connected for an empty partition")

    w = JdbcMergeWriter(refuse, "t", mode=WriteMode.MERGE, primary_key="id")
    assert w.write_batches(iter([]), COPY_SCHEMA, _driver_route(w)) == 0


class LoggedPgConn:
    """A PostgreSQL 15 stand-in without COPY (so writes take the row
    path) that appends every statement to a file: the log reaches the
    test from the driver and from the executors' Python workers alike.
    Picklable, so an instance is its own connection factory."""

    def __init__(self, log: str):
        self.log = log

    def __call__(self):
        return self

    def cursor(self):
        conn = self

        class Cur:
            def execute(self, sql, params=None):
                with open(conn.log, "a") as fh:
                    fh.write(sql.replace("\n", " ") + "\n")

            def fetchone(self):
                return ("PostgreSQL 15.4",)

            def fetchall(self):
                return []

        return Cur()

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


def test_row_partitions_take_the_driver_server_version(spark, tmp_path):
    """``write()`` probes the server once, in ``prepare()`` on the driver;
    its row partitions send no ``SELECT version()`` of their own, while
    ``write_rows`` called directly still probes."""
    log = str(tmp_path / "sql.log")
    w = JdbcMergeWriter(
        LoggedPgConn(log), "t", dialect=PostgresDialect(),
        mode=WriteMode.MERGE, primary_key="id",
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )
    df = spark.createDataFrame([(i, f"s{i}") for i in range(12)], schema)
    assert w.write(df.repartition(3)) == 12
    with open(log) as fh:
        sent = fh.read().splitlines()
    assert sent.count("SELECT version()") == 1
    assert sum(q.startswith('MERGE INTO "t"') for q in sent) >= 1
    assert w.write_rows([(1, "a")], schema) == 1
    with open(log) as fh:
        assert fh.read().splitlines().count("SELECT version()") == 2


def test_nested_and_binary_columns_render_into_copy_csv():
    """Array, struct and map columns reach the COPY stage as the row
    path's JSON text (``_bind_value``), binary as the bytea hex form."""
    import csv
    import io

    schema = T.StructType(
        NESTED_SCHEMA.fields + [T.StructField("blob", T.BinaryType())]
    )
    blobs = {1: b"\x00\xff", 2: b"", 3: None}
    conn = CopyConn()
    w = JdbcMergeWriter(
        lambda: conn, "t", dialect=PostgresDialect(),
        mode=WriteMode.MERGE, primary_key="id",
    )
    assert w.write_rows([r + (blobs[r[0]],) for r in NESTED_ROWS], schema) == 3
    [(_, data)] = conn.copies
    got = {
        int(r[0]): tuple(v or None for v in r[1:])
        for r in csv.reader(io.StringIO(data.decode()))
    }
    hex_ = {1: "\\x00ff", 2: "\\x", 3: None}
    assert got == {k: v + (hex_[k],) for k, v in NESTED_JSON.items()}


def test_copy_json_matches_row_path_json(spark):
    """Every complex column COPY renders from a mapInArrow batch equals the
    JSON ``_bind_value`` makes of the collected Row value, quirks included
    (structs below an array or map dump as JSON arrays), across nesting,
    maps, timestamps, decimals, dates and float32."""
    df = spark.sql(
        """SELECT
        array(named_struct('k', 'a', 'n', 1L,
              'ts', TIMESTAMP'2024-11-03 06:30:00.25'), NULL) AS a,
        map('x', named_struct('d', DATE'2024-02-29', 'x', 1.5D), 'y', NULL) AS m,
        named_struct(
            'inner', array(named_struct('q', CAST(1.5 AS DECIMAL(5,2)))),
            'mm', map(1, 'one'), 't', TIMESTAMP'2024-03-10 06:59:59.5',
            'ntz', TIMESTAMP_NTZ'2024-01-01 00:00:00', 'b', X'00FF',
            'f', CAST(0.1 AS FLOAT)) AS s,
        array(array(1L, NULL), array()) AS aa,
        map('k', array(named_struct('z', 1))) AS ma"""
    )
    schema = df.schema

    def render(batches):
        import pyarrow as pa

        from apitap_spark.sinks.jdbc_merge import _csv_table

        for b in batches:
            yield from _csv_table(pa.Table.from_batches([b]), schema).to_batches()

    [got] = df.mapInArrow(render, ", ".join(f"{n} string" for n in schema.names)).collect()
    [row] = df.collect()
    want = [_bind_value(v, f.dataType, PostgresDialect()) for v, f in zip(row, schema)]
    assert list(got) == want
    assert want[0].startswith('[["a", 1, "2024-11-03T')  # a struct as a list
