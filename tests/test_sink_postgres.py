"""OPTIONAL live-Postgres integration test for the merge sink.

The DuckDB stand-in in test_sink.py proves the SQL shapes; this module
proves them against the real dialect the reference targets
(/root/reference/src/writer/postgres.rs) when a server is available.

Auto-skips unless BOTH hold:
  * a Postgres DB-API driver is importable (psycopg 3 or psycopg2), and
  * $APITAP_PG_DSN is set (e.g. "host=localhost dbname=test user=test
    password=test").

Run it like:
    docker run -d -e POSTGRES_PASSWORD=t -p 5432:5432 postgres:16
    APITAP_PG_DSN="host=localhost user=postgres password=t" \
        python -m pytest tests/test_sink_postgres.py -q

Neither the driver nor a server exists in the build sandbox, so CI
records these as skipped — by design, not failure.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from apitap_spark.sinks.jdbc_merge import (
    JdbcMergeWriter,
    PostgresDialect,
    WriteMode,
)

DSN = os.environ.get("APITAP_PG_DSN")


def _driver():
    try:
        import psycopg  # noqa: F401  (psycopg 3)

        return lambda: psycopg.connect(DSN)
    except ImportError:
        try:
            import psycopg2  # noqa: F401

            return lambda: psycopg2.connect(DSN)
        except ImportError:
            # dependency-free fallback: our own protocol-v3 client —
            # enough DB-API surface for the sink and these tests
            from apitap_spark.sinks import pgwire

            return lambda: pgwire.connect(DSN)


_factory = _driver() if DSN else None

pytestmark = pytest.mark.skipif(
    _factory is None,
    reason="live-Postgres test: set APITAP_PG_DSN and install psycopg[2]",
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

TABLE = "apitap_pg_it_sink"


@pytest.fixture()
def pg_conn():
    conn = _factory()
    yield conn
    try:
        cur = conn.cursor()
        cur.execute(f"DROP TABLE IF EXISTS {TABLE}")
        conn.commit()
    finally:
        conn.close()


def test_version_dispatch_against_live_server(pg_conn):
    """server_version parses the live server; MERGE support implies >=15."""
    d = PostgresDialect()
    ver = d.server_version(pg_conn)
    assert ver >= (9, 5)
    assert d.supports_merge(ver) == (ver >= (15, 0))
    assert d.supports_on_conflict(ver)


def test_merge_upsert_is_idempotent_on_live_postgres(spark, pg_conn):
    """prepare + two merge writes: second write updates, never duplicates —
    the real-dialect proof of S13/S15/S16/S17."""
    df1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    df2 = spark.createDataFrame([(2, "b2", 2.5), (3, "c", 3.0)], SCHEMA)
    writer = JdbcMergeWriter(
        _factory,
        TABLE,
        dialect=PostgresDialect(),
        mode=WriteMode.MERGE,
        primary_key="id",
    )
    writer.write(df1)
    writer.write(df2)
    cur = pg_conn.cursor()
    cur.execute(f"SELECT id, name, score FROM {TABLE} ORDER BY id")
    assert cur.fetchall() == [(1, "a", 1.0), (2, "b2", 2.5), (3, "c", 3.0)]


def test_on_conflict_path_on_live_postgres(spark, pg_conn):
    """Force the 9.5-14 routing (supports_merge -> False) so the live
    server also proves the ON CONFLICT upsert statement (S16/S17)."""

    class Pre15(PostgresDialect):
        def supports_merge(self, version):
            return False

    df1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    df2 = spark.createDataFrame([(2, "b2", 9.0)], SCHEMA)
    writer = JdbcMergeWriter(
        _factory, TABLE, dialect=Pre15(), mode=WriteMode.MERGE, primary_key="id"
    )
    writer.write(df1)
    writer.write(df2)
    cur = pg_conn.cursor()
    cur.execute(f"SELECT id, name, score FROM {TABLE} ORDER BY id")
    assert cur.fetchall() == [(1, "a", 1.0), (2, "b2", 9.0)]


def test_append_and_truncate_on_live_postgres(spark, pg_conn):
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    writer = JdbcMergeWriter(
        _factory, TABLE, dialect=PostgresDialect(), mode=WriteMode.APPEND
    )
    writer.write(df)
    writer.write(df)  # append: duplicates allowed
    cur = pg_conn.cursor()
    cur.execute(f"SELECT COUNT(*) FROM {TABLE}")
    assert cur.fetchone() == (4,)
    # release the read transaction's ACCESS SHARE lock: the next write
    # TRUNCATEs, which needs ACCESS EXCLUSIVE and would deadlock with us
    pg_conn.rollback()
    trunc = JdbcMergeWriter(
        _factory,
        TABLE,
        dialect=PostgresDialect(),
        mode=WriteMode.APPEND,
        truncate_first=True,
    )
    trunc.write(df)
    cur.execute(f"SELECT COUNT(*) FROM {TABLE}")
    assert cur.fetchone() == (2,)


def test_schema_evolution_adds_column_on_live_postgres(spark, pg_conn):
    """Additive evolution: a new DataFrame column ALTERs the live table;
    historic rows read back NULL for it (S13 + evolution policy)."""
    df1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    wide = T.StructType(
        SCHEMA.fields + [T.StructField("extra", T.StringType())]
    )
    df2 = spark.createDataFrame([(2, "b", 2.0, "x")], wide)
    writer = JdbcMergeWriter(
        _factory,
        TABLE,
        dialect=PostgresDialect(),
        mode=WriteMode.MERGE,
        primary_key="id",
    )
    writer.write(df1)
    writer.write(df2)
    cur = pg_conn.cursor()
    cur.execute(f"SELECT id, extra FROM {TABLE} ORDER BY id")
    assert cur.fetchall() == [(1, None), (2, "x")]


def test_jsonb_bind_on_live_postgres(spark, pg_conn):
    """Complex Spark types bind as JSONB (reference JSONB semantics,
    src/writer/postgres.rs:48-50) and round-trip through the live
    server's jsonb type."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame([(1, ["a", "b"])], schema)
    writer = JdbcMergeWriter(
        _factory,
        TABLE,
        dialect=PostgresDialect(),
        mode=WriteMode.MERGE,
        primary_key="id",
    )
    writer.write(df)
    cur = pg_conn.cursor()
    cur.execute(
        f"SELECT pg_typeof(tags)::text, tags->>0, tags->>1 FROM {TABLE}"
    )
    assert cur.fetchall() == [("jsonb", "a", "b")]


def test_copy_fast_path_preserves_nulls_empties_and_quotes(spark, pg_conn):
    """APPEND rides COPY FROM STDIN through pgwire.copy_expert; the CSV
    rendering must keep NULL != '' (quoted empty string), and survive
    quotes, commas, and newlines. Round-trips a timestamp too."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime as dt

    t0 = dt.datetime(2026, 8, 15, 10, 30, 0)
    rows = [
        (1, None, t0),
        (2, "", t0),
        (3, 'quo"te, comma', None),
        (4, "line\nbreak", t0),
    ]
    df = spark.createDataFrame(rows, schema)
    writer = JdbcMergeWriter(
        _factory, TABLE, dialect=PostgresDialect(), mode=WriteMode.APPEND
    )
    writer.write(df)
    cur = pg_conn.cursor()
    cur.execute(f"SELECT id, name, ts FROM {TABLE} ORDER BY id")
    got = cur.fetchall()
    assert got[0][1] is None
    assert got[1][1] == ""  # quoted empty string stays a string
    assert got[2] == (3, 'quo"te, comma', None)
    assert got[3][1] == "line\nbreak"
    assert got[0][2] == t0


def test_copy_fast_path_throughput_beats_insert(spark, pg_conn):
    """The COPY rung exists for a reason: on the same rows, COPY append
    must beat the COPY-staged MERGE, which COPYs the same bytes into a
    temp stage and then runs a server-side MERGE over them. The MERGE's
    extra work grows with the rows while the Spark stage around both
    writes stays ~0.4 s: at 20K rows the gap was 0.02-0.2 s and lost to
    that stage's noise now and then; at 200K it is 1.1-1.6 s (4 vCPU,
    local PG 15)."""
    import time as _t

    n = 200_000
    df = (
        spark.range(n)
        .selectExpr("id", "id * 2 as v")
        .repartition(4)
        .localCheckpoint()  # isolate sink time from plan execution
    )
    append = JdbcMergeWriter(
        _factory, TABLE, dialect=PostgresDialect(), mode=WriteMode.APPEND,
        truncate_first=True,
    )
    merge = JdbcMergeWriter(
        _factory, TABLE, dialect=PostgresDialect(), mode=WriteMode.MERGE,
        primary_key="id",
    )
    append.write(df)  # warm both paths (JVM tasks, connections, table)
    merge.write(df)
    t0 = _t.perf_counter()
    append.write(df)
    t_copy = _t.perf_counter() - t0
    t0 = _t.perf_counter()
    merge.write(df)
    t_stmt = _t.perf_counter() - t0
    cur = pg_conn.cursor()
    cur.execute(f"SELECT COUNT(*) FROM {TABLE}")
    assert cur.fetchone() == (n,)
    assert t_copy < t_stmt  # COPY strictly faster than statement merge


def test_scram_sha256_auth_roundtrip_live(pg_conn):
    """Flip a dedicated role to a SCRAM-SHA-256 verifier, force the
    scram challenge for it via a prepended pg_hba rule, and round-trip
    a query through the pure-stdlib pgwire client (RFC 5802/7677 —
    the default password_encryption since PG 14; the reference's sqlx
    stack authenticates this way out of the box). Wrong password must
    be rejected by the server's proof check."""
    from apitap_spark.sinks import pgwire

    role, pw = "apitap_scram_probe", "apitap-scram-pw"
    cur = pg_conn.cursor()
    cur.execute("SET password_encryption = 'scram-sha-256'")
    cur.execute(f"DROP ROLE IF EXISTS {role}")
    cur.execute(f"CREATE ROLE {role} LOGIN PASSWORD '{pw}'")
    pg_conn.commit()
    cur.execute(
        "SELECT rolpassword FROM pg_authid WHERE rolname = %s", (role,)
    )
    verifier = cur.fetchone()[0]
    assert verifier.startswith("SCRAM-SHA-256$"), verifier
    cur.execute("SHOW hba_file")
    hba_path = cur.fetchone()[0]
    try:
        original = open(hba_path).read()
    except PermissionError:
        pytest.skip("cannot edit pg_hba.conf from this uid")
    rule = (
        f"host all {role} 127.0.0.1/32 scram-sha-256\n"
        f"host all {role} ::1/128 scram-sha-256\n"
    )
    p = pgwire._parse_dsn(DSN)
    scram_dsn = (
        f"host={p.get('host', '127.0.0.1')} port={p.get('port', '5432')} "
        f"user={role} dbname={p.get('dbname', 'postgres')} password={pw}"
    )
    try:
        with open(hba_path, "w") as f:
            f.write(rule + original)
        cur.execute("SELECT pg_reload_conf()")
        pg_conn.commit()
        import time

        time.sleep(0.5)  # reload is async; give the postmaster a beat
        conn = pgwire.connect(scram_dsn)
        try:
            c2 = conn.cursor()
            c2.execute("SELECT 1 + 1, current_user")
            assert c2.fetchone() == (2, role)
        finally:
            conn.close()
        with pytest.raises(pgwire.PgError):
            pgwire.connect(scram_dsn.replace(pw, "wrong-password"))
    finally:
        with open(hba_path, "w") as f:
            f.write(original)
        cur.execute("SELECT pg_reload_conf()")
        cur.execute(f"DROP ROLE IF EXISTS {role}")
        pg_conn.commit()


def test_staged_merge_rides_copy_and_is_idempotent(spark, pg_conn):
    """MERGE batches must route through the COPY-staged path (temp
    stage + one server-side MERGE) when the driver exposes copy_expert
    — and stay idempotent. Driver-side write_rows so the counting
    dialect is observable (foreachPartition would count on executors)."""

    class Counting(PostgresDialect):
        def __init__(self):
            super().__init__()
            self.stage_copies = 0

        def copy_csv(self, conn, table, columns, data):
            ok = super().copy_csv(conn, table, columns, data)
            if ok and table.startswith("_apitap_stage_"):
                self.stage_copies += 1
            return ok

    dialect = Counting()
    writer = JdbcMergeWriter(
        _factory,
        TABLE,
        dialect=dialect,
        mode=WriteMode.MERGE,
        primary_key="id",
    )
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    writer.prepare(SCHEMA)
    rows = df.collect()
    writer.write_rows(rows, SCHEMA)
    writer.write_rows(rows, SCHEMA)  # idempotent re-run
    writer.write_rows(
        spark.createDataFrame([(2, "b2", 2.5)], SCHEMA).collect(), SCHEMA
    )
    assert dialect.stage_copies == 3  # every batch staged via COPY
    cur = pg_conn.cursor()
    cur.execute(f"SELECT id, name, score FROM {TABLE} ORDER BY id")
    assert cur.fetchall() == [(1, "a", 1.0), (2, "b2", 2.5)]
    # ON COMMIT DROP: the stage never leaks into the next transaction
    cur.execute(
        "SELECT COUNT(*) FROM pg_tables WHERE tablename LIKE '_apitap_stage%'"
    )
    assert cur.fetchone()[0] == 0


def test_values_merge_fallback_still_live(spark, pg_conn):
    """With the stage rung disabled, the 65535-bind VALUES MERGE (with
    its jsonb cast_types) must still pass live — it remains the
    fallback for drivers without COPY (e.g. psycopg 3's cursor)."""

    class NoStage(PostgresDialect):
        def supports_copy_stage(self, conn):
            return False

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    df1 = spark.createDataFrame([(1, ["a"]), (2, ["b"])], schema)
    df2 = spark.createDataFrame([(2, ["b2", "x"])], schema)
    writer = JdbcMergeWriter(
        _factory, TABLE, dialect=NoStage(), mode=WriteMode.MERGE, primary_key="id"
    )
    writer.write(df1)
    writer.write(df2)
    cur = pg_conn.cursor()
    cur.execute(f"SELECT id, tags->>0 FROM {TABLE} ORDER BY id")
    assert cur.fetchall() == [(1, "a"), (2, "b2")]


def test_staged_merge_throughput_beats_values_merge(spark, pg_conn, monkeypatch):
    """The point of staging: COPY + one server-side MERGE must beat the
    un-prepared VALUES-bind MERGE on the same rows (sanity bound 1.5x
    here; the bench publishes sink_pg_merge_rows_per_sec at full
    scale). Statement reuse is disabled for the VALUES leg — with it,
    the re-Bind path closes most of the gap (see the companion reuse
    test), which is a win for the fallback, not a regression of
    staging."""
    import time as _t

    from apitap_spark.sinks import pgwire

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    rows = [(i, float(i) / 7.0) for i in range(50_000)]

    class NoStage(PostgresDialect):
        def supports_copy_stage(self, conn):
            return False

    timings = {}
    for name, dialect in (("staged", PostgresDialect()), ("values", NoStage())):
        if name == "values":
            monkeypatch.setattr(pgwire, "PREPARE_THRESHOLD", 10**9)
        writer = JdbcMergeWriter(
            _factory,
            TABLE,
            dialect=dialect,
            mode=WriteMode.MERGE,
            primary_key="id",
            truncate_first=True,
        )
        # driver-side write_rows isolates the sink (writer.write's Spark
        # job scheduling swamps a 50K-row delta); one warm pass first
        writer.prepare(schema)
        writer.write_rows(rows, schema)
        writer.prepare(schema)  # truncate again
        t0 = _t.perf_counter()
        writer.write_rows(rows, schema)
        timings[name] = _t.perf_counter() - t0
    assert timings["staged"] * 1.5 < timings["values"], timings


def test_prepared_reuse_skips_parse_messages(pg_conn):
    """Deterministic protocol proof of statement reuse: N repeated
    executes of the same (sql, oid-vector) must send exactly TWO Parse
    messages (the unnamed first execution + the promotion), never N —
    counted on the wire, immune to timing noise."""
    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    sql = "SELECT %s::bigint * 2 AS x"
    sent: list[bytes] = []
    orig = pg_conn._send
    pg_conn._send = lambda mtype, body: (sent.append(mtype), orig(mtype, body))
    try:
        for i in range(8):
            assert cur.execute(sql, (i,)).fetchone()[0] == 2 * i
    finally:
        pg_conn._send = orig
    assert sent.count(b"P") == 2, sent
    pg_conn.commit()


def test_prepared_reuse_speeds_repeated_big_statement(pg_conn, monkeypatch):
    """Throughput half of the reuse claim, on the shape where Parse
    cost is a real fraction: a 10000-placeholder upsert executed
    repeatedly. Measured ~1.5x on this box; asserted at a lenient
    1.1x (the reference's own docs claim 10-20% for its equivalent).
    Within the MERGE writer the server-side MERGE join dominates, so
    the end-to-end win there is smaller — the protocol-level Parse
    skip is what this pins."""
    import time as _t

    from apitap_spark.sinks import pgwire

    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    cur.execute(f"DROP TABLE IF EXISTS {TABLE}")
    cur.execute(
        f"CREATE TABLE {TABLE} (id BIGINT PRIMARY KEY, v DOUBLE PRECISION)"
    )
    pg_conn.commit()
    nrow = 5000
    sql = (
        f"INSERT INTO {TABLE} VALUES " + ",".join(["(%s,%s)"] * nrow)
        + " ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v"
    )
    params = [x for i in range(nrow) for x in (i, i / 7.0)]
    timings = {}
    for name, thr in (("reused", 2), ("reparse", 10**9)):
        monkeypatch.setattr(pgwire, "PREPARE_THRESHOLD", thr)
        conn = _factory()
        try:
            c = conn.cursor()
            c.execute(sql, params)  # warm; promotes on the 'reused' leg
            c.execute(sql, params)
            t0 = _t.perf_counter()
            for _ in range(8):
                c.execute(sql, params)
            timings[name] = _t.perf_counter() - t0
            conn.commit()
        finally:
            conn.close()
    assert timings["reused"] * 1.1 < timings["reparse"], timings


def test_merge_with_cross_partition_duplicate_keys_live(spark, pg_conn):
    """Duplicate PKs split across input partitions must not race: the
    writer hash-partitions by key before the fan-in, so equal keys meet
    in ONE transaction's last-wins dedup instead of deadlocking two
    concurrent MERGEs (found live: the bench's natural key was ~24%
    duplicated and 8-way round-robin fan-in deadlocked)."""
    rows = [(i % 50, f"v{i}", float(i)) for i in range(400)]  # 8 dups/key
    df = spark.createDataFrame(rows, SCHEMA).repartition(8)  # round-robin
    writer = JdbcMergeWriter(
        _factory,
        TABLE,
        dialect=PostgresDialect(),
        mode=WriteMode.MERGE,
        primary_key="id",
    )
    writer.write(df)
    writer.write(df)  # idempotent re-run over the same duplicated input
    cur = pg_conn.cursor()
    cur.execute(f"SELECT COUNT(*), COUNT(DISTINCT id) FROM {TABLE}")
    assert cur.fetchone() == (50, 50)


def _pgwire_only(conn):
    from apitap_spark.sinks import pgwire

    if not isinstance(conn, pgwire.Connection):
        pytest.skip("pgwire-specific protocol test (psycopg in use)")


def test_copy_out_roundtrip_matches_row_protocol(pg_conn):
    """Protocol-level COPY TO STDOUT must return exactly what the
    extended-query row protocol returns — NULLs, embedded tabs/
    newlines/backslashes, bytea, timestamps, numerics, booleans.
    This is the client half of the DataSource's per-stride COPY read."""
    import datetime as dt
    import io
    from decimal import Decimal

    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    cur.execute(f"DROP TABLE IF EXISTS {TABLE}")
    cur.execute(
        f"""CREATE TABLE {TABLE} (
            id BIGINT, s TEXT, d DOUBLE PRECISION, f BOOLEAN,
            by BYTEA, ts TIMESTAMP, n NUMERIC(12, 4))"""
    )
    rows = [
        (1, "plain", 1.5, True, b"\x00\xff\x10", dt.datetime(2026, 1, 2, 3, 4, 5), Decimal("12.3400")),
        (2, "tab\there", -2.25, False, b"", dt.datetime(2026, 6, 7), Decimal("-0.0001")),
        (3, "nl\nline", 0.0, None, None, None, None),
        (4, "back\\slash and 'quote'", 1e300, True, b"\\x", None, Decimal("99999999.9999")),
        (5, None, None, None, None, dt.datetime(1999, 12, 31, 23, 59, 59), None),
    ]
    for r in rows:
        cur.execute(
            f"INSERT INTO {TABLE} VALUES (%s, %s, %s, %s, %s, %s, %s)", r
        )
    pg_conn.commit()
    cur.execute(f"SELECT * FROM {TABLE} ORDER BY id")
    via_rows = cur.fetchall()

    buf = io.BytesIO()
    cur.copy_expert(f"COPY (SELECT * FROM {TABLE} ORDER BY id) TO STDOUT", buf)
    pg_conn.commit()

    from pyspark.sql import types as T

    from apitap_spark.sources.pgsource import _pg_text_decoder, _unescape

    decoders = [
        _pg_text_decoder(t)
        for t in (
            T.LongType(), T.StringType(), T.DoubleType(), T.BooleanType(),
            T.BinaryType(), T.TimestampNTZType(), T.DecimalType(12, 4),
        )
    ]
    via_copy = []
    for line in buf.getvalue().split(b"\n"):
        if not line:
            continue
        via_copy.append(
            tuple(
                None if s == "\\N" else dec(_unescape(s))
                for s, dec in zip(line.decode().split("\t"), decoders)
            )
        )
    assert via_copy == via_rows


def test_copy_out_into_text_mode_file(pg_conn):
    """str-mode sinks get UTF-8 decodes (psycopg2 copy_expert parity)."""
    import io

    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    sio = io.StringIO()
    cur.copy_expert("COPY (SELECT 1, 'a') TO STDOUT", sio)
    assert sio.getvalue() == "1\ta\n"


def test_prepared_statement_reuse_promotes_and_invalidates(pg_conn):
    """The (sql, oid-vector) cache must promote to a server-side named
    statement at the threshold (visible in pg_prepared_statements),
    keep answering correctly on reuse, and clear itself when a
    transaction aborts (ROLLBACK discards statements parsed in it)."""
    from apitap_spark.sinks import pgwire

    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    sql = "SELECT %s::bigint + 1 AS x"
    for i in (1, 2, 3):  # 1st: unnamed; 2nd: promote+parse; 3rd: reuse
        assert cur.execute(sql, (i,)).fetchone()[0] == i + 1
    assert pg_conn._stmt_cache, "statement was not promoted"
    cur.execute("SELECT name FROM pg_prepared_statements")
    names = {r[0] for r in cur.fetchall()}
    assert any(n.startswith("_ap") for n in names), names
    pg_conn.commit()

    # error aborts the txn -> conservative full cache clear
    with pytest.raises(pgwire.PgError):
        cur.execute("SELECT no_such_column_xyz")
    pg_conn.rollback()
    assert pg_conn._stmt_cache == {}
    # and the same statement re-parses cleanly afterwards
    assert cur.execute(sql, (7,)).fetchone()[0] == 8
    pg_conn.commit()


def test_no_server_side_statement_leak_across_error_cycles(pg_conn):
    """Round-8 ADVICE #2 regression: statements promoted in COMMITTED
    transactions survive a later error's cache clear server-side; the
    client must Close them (piggybacked on the next healthy query)
    instead of leaking a fresh _apN per re-promotion. After many
    error/recover cycles, pg_prepared_statements must hold at most the
    live cache, not one statement per cycle."""
    from apitap_spark.sinks import pgwire

    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    sql = "SELECT %s::bigint * 2 AS x"
    for cycle in range(6):
        for i in (1, 2, 3):  # promote (threshold 2) then reuse
            assert cur.execute(sql, (i,)).fetchone()[0] == 2 * i
        pg_conn.commit()  # statement now survives any later ROLLBACK
        with pytest.raises(pgwire.PgError):
            cur.execute("SELECT no_such_column_zzz")
        pg_conn.rollback()
        assert pg_conn._stmt_cache == {}
        assert pg_conn._stmt_orphans  # the survivor awaits a Close
    # next healthy query flushes every orphaned Close
    assert cur.execute(sql, (10,)).fetchone()[0] == 20
    assert pg_conn._stmt_orphans == []
    cur.execute("SELECT COUNT(*) FROM pg_prepared_statements")
    n_server = cur.fetchone()[0]
    assert n_server <= len(pg_conn._stmt_cache) + 1, n_server
    pg_conn.commit()


def test_prepared_statement_oid_vector_keys_cache(pg_conn):
    """Same SQL text with different Python param types must prepare
    separately — Parse freezes parameter OIDs, and binding a float to
    an int-parsed statement (or vice versa) would corrupt or error."""
    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    sql = "SELECT %s AS v"
    for _ in range(3):
        assert cur.execute(sql, (5,)).fetchone()[0] == 5
    for _ in range(3):
        assert cur.execute(sql, (5.5,)).fetchone()[0] == 5.5
    assert len(pg_conn._stmt_cache) == 2
    pg_conn.commit()


def _tls_dsn():
    from apitap_spark.sinks import pgwire

    p = pgwire._parse_dsn(DSN)
    return DSN + " sslmode=require", p


def test_tls_connection_roundtrip_live(pg_conn):
    """sslmode=require: SSLRequest dance, encrypted session visible in
    pg_stat_ssl, extended queries and COPY both directions all ride
    the wrapped socket unchanged."""
    import io

    from apitap_spark.sinks import pgwire

    _pgwire_only(pg_conn)
    dsn, _ = _tls_dsn()
    try:
        conn = pgwire.connect(dsn)
    except pgwire.PgError as e:
        if "does not support SSL" in str(e):
            pytest.skip("server built/started without SSL")
        raise
    try:
        cur = conn.cursor()
        cur.execute(
            "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"
        )
        assert cur.fetchone()[0] is True
        assert conn._tls_cert_hash is not None
        # typed params + COPY OUT over TLS
        assert cur.execute("SELECT %s::bigint * 3", (14,)).fetchone()[0] == 42
        sio = io.StringIO()
        cur.copy_expert("COPY (SELECT 7, 'tls') TO STDOUT", sio)
        assert sio.getvalue() == "7\ttls\n"
        conn.commit()
    finally:
        conn.close()


def test_scram_sha256_plus_channel_binding_live(pg_conn):
    """SCRAM-SHA-256-PLUS over TLS: the server only offers -PLUS on SSL
    connections; the client must select it, send the
    tls-server-end-point gs2 header + cert-hash c= attribute, and
    authenticate (RFC 5929/7677). Off-TLS the same role authenticates
    via plain SCRAM — both proof paths against one verifier."""
    import time

    from apitap_spark.sinks import pgwire

    _pgwire_only(pg_conn)
    role, pw = "apitap_scramplus_probe", "apitap-scramplus-pw"
    cur = pg_conn.cursor()
    cur.execute("SELECT ssl FROM pg_stat_ssl LIMIT 1")  # ssl configured?
    cur.execute("SET password_encryption = 'scram-sha-256'")
    cur.execute(f"DROP ROLE IF EXISTS {role}")
    cur.execute(f"CREATE ROLE {role} LOGIN PASSWORD '{pw}'")
    pg_conn.commit()
    cur.execute("SHOW hba_file")
    hba_path = cur.fetchone()[0]
    try:
        original = open(hba_path).read()
    except PermissionError:
        pytest.skip("cannot edit pg_hba.conf from this uid")
    rule = (
        f"hostssl all {role} 127.0.0.1/32 scram-sha-256\n"
        f"host all {role} 127.0.0.1/32 scram-sha-256\n"
    )
    p = pgwire._parse_dsn(DSN)
    base = (
        f"host={p.get('host', '127.0.0.1')} port={p.get('port', '5432')} "
        f"user={role} dbname={p.get('dbname', 'postgres')} password={pw}"
    )
    try:
        with open(hba_path, "w") as f:
            f.write(rule + original)
        cur.execute("SELECT pg_reload_conf()")
        pg_conn.commit()
        time.sleep(0.5)
        try:
            conn = pgwire.connect(base + " sslmode=require")
        except pgwire.PgError as e:
            if "does not support SSL" in str(e):
                pytest.skip("server built/started without SSL")
            raise
        try:
            assert conn.auth_mechanism == "SCRAM-SHA-256-PLUS"
            c2 = conn.cursor()
            assert c2.execute("SELECT 11 * 2").fetchone()[0] == 22
        finally:
            conn.close()
        # same role, no TLS -> plain SCRAM (gs2 'n' path) still works
        conn = pgwire.connect(base)
        try:
            assert conn.auth_mechanism == "SCRAM-SHA-256"
            assert conn.cursor().execute("SELECT 5").fetchone()[0] == 5
        finally:
            conn.close()
        # wrong password is rejected on the -PLUS path too
        with pytest.raises(pgwire.PgError):
            pgwire.connect(
                base.replace(pw, "wrong-password") + " sslmode=require"
            )
    finally:
        with open(hba_path, "w") as f:
            f.write(original)
        cur.execute("SELECT pg_reload_conf()")
        cur.execute(f"DROP ROLE IF EXISTS {role}")
        pg_conn.commit()


def test_edge_values_ride_copy_csv_live(spark, pg_conn):
    """The COPY partition body on a live server: NULL vs '', NaN/±inf
    as NULL, quotes/commas/newlines/backslashes/unicode, decimal, date,
    timestamp and bool, last-wins PK dedup through the writer's PK
    repartition, and rows_written counting the input before dedup."""
    from tests.test_sink import EDGE_ROWS, EDGE_SCHEMA, edge_expected

    writer = JdbcMergeWriter(
        _factory, TABLE, dialect=PostgresDialect(), mode=WriteMode.MERGE,
        primary_key="id",
    )
    df = spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA).coalesce(1)
    assert writer.write(df) == len(EDGE_ROWS)
    writer.write(df)  # a re-run (task retry) converges to the same rows
    assert writer.rows_written == len(EDGE_ROWS)
    cur = pg_conn.cursor()
    cur.execute(f"SELECT * FROM {TABLE} ORDER BY id")
    assert cur.fetchall() == edge_expected()


def test_nested_columns_land_as_row_path_jsonb_live(spark, pg_conn):
    """Array, struct and map columns keep the row path's JSON, as jsonb."""
    import json

    from tests.test_sink import NESTED_JSON, NESTED_ROWS, NESTED_SCHEMA

    writer = JdbcMergeWriter(
        _factory, TABLE, dialect=PostgresDialect(), mode=WriteMode.MERGE,
        primary_key="id",
    )
    writer.write(spark.createDataFrame(NESTED_ROWS, NESTED_SCHEMA))
    cur = pg_conn.cursor()
    cur.execute(
        f"SELECT id, pg_typeof(tags)::text, tags::text, meta::text, attrs::text"
        f" FROM {TABLE} ORDER BY id"
    )
    for id_, typ, *cols in cur.fetchall():
        assert typ == "jsonb"
        want = [None if v is None else json.loads(v) for v in NESTED_JSON[id_]]
        assert [None if v is None else json.loads(v) for v in cols] == want


def test_repeated_small_statements_pay_no_nagle_wait(pg_conn):
    """50 executes of ``SELECT 1`` on one connection finish in well under
    a second. With Nagle's algorithm on, each statement's trailing writes
    wait for the server's delayed ACK: ~44 ms a statement, ~2.2 s for 50
    on loopback, against a few ms with ``TCP_NODELAY``."""
    import time as _t

    _pgwire_only(pg_conn)
    cur = pg_conn.cursor()
    cur.execute("SELECT 1")  # the implicit BEGIN is not timed
    t0 = _t.perf_counter()
    for _ in range(50):
        assert cur.execute("SELECT 1").fetchone() == (1,)
    elapsed = _t.perf_counter() - t0
    pg_conn.rollback()
    assert elapsed < 0.5, elapsed
