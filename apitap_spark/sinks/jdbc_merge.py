"""Schema-creating, version-aware merge/upsert warehouse sink.

Spark-native re-expression of the reference's Postgres writer
(SURVEY §2.1 S13–S22, reference ``src/writer/postgres.rs``):

* S13 auto ``CREATE TABLE IF NOT EXISTS`` — DDL derives from the
  DataFrame's *Catalyst schema* (strictly better than the reference's
  10-row output sample, ``src/writer/postgres.rs:213-239``: no sampling
  error possible), complex types land as JSONB.
* S14 batched append: Arrow batches of ``STAGE_BATCH_ROWS`` rows bulk-load
  the target (Postgres ``COPY``; DuckDB ``INSERT … SELECT`` from the
  registered batch) instead of the reference's bind-limited multi-row
  INSERT (``src/writer/postgres.rs:163``, SURVEY §7.4 hazard).
* S15 ``MERGE INTO … USING <stage>`` upsert for PG ≥ 15
  (``src/writer/postgres.rs:538-707``).
* S16 ``INSERT … SELECT … ON CONFLICT (pk) DO UPDATE`` for PG ≥ 9.5 and
  DuckDB (``src/writer/postgres.rs:398-512``).
* S17 server-version dispatch, probed once and cached
  (``src/writer/postgres.rs:96-156``).
* S18 pre-run TRUNCATE hook tolerant of a missing table
  (``src/writer/postgres.rs:369-396``).
* S19 write-mode selection append/merge/overwrite
  (``src/writer/mod.rs:10-14``).
* S20 identifier quoting with ``""`` escaping + dotted paths
  (``src/writer/postgres.rs:241-253``).
* S21 type coercion happens in Catalyst (``df.select(casts)``) before the
  rows reach the writer — no per-value bind juggling.
* S22 transactions run on ONE connection per partition (fixes the
  reference's pool-scattered BEGIN/COMMIT hazard, SURVEY §7.4).

Scale design: every partition is one executor task that opens one
connection, writes its rows inside a single transaction, commits, and
returns its input row count; the driver sums those into
``rows_written``, so the write is the only Spark job of a load. The
partition body is ``mapInArrow`` for every dialect: each chunk of Arrow
batches is deduplicated by PK (merge mode), rendered once
(:func:`_render`), loaded by the dialect's :meth:`Dialect.load` (COPY
CSV into a temp stage or the target on Postgres, a registered Arrow
table on DuckDB) and applied by one server-side statement.
Idempotence at retry: MERGE/upsert by PK makes task retries safe
(append mode is documented at-least-once, same as the reference).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import io
import itertools
import json
import re
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STAGE_BATCH_ROWS = 50_000  # rows per load: each load pays an apply (and on
# Postgres a TRUNCATE of the stage) — amortize over bigger batches


class WriteMode(str, Enum):
    APPEND = "append"
    MERGE = "merge"
    OVERWRITE = "overwrite"  # truncate + append


def quote_ident(name: str) -> str:
    """Double-quote an identifier, escaping embedded quotes
    (reference src/writer/postgres.rs:241-247)."""
    return '"' + name.replace('"', '""') + '"'


def quote_ident_path(path: str) -> str:
    """Quote a dotted schema.table path per segment
    (reference src/writer/postgres.rs:249-253)."""
    return ".".join(quote_ident(p) for p in path.split("."))


def pg_type_for(dt: T.DataType, json_type: str = "JSONB") -> str:
    """Spark type → Postgres DDL type (reference JSON→PgType lattice,
    src/writer/postgres.rs:36-51, widened: we support the types Spark
    carries that the reference's JSON model cannot)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "BIGINT"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "DOUBLE PRECISION"
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.StringType):
        return "TEXT"
    if isinstance(dt, T.BinaryType):
        return "BYTEA"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return json_type  # reference src/writer/postgres.rs:48-50
    return "TEXT"  # conflict/unknown falls to TEXT, same lattice bottom


def ddl_for_schema(
    table: str,
    schema: T.StructType,
    primary_key: str | list[str] | None = None,
    json_type: str = "JSONB",
    dialect: "Dialect | None" = None,
) -> str:
    """CREATE TABLE IF NOT EXISTS … (reference src/writer/postgres.rs:255-308).

    With a ``dialect``, column types come from its :meth:`Dialect.type_for`."""
    pks = [primary_key] if isinstance(primary_key, str) else list(primary_key or [])
    type_of = dialect.type_for if dialect else (lambda dt: pg_type_for(dt, json_type))
    cols = [f"{quote_ident(f.name)} {type_of(f.dataType)}" for f in schema.fields]
    if pks:
        cols.append("PRIMARY KEY (" + ", ".join(quote_ident(p) for p in pks) + ")")
    return f"CREATE TABLE IF NOT EXISTS {quote_ident_path(table)} (" + ", ".join(cols) + ")"


@dataclass
class Dialect:
    """SQL dialect + DB-API peculiarities for one warehouse engine."""

    name: str = "ansi"
    paramstyle: str = "qmark"  # "qmark" (?) or "format" (%s)
    json_type: str = "JSON"
    single_writer: bool = False  # engine allows only one writing connection
    # True: load() fills a table, so an upsert stages each batch in a
    # per-transaction temp table (created once, truncated after every
    # apply) and an append loads the target itself. False: load() exposes
    # the batch under the stage name, and appends apply it with
    # INSERT … SELECT as well.
    temp_stage = False

    def placeholder(self, _i: int) -> str:
        return "?" if self.paramstyle == "qmark" else "%s"

    # -- capability probes -------------------------------------------------
    def server_version(self, conn) -> tuple[int, int]:
        return (0, 0)

    def supports_merge(self, version: tuple[int, int]) -> bool:
        return False

    def supports_on_conflict(self, version: tuple[int, int]) -> bool:
        return True

    def check_driver(self, conn) -> None:
        """Raise when ``conn``'s driver cannot run :meth:`load`."""

    def begin(self, conn):
        """Start ``conn``'s transaction and return the cursor every
        statement of it runs on. A DB-API driver opens the transaction
        with the first statement, and its cursors share the connection's."""
        return conn.cursor()

    # -- bulk load ----------------------------------------------------------
    def load(self, cur, table: str, tbl) -> None:
        """Load the rendered Arrow table ``tbl`` (:func:`_render`) into
        ``table`` (the target or the stage) on the cursor that then runs
        the apply statement."""
        raise NotImplementedError(f"{self.name}: no bulk load")

    # -- DDL hooks ---------------------------------------------------------
    def type_for(self, dt: T.DataType) -> str:
        return pg_type_for(dt, self.json_type)


class PostgresDialect(Dialect):
    temp_stage = True

    def __init__(self):
        super().__init__(name="postgres", paramstyle="format", json_type="JSONB")

    def server_version(self, conn) -> tuple[int, int]:
        """SELECT version() once (reference src/writer/postgres.rs:96-156)."""
        cur = conn.cursor()
        cur.execute("SELECT version()")
        text = cur.fetchone()[0]
        m = re.search(r"PostgreSQL (\d+)(?:\.(\d+))?", text)
        if not m:
            return (0, 0)
        return (int(m.group(1)), int(m.group(2) or 0))

    def supports_merge(self, version: tuple[int, int]) -> bool:
        return version >= (15, 0)  # reference src/writer/postgres.rs:343-367

    def supports_on_conflict(self, version: tuple[int, int]) -> bool:
        return version >= (9, 5)

    def check_driver(self, conn) -> None:
        """Every batch loads through COPY, so the driver's cursor must have
        ``copy_expert`` (psycopg2 and :mod:`apitap_spark.sinks.pgwire` do;
        psycopg 3's cursor does not)."""
        if not hasattr(conn.cursor(), "copy_expert"):
            driver = f"{type(conn).__module__}.{type(conn).__qualname__}"
            raise TypeError(
                f"postgres sink: {driver} has no cursor().copy_expert; "
                "connect with psycopg2 or apitap_spark.sinks.pgwire"
            )

    def load(self, cur, table: str, tbl) -> None:
        """COPY FROM STDIN as CSV — the 10-100x load path the reference
        lists as future work (reference README.md:127,
        docs/OPTIMIZATION_REPORT.md:178-185). pyarrow quotes every string,
        so '' stays distinct from the unquoted empty NULL; binary columns
        go as the bytea hex form."""
        import pyarrow as pa
        from pyarrow import csv as pacsv

        cols = [
            pa.array(
                [None if v is None else "\\x" + v.hex() for v in col.to_pylist()],
                pa.string(),
            )
            if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type)
            else col
            for col in tbl.columns
        ]
        buf = io.BytesIO()
        pacsv.write_csv(
            pa.Table.from_arrays(cols, names=tbl.column_names),
            buf,
            pacsv.WriteOptions(include_header=False),
        )
        buf.seek(0)
        collist = ", ".join(quote_ident(c) for c in tbl.column_names)
        cur.copy_expert(
            f"COPY {quote_ident_path(table)} ({collist}) FROM STDIN "
            f"WITH (FORMAT csv, NULL '')",
            buf,
        )


class DuckDbDialect(Dialect):
    """DuckDB: ON CONFLICT upserts, qmark params, one writing connection."""

    def __init__(self):
        super().__init__(
            name="duckdb", paramstyle="qmark", json_type="JSON", single_writer=True
        )

    def server_version(self, conn) -> tuple[int, int]:
        return (9, 5)  # pretend: upsert-capable, no MERGE

    def begin(self, conn):
        """Statements run on ``conn`` itself, inside an explicit
        transaction: DuckDB's ``cursor()`` opens a second connection,
        which autocommits each statement, so a commit or rollback of
        ``conn`` would not reach them."""
        conn.begin()
        return conn

    def load(self, cur, table: str, tbl) -> None:
        """Register the batch under ``table``, replacing the previous one:
        the apply statement reads it in place (DuckDB refuses ``ON COMMIT
        DROP``). A registration is visible to its own connection only, so
        ``cur`` is the one :meth:`begin` returned."""
        cur.register(table, tbl)


# ---------------------------------------------------------------------------
# SQL generation (pure, unit-testable — no connection required)
# ---------------------------------------------------------------------------
def _on_conflict_tail(columns: list[str], pks: list[str]) -> str:
    """``ON CONFLICT (pk) DO UPDATE SET …`` (``DO NOTHING`` when every
    column is a key)."""
    conflict = ", ".join(quote_ident(p) for p in pks)
    updates = ", ".join(
        f"{quote_ident(c)} = EXCLUDED.{quote_ident(c)}" for c in columns if c not in pks
    )
    if not updates:
        return f"ON CONFLICT ({conflict}) DO NOTHING"
    return f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"


def _merge_tail(columns: list[str], pks: list[str]) -> str:
    """``ON … WHEN MATCHED … WHEN NOT MATCHED …`` against source alias ``s``."""
    on = " AND ".join(f"t.{quote_ident(p)} = s.{quote_ident(p)}" for p in pks)
    updates = ", ".join(
        f"{quote_ident(c)} = s.{quote_ident(c)}" for c in columns if c not in pks
    )
    insert_cols = ", ".join(quote_ident(c) for c in columns)
    insert_vals = ", ".join(f"s.{quote_ident(c)}" for c in columns)
    matched = f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else ""
    return (
        f"ON {on} {matched}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )


def stage_table_name(table: str) -> str:
    """Session-temp stage identifier for COPY-staged upserts (temp
    namespace is per-connection, so concurrent partition writers never
    collide)."""
    return f"_apitap_stage_{table.split('.')[-1]}"


def stage_ddl(
    dialect: Dialect, stage: str, schema: T.StructType
) -> str:
    """Typed temp stage mirroring the batch columns. ON COMMIT DROP ties
    its lifetime to the per-partition transaction (S22); typed columns
    mean the downstream MERGE needs no per-column CASTs (an untyped
    JSON-string source column resolves to text and fails against jsonb,
    found live on PG 15 in round 6)."""
    cols = ", ".join(
        f"{quote_ident(f.name)} {dialect.type_for(f.dataType)}"
        for f in schema.fields
    )
    return (
        f"CREATE TEMP TABLE IF NOT EXISTS {quote_ident(stage)} ({cols}) "
        f"ON COMMIT DROP"
    )


def insert_from_stage_sql(table: str, stage: str, columns: list[str]) -> str:
    """INSERT ... SELECT FROM stage — the append apply where the load
    cannot fill the target itself (DuckDB)."""
    collist = ", ".join(quote_ident(c) for c in columns)
    return (
        f"INSERT INTO {quote_ident_path(table)} ({collist}) "
        f"SELECT {collist} FROM {quote_ident(stage)}"
    )


def merge_from_stage_sql(
    table: str, stage: str, columns: list[str], pks: list[str]
) -> str:
    """MERGE INTO target USING stage — one server-side statement per
    staged batch (PG >= 15)."""
    return (
        f"MERGE INTO {quote_ident_path(table)} AS t USING {quote_ident(stage)} "
        f"AS s {_merge_tail(columns, pks)}"
    )


def upsert_from_stage_sql(
    table: str, stage: str, columns: list[str], pks: list[str]
) -> str:
    """INSERT ... SELECT FROM stage ON CONFLICT — the staged upsert for
    PG 9.5-14 and DuckDB, same shape the MERGE rung uses on 15+."""
    return f"{insert_from_stage_sql(table, stage, columns)} {_on_conflict_tail(columns, pks)}"


def _json_default(o):
    if isinstance(o, (_dt.datetime, _dt.date)):
        return o.isoformat()
    if isinstance(o, bytes):
        return o.hex()
    return str(o)


_JSON = json.JSONEncoder(default=_json_default)  # json.dumps, minus a per-call encoder

_COMPLEX_TYPES = (T.ArrayType, T.MapType, T.StructType)
# column types _render handles; write() casts any other column to STRING
_RENDERED_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.BooleanType, T.StringType, T.DateType,
    T.TimestampType, T.TimestampNTZType, T.BinaryType, *_COMPLEX_TYPES,
)


def _row_fixer(dt: T.DataType, structs_as_lists: bool):
    """A function turning one non-null ``to_pylist()`` value of ``dt`` into
    the Python value the sink's JSON is made of, or None where they agree.
    Maps become dicts and session timestamps local wall-clock time
    (``TimestampType.fromInternal``); structs stay dicts, except below a
    top-level array or map (``structs_as_lists``), where the sink has
    always written them as JSON arrays (the collected Row values it once
    bound, dumped without ``asDict``)."""
    if isinstance(dt, T.TimestampType):
        return lambda v: v.astimezone().replace(tzinfo=None)
    if isinstance(dt, T.ArrayType):
        fix = _row_fixer(dt.elementType, structs_as_lists)
        return fix and (lambda v: [_fixed(fix, e) for e in v])
    if isinstance(dt, T.MapType):
        kfix = _row_fixer(dt.keyType, structs_as_lists)
        vfix = _row_fixer(dt.valueType, structs_as_lists)
        return lambda v: {_fixed(kfix, k): _fixed(vfix, x) for k, x in v}
    if isinstance(dt, T.StructType):
        fixes = [(f.name, _row_fixer(f.dataType, structs_as_lists)) for f in dt.fields]
        if structs_as_lists:
            return lambda v: [_fixed(fix, v[n]) for n, fix in fixes]
        if any(fix for _, fix in fixes):
            return lambda v: {n: _fixed(fix, v[n]) for n, fix in fixes}
    return None


def _fixed(fix, v):
    return v if v is None or fix is None else fix(v)


def _render(tbl, schema: T.StructType):
    """The Arrow table every :meth:`Dialect.load` reads. Floats widen to
    float64 (what a Row carries) with NaN/±inf as NULL; session timestamps
    become local wall-clock time; complex columns become JSON text
    (reference sink JSONB semantics, src/writer/postgres.rs:48-50).
    Binary stays raw: only the Postgres CSV needs the bytea hex form."""
    import pyarrow as pa
    import pyarrow.compute as pc

    utc_host = time.timezone == 0 and not time.daylight
    cols = []
    for col, f in zip(tbl.columns, schema.fields):
        dt = f.dataType
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            col = col.cast(pa.float64())
            col = pc.if_else(pc.is_finite(col), col, pa.scalar(None, pa.float64()))
        elif isinstance(dt, T.TimestampType) and utc_host:
            col = col.cast(pa.timestamp("us"))  # drop the zone
        elif isinstance(dt, T.TimestampType):
            fix = _row_fixer(dt, False)
            col = pa.array([_fixed(fix, v) for v in col.to_pylist()], pa.timestamp("us"))
        elif isinstance(dt, _COMPLEX_TYPES):
            fix = _row_fixer(dt, not isinstance(dt, T.StructType))
            col = pa.array(
                [
                    None if v is None else _JSON.encode(_fixed(fix, v))
                    for v in col.to_pylist()
                ],
                pa.string(),
            )
        cols.append(col)
    return pa.Table.from_arrays(cols, names=tbl.column_names)


def _last_wins(tbl, pks: list[str]):
    """Keep the last row of each primary key, in input order (Postgres
    refuses a MERGE that touches one row twice; CDC increments routinely
    repeat a PK)."""
    import numpy as np
    import pyarrow as pa

    if tbl.num_rows < 2:
        return tbl
    pos = "\x00pos"
    last = (
        tbl.select(pks)
        .append_column(pos, pa.array(np.arange(tbl.num_rows)))
        .group_by(pks, use_threads=False)
        .aggregate([(pos, "max")])[f"{pos}_max"]
    )
    if len(last) == tbl.num_rows:
        return tbl
    return tbl.take(np.sort(last.to_numpy()))


def _chunked(batches: Iterable, rows: int) -> Iterator[list]:
    """Group record batches into lists of at least ``rows`` rows (the
    last list may hold fewer)."""
    chunk: list = []
    n = 0
    for b in batches:
        chunk.append(b)
        n += b.num_rows
        if n >= rows:
            yield chunk
            chunk, n = [], 0
    if chunk:
        yield chunk


def _col(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


class JdbcMergeWriter:
    """Merge-capable warehouse writer (driver- or partition-scoped).

    ``conn_factory`` must be a picklable zero-arg callable returning a
    DB-API connection — each partition opens its own (S22: one connection
    per transactional scope).
    """

    def __init__(
        self,
        conn_factory: Callable[[], object],
        table: str,
        *,
        dialect: Dialect | None = None,
        mode: WriteMode = WriteMode.MERGE,
        primary_key: str | list[str] | None = None,
        truncate_first: bool = False,
    ):
        self.conn_factory = conn_factory
        self.table = table
        self.dialect = dialect or PostgresDialect()
        self.mode = mode
        self.pks = [primary_key] if isinstance(primary_key, str) else list(primary_key or [])
        self.truncate_first = truncate_first
        self.rows_written = 0  # input rows of the last write()
        if self.mode == WriteMode.MERGE and not self.pks:
            raise ValueError("merge mode requires a primary key")

    # -- setup (driver-side, once) ----------------------------------------
    def prepare(self, schema: T.StructType):
        """ensure_table + additive schema evolution + optional truncate
        (S13/S18), one driver connection. Returns the route :meth:`write`
        takes for ``schema`` (see :meth:`_route`), so no partition probes
        the server again.

        Evolution policy: columns present in the DataFrame but missing from
        an existing target are added via ``ALTER TABLE ADD COLUMN``
        (nullable, so historic rows stay valid). Dropped/renamed columns
        are never destructive — the old columns simply stop receiving
        values. (The reference has no schema evolution at all —
        reference README.md:125 lists it as future work.)
        """
        with self._transaction() as (conn, cur):
            self.dialect.check_driver(conn)
            cur.execute(
                ddl_for_schema(
                    self.table, schema, self.pks or None, dialect=self.dialect
                )
            )
            self._evolve_schema(cur, schema)
            if self.truncate_first or self.mode == WriteMode.OVERWRITE:
                try:
                    cur.execute(f"TRUNCATE TABLE {quote_ident_path(self.table)}")
                except Exception:  # noqa: BLE001 — missing table tolerated (42P01)
                    pass
            return self._route(conn, schema)

    def _evolve_schema(self, cur, schema: T.StructType) -> None:
        """Add DataFrame columns missing from the live table (additive only)."""
        existing = self._existing_columns(cur)
        if existing is None:
            return
        for f in schema.fields:
            if f.name.lower() in existing:
                continue
            cur.execute(
                f"ALTER TABLE {quote_ident_path(self.table)} ADD COLUMN "
                f"{quote_ident(f.name)} {self.dialect.type_for(f.dataType)}"
            )

    def _existing_columns(self, cur) -> set[str] | None:
        """Lower-cased live column names, or None when undiscoverable.

        Schema-qualified and parameterized: a same-named table in another
        schema must not satisfy (or poison) the lookup, and the
        config-supplied table name never reaches the SQL text.
        """
        parts = self.table.split(".")
        bare = parts[-1]
        schema = parts[-2] if len(parts) > 1 else None
        ph = self.dialect.placeholder(0)
        try:
            if schema is not None:
                cur.execute(
                    "SELECT column_name FROM information_schema.columns "
                    f"WHERE table_name = {ph} AND table_schema = {ph}",
                    (bare, schema),
                )
            else:
                # unqualified name: restrict to the connection's current
                # schema so other schemas can't shadow the target
                cur.execute(
                    "SELECT column_name FROM information_schema.columns "
                    f"WHERE table_name = {ph} "
                    "AND table_schema = current_schema()",
                    (bare,),
                )
            rows = cur.fetchall()
        except Exception:  # noqa: BLE001 — engine without information_schema
            return None
        if not rows:
            return None
        return {r[0].lower() for r in rows}

    @contextlib.contextmanager
    def _transaction(self) -> Iterator:
        """One connection, one transaction (S22): yields ``(conn, cur)``,
        ``cur`` being the cursor every statement runs on
        (:meth:`Dialect.begin`); commits when the block finishes, rolls
        back when it raises."""
        conn = self.conn_factory()
        try:
            yield conn, self.dialect.begin(conn)
            conn.commit()
        except Exception:
            try:
                conn.rollback()
            except Exception:  # noqa: BLE001
                pass
            raise
        finally:
            conn.close()

    def _route(self, conn, schema: T.StructType) -> tuple[str, str | None]:
        """Probe the server version once and return ``(table, apply)``:
        where each batch loads, and the statement applying it from there —
        None when the load fills the target itself (append on a
        ``temp_stage`` dialect). Upserts apply with MERGE, else
        INSERT .. ON CONFLICT."""
        version = self.dialect.server_version(conn)
        stage, cols = stage_table_name(self.table), schema.names
        if self.mode != WriteMode.MERGE:
            if self.dialect.temp_stage:
                return self.table, None
            return stage, insert_from_stage_sql(self.table, stage, cols)
        if self.dialect.supports_merge(version):
            return stage, merge_from_stage_sql(self.table, stage, cols, self.pks)
        if self.dialect.supports_on_conflict(version):
            return stage, upsert_from_stage_sql(self.table, stage, cols, self.pks)
        raise RuntimeError(
            f"{self.dialect.name} {version} supports neither MERGE nor ON CONFLICT"
        )

    def write_rows(self, rows: Iterable, schema: T.StructType) -> int:
        """Write an iterable of Rows on ONE connection in ONE transaction;
        returns the rows written after PK dedup. For driver-side
        writes/tests: it probes the route itself (:meth:`write`'s
        partitions take the driver's). The rows convert to Arrow and take
        :meth:`_load_batches`, as :meth:`write_batches` does."""
        unrendered = [f.name for f in schema.fields if not isinstance(f.dataType, _RENDERED_TYPES)]
        if unrendered:
            raise ValueError(
                f"write_rows cannot render column(s) {unrendered}: cast them "
                "to STRING first, as write() does"
            )
        from pyspark.sql.conversion import LocalDataToArrowConversion

        rows = iter(rows)
        batches = (
            b
            for chunk in iter(lambda: list(itertools.islice(rows, STAGE_BATCH_ROWS)), [])
            for b in LocalDataToArrowConversion.convert(chunk, schema, False).to_batches()
        )
        with self._transaction() as (conn, cur):
            self.dialect.check_driver(conn)
            return self._load_batches(cur, batches, schema, *self._route(conn, schema))

    def write_batches(self, batches: Iterable, schema: T.StructType, route) -> int:
        """The partition body of :meth:`write`: Arrow record batches in,
        written through :meth:`_load_batches` along ``route`` (what
        :meth:`prepare` returned on the driver) on ONE connection in ONE
        transaction. Returns the input row count, before PK dedup. An
        empty partition opens no connection."""
        batches = iter(batches)
        head = next(batches, None)
        if head is None:
            return 0
        n_in = 0

        def counted():
            nonlocal n_in
            for b in itertools.chain([head], batches):
                n_in += b.num_rows
                yield b

        with self._transaction() as (_, cur):
            self._load_batches(cur, counted(), schema, *route)
        return n_in

    def _load_batches(self, cur, batches, schema: T.StructType, table: str, apply) -> int:
        """Load the batches in ``STAGE_BATCH_ROWS`` chunks — deduplicated
        last-wins by PK in merge mode, rendered once, loaded into ``table``
        by the dialect — and run ``apply`` after each load. Returns the
        rows written after dedup."""
        import pyarrow as pa

        temp_stage = apply is not None and self.dialect.temp_stage
        if temp_stage:
            cur.execute(stage_ddl(self.dialect, table, schema))
        written = 0
        for chunk in _chunked(batches, STAGE_BATCH_ROWS):
            tbl = pa.Table.from_batches(chunk)
            if self.mode == WriteMode.MERGE:
                tbl = _last_wins(tbl, self.pks)
            self.dialect.load(cur, table, _render(tbl, schema))
            if apply is not None:
                cur.execute(apply)
            if temp_stage:
                cur.execute(f"TRUNCATE TABLE {quote_ident(table)}")
            written += tbl.num_rows
        return written

    # -- distributed write -------------------------------------------------
    def write(self, df: DataFrame) -> int:
        """Create the table, then stream every partition through its own
        connection (merge/upsert is idempotent by PK → task-retry safe).
        Sets and returns ``rows_written``: the input row count, summed
        from the per-partition counts the write job returns, so callers
        need no second action to count the result.

        Columns :func:`_render` cannot take (NullType, intervals, variant)
        are cast to STRING in Catalyst first; a frame without any keeps
        its plan.

        MERGE/upsert writes hash-partition by primary key first: equal
        keys land in ONE partition, so the within-chunk last-wins dedup
        sees every duplicate and no two connections ever contend on the
        same key — without this, cross-partition duplicate keys make
        concurrent MERGEs race (deadlocks / duplicate-key aborts, found
        live when the bench fed a non-unique natural key). This is also
        the 100 TB-correct shape: one shuffle keyed exactly like the
        target index. The shuffle keeps the session's default parallelism
        (AQE never coalesces a partition count given explicitly), so a
        small merge still loads over that many connections; an empty
        partition opens none.

        Single-writer engines (DuckDB) coalesce to one partition first;
        real warehouses take the full parallel fan-in.
        """
        if any(not isinstance(f.dataType, _RENDERED_TYPES) for f in df.schema.fields):
            df = df.select(
                *[
                    _col(f.name)
                    if isinstance(f.dataType, _RENDERED_TYPES)
                    else _col(f.name).cast("string").alias(f.name)
                    for f in df.schema.fields
                ]
            )
        route = self.prepare(df.schema)
        if self.mode == WriteMode.MERGE and not self.dialect.single_writer:
            # an explicit count: AQE coalesces a key-only repartition of a
            # small frame into one partition, i.e. one connection
            df = df.repartition(
                df.sparkSession.sparkContext.defaultParallelism,
                *[F.col(p) for p in self.pks],
            )
        if self.dialect.single_writer:
            df = df.coalesce(1)
        schema = df.schema
        writer = self  # picklable as long as the factory is

        def partition(batches):
            import pyarrow as pa

            n = writer.write_batches(batches, schema, route)
            yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

        self.rows_written = sum(r.n for r in df.mapInArrow(partition, "n long").collect())
        return self.rows_written
