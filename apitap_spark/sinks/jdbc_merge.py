"""Schema-creating, version-aware merge/upsert warehouse sink.

Spark-native re-expression of the reference's Postgres writer
(SURVEY §2.1 S13–S22, reference ``src/writer/postgres.rs``):

* S13 auto ``CREATE TABLE IF NOT EXISTS`` — DDL derives from the
  DataFrame's *Catalyst schema* (strictly better than the reference's
  10-row output sample, ``src/writer/postgres.rs:213-239``: no sampling
  error possible), complex types land as JSONB.
* S14 batched multi-row INSERT (append mode), default batch 5000
  (``src/writer/postgres.rs:163``), chunked to respect the 65535
  bind-parameter limit (SURVEY §7.4 hazard).
* S15 ``MERGE INTO … USING (VALUES …)`` upsert for PG ≥ 15
  (``src/writer/postgres.rs:538-707``).
* S16 ``INSERT … ON CONFLICT (pk) DO UPDATE`` for PG ≥ 9.5
  (``src/writer/postgres.rs:398-512``).
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
``rows_written``, so the write is the only Spark job of a load. Where
the dialect has COPY, the partition body is ``mapInArrow``: pyarrow
writes the batches as CSV straight into the COPY stage (MERGE/upsert)
or the target (append). Elsewhere (DuckDB, drivers without COPY) it is
a row partition feeding the statements of
:meth:`JdbcMergeWriter.write_rows`. Idempotence at retry: MERGE/upsert
by PK makes task retries safe (append mode is documented at-least-once,
same as the reference).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import io
import itertools
import json
import math
import re
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_BIND_PARAMS = 65535  # Postgres wire-protocol limit (SURVEY §7.4)
DEFAULT_BATCH_SIZE = 5000  # reference src/writer/postgres.rs:163
STAGE_BATCH_ROWS = 50_000  # COPY-staged upserts: no bind limit applies, and
# each stage cycle pays a MERGE + TRUNCATE — amortize over bigger batches


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

    With a ``dialect``, column types, PK inlining, and the engine suffix
    (ReplacingMergeTree / CLUSTER BY) come from its hooks."""
    pks = [primary_key] if isinstance(primary_key, str) else list(primary_key or [])
    type_of = dialect.type_for if dialect else (lambda dt: pg_type_for(dt, json_type))
    cols = [f"{quote_ident(f.name)} {type_of(f.dataType)}" for f in schema.fields]
    if pks and (dialect is None or dialect.supports_inline_pk()):
        cols.append("PRIMARY KEY (" + ", ".join(quote_ident(p) for p in pks) + ")")
    suffix = dialect.ddl_options(pks) if dialect else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {quote_ident_path(table)} ("
        + ", ".join(cols)
        + ")"
        + suffix
    )


@dataclass
class Dialect:
    """SQL dialect + DB-API peculiarities for one warehouse engine."""

    name: str = "ansi"
    paramstyle: str = "qmark"  # "qmark" (?) or "format" (%s)
    json_type: str = "JSON"
    single_writer: bool = False  # engine allows only one writing connection

    def placeholder(self, _i: int) -> str:
        return "?" if self.paramstyle == "qmark" else "%s"

    # -- capability probes -------------------------------------------------
    def server_version(self, conn) -> tuple[int, int]:
        return (0, 0)

    def supports_merge(self, version: tuple[int, int]) -> bool:
        return False

    def supports_on_conflict(self, version: tuple[int, int]) -> bool:
        return True

    # -- JSON-ish column rendering ----------------------------------------
    def json_cast(self, expr: str) -> str:
        return expr

    # -- bulk append fast path --------------------------------------------
    def bulk_append(self, conn, table: str, columns: list[str], rows: list) -> bool:
        """Engine-native bulk load of bound rows for APPEND mode (DuckDB:
        DataFrame registration; COPY-capable engines load through
        :meth:`copy_csv` instead). Returns False when unsupported →
        caller falls back to multi-row INSERT."""
        return False

    def copy_csv(self, conn, table: str, columns: list[str], data) -> bool:
        """Bulk-load CSV (unquoted empty field = NULL, quoted "" = empty
        string) from the file-like ``data``. Returns False when the engine
        or driver has no COPY."""
        return False

    # -- DDL hooks ---------------------------------------------------------
    def type_for(self, dt: T.DataType) -> str:
        return pg_type_for(dt, self.json_type)

    def ddl_options(self, pks: list[str]) -> str:
        """Engine-specific CREATE TABLE suffix (storage engine, clustering)."""
        return ""

    def supports_inline_pk(self) -> bool:
        return True

    def merge_as_insert(self) -> bool:
        """True when upserts are modeled as plain INSERTs the engine
        deduplicates itself (ClickHouse ReplacingMergeTree)."""
        return False

    def supports_copy_stage(self, conn) -> bool:
        """True when MERGE/upsert batches can be staged via the engine's
        bulk-load path into a temp table and applied with ONE
        server-side statement (Postgres: COPY + MERGE ... USING stage).
        Brings the COPY append throughput to the upsert path — the
        write mode the reference runner hard-codes
        (reference src/cmd/mod.rs:157)."""
        return False


class PostgresDialect(Dialect):
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

    def json_cast(self, expr: str) -> str:
        return f"{expr}::jsonb"

    def copy_csv(self, conn, table: str, columns: list[str], data) -> bool:
        """COPY FROM STDIN (CSV) when the driver exposes copy_expert —
        the 10-100x load path the reference lists as future work
        (reference README.md:127, docs/OPTIMIZATION_REPORT.md:178-185)."""
        copy_expert =getattr(getattr(conn, "cursor", lambda: None)(), "copy_expert", None)
        if copy_expert is None:
            return False
        collist = ", ".join(quote_ident(c) for c in columns)
        copy_expert(
            f"COPY {quote_ident_path(table)} ({collist}) FROM STDIN "
            f"WITH (FORMAT csv, NULL '')",
            data,
        )
        return True

    def supports_copy_stage(self, conn) -> bool:
        cur = getattr(conn, "cursor", lambda: None)()
        return getattr(cur, "copy_expert", None) is not None


class BigQueryDialect(Dialect):
    """BigQuery (generation-level: no live engine in this container; the
    reference lists BigQuery as a planned connector, README.md:346).

    Standard-SQL MERGE is always available; BigQuery has no enforced
    primary keys, so DDL omits the PK clause and clusters by the merge
    keys instead."""

    def __init__(self):
        super().__init__(name="bigquery", paramstyle="qmark", json_type="JSON")

    def server_version(self, conn) -> tuple[int, int]:
        return (999, 0)

    def supports_merge(self, version: tuple[int, int]) -> bool:
        return True

    def supports_inline_pk(self) -> bool:
        return False

    def ddl_options(self, pks: list[str]) -> str:
        if not pks:
            return ""
        return " CLUSTER BY " + ", ".join(quote_ident(p) for p in pks)

    def type_for(self, dt: T.DataType) -> str:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "INT64"
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return "FLOAT64"
        if isinstance(dt, T.BooleanType):
            return "BOOL"
        if isinstance(dt, T.StringType):
            return "STRING"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "TIMESTAMP"
        if isinstance(dt, T.DateType):
            return "DATE"
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            return "JSON"
        return "STRING"


class ClickHouseDialect(Dialect):
    """ClickHouse (generation-level; planned connector in the reference,
    README.md:345). No MERGE / ON CONFLICT: upserts are modeled the
    ClickHouse way — plain INSERTs into a ReplacingMergeTree ordered by
    the key, which deduplicates at background merge time (last insert
    wins). The writer therefore routes merge mode to INSERT for this
    dialect."""

    def __init__(self):
        super().__init__(name="clickhouse", paramstyle="qmark", json_type="String")

    def server_version(self, conn) -> tuple[int, int]:
        return (0, 0)  # neither MERGE nor ON CONFLICT

    def merge_as_insert(self) -> bool:
        return True

    def supports_inline_pk(self) -> bool:
        return False

    def ddl_options(self, pks: list[str]) -> str:
        order = ", ".join(quote_ident(p) for p in pks) if pks else "tuple()"
        return f" ENGINE = ReplacingMergeTree ORDER BY ({order})"

    def type_for(self, dt: T.DataType) -> str:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "Int64"
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return "Float64"
        if isinstance(dt, T.BooleanType):
            return "Bool"
        if isinstance(dt, T.StringType):
            return "String"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "DateTime64(6)"
        if isinstance(dt, T.DateType):
            return "Date32"
        return "String"


class DuckDbDialect(Dialect):
    """Test stand-in: DuckDB speaks ON CONFLICT and qmark params."""

    def __init__(self):
        super().__init__(
            name="duckdb", paramstyle="qmark", json_type="JSON", single_writer=True
        )

    def server_version(self, conn) -> tuple[int, int]:
        return (9, 5)  # pretend: upsert-capable, no MERGE

    def bulk_append(self, conn, table: str, columns: list[str], rows: list) -> bool:
        """Register the batch as a DataFrame and INSERT ... SELECT — the
        DuckDB analog of COPY (~10x the multi-row-INSERT path)."""
        import pandas as pd

        batch = pd.DataFrame(rows, columns=columns)  # noqa: F841 — read by name below
        collist = ", ".join(quote_ident(c) for c in columns)
        conn.register("_apitap_batch", batch)
        conn.execute(
            f"INSERT INTO {quote_ident_path(table)} ({collist}) "
            f"SELECT {collist} FROM _apitap_batch"
        )
        conn.unregister("_apitap_batch")
        return True


# ---------------------------------------------------------------------------
# SQL generation (pure, unit-testable — no connection required)
# ---------------------------------------------------------------------------
def insert_sql(dialect: Dialect, table: str, columns: list[str], n_rows: int) -> str:
    """Multi-row parameterized INSERT (reference src/writer/postgres.rs:709-772)."""
    collist = ", ".join(quote_ident(c) for c in columns)
    one = "(" + ", ".join(dialect.placeholder(i) for i in range(len(columns))) + ")"
    values = ", ".join([one] * n_rows)
    return f"INSERT INTO {quote_ident_path(table)} ({collist}) VALUES {values}"


def upsert_sql(
    dialect: Dialect, table: str, columns: list[str], pks: list[str], n_rows: int
) -> str:
    """INSERT … ON CONFLICT (pk) DO UPDATE (reference src/writer/postgres.rs:398-512)."""
    base = insert_sql(dialect, table, columns, n_rows)
    return f"{base} {_on_conflict_tail(columns, pks)}"


def _on_conflict_tail(columns: list[str], pks: list[str]) -> str:
    """``ON CONFLICT (pk) DO UPDATE SET …`` (``DO NOTHING`` when every
    column is a key) — shared by the VALUES and stage upserts."""
    conflict = ", ".join(quote_ident(p) for p in pks)
    updates = ", ".join(
        f"{quote_ident(c)} = EXCLUDED.{quote_ident(c)}" for c in columns if c not in pks
    )
    if not updates:
        return f"ON CONFLICT ({conflict}) DO NOTHING"
    return f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"


def merge_sql(
    dialect: Dialect,
    table: str,
    columns: list[str],
    pks: list[str],
    n_rows: int,
    cast_types: dict[str, str] | None = None,
) -> str:
    """MERGE INTO … USING (VALUES …) for PG ≥ 15
    (reference src/writer/postgres.rs:538-707).

    ``cast_types``: per-column SQL type to CAST the VALUES placeholder
    to. Unlike plain INSERT (where the target column gives parameters
    their type), a MERGE source subquery has NO column context — an
    untyped JSON-string parameter resolves to text and fails against a
    jsonb column ("expression is of type text"), found live on PG 15.
    """
    t = quote_ident_path(table)
    collist = ", ".join(quote_ident(c) for c in columns)
    casts = cast_types or {}

    def ph(i: int) -> str:
        p = dialect.placeholder(i)
        ct = casts.get(columns[i % len(columns)])
        return f"CAST({p} AS {ct})" if ct else p

    one = "(" + ", ".join(ph(i) for i in range(len(columns))) + ")"
    values = ", ".join([one] * n_rows)
    return (
        f"MERGE INTO {t} AS t USING (VALUES {values}) AS s ({collist}) "
        f"{_merge_tail(columns, pks)}"
    )


def _merge_tail(columns: list[str], pks: list[str]) -> str:
    """``ON … WHEN MATCHED … WHEN NOT MATCHED …`` against source alias
    ``s`` — shared by the VALUES and stage MERGEs."""
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
    mean the downstream MERGE needs no per-placeholder CASTs (the
    VALUES-source jsonb pitfall found live in round 6)."""
    cols = ", ".join(
        f"{quote_ident(f.name)} {dialect.type_for(f.dataType)}"
        for f in schema.fields
    )
    return (
        f"CREATE TEMP TABLE IF NOT EXISTS {quote_ident(stage)} ({cols}) "
        f"ON COMMIT DROP"
    )


def merge_from_stage_sql(
    table: str, stage: str, columns: list[str], pks: list[str]
) -> str:
    """MERGE INTO target USING stage — one server-side statement per
    COPY-staged batch (PG >= 15)."""
    return (
        f"MERGE INTO {quote_ident_path(table)} AS t USING {quote_ident(stage)} "
        f"AS s {_merge_tail(columns, pks)}"
    )


def upsert_from_stage_sql(
    table: str, stage: str, columns: list[str], pks: list[str]
) -> str:
    """INSERT ... SELECT FROM stage ON CONFLICT — the staged upsert for
    PG 9.5-14, same shape the MERGE rung uses on 15+."""
    collist = ", ".join(quote_ident(c) for c in columns)
    return (
        f"INSERT INTO {quote_ident_path(table)} ({collist}) "
        f"SELECT {collist} FROM {quote_ident(stage)} "
        f"{_on_conflict_tail(columns, pks)}"
    )


def rows_per_statement(n_cols: int, batch_size: int) -> int:
    """Bind-parameter-limit-aware chunk size (SURVEY §7.4: 5000×N cols can
    exceed 65535 binds)."""
    return max(1, min(batch_size, MAX_BIND_PARAMS // max(1, n_cols)))


def _json_default(o):
    if isinstance(o, (_dt.datetime, _dt.date)):
        return o.isoformat()
    if isinstance(o, bytes):
        return o.hex()
    return str(o)


_JSON = json.JSONEncoder(default=_json_default)  # json.dumps, minus a per-call encoder


def _bind_value(v, dt: T.DataType, dialect: Dialect):
    """Render one Python value for binding; complex types serialize to JSON
    (reference sink JSONB semantics, src/writer/postgres.rs:48-50)."""
    if v is None:
        return None
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        if hasattr(v, "asDict"):
            v = v.asDict(recursive=True)
        return _JSON.encode(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    return v


_COMPLEX_TYPES = (T.ArrayType, T.MapType, T.StructType)
_COPY_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.BooleanType, T.StringType, T.DateType,
    T.TimestampType, T.TimestampNTZType, T.BinaryType, *_COMPLEX_TYPES,
)


def _row_fixer(dt: T.DataType, structs_as_lists: bool):
    """A function turning one non-null ``to_pylist()`` value of ``dt`` into
    the value the row path holds before :func:`_bind_value` dumps it, or
    None where the two agree. Maps become dicts and session timestamps
    local wall-clock time (``TimestampType.fromInternal``); structs stay
    dicts, except below a top-level array or map (``structs_as_lists``),
    where the row path dumps Rows as JSON arrays because it never calls
    ``asDict`` there."""
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


def _csv_table(tbl, schema: T.StructType):
    """The Arrow twin of :func:`_bind_value`: the table that COPY reads
    as pyarrow CSV, which quotes every string, so '' stays distinct from
    NULL. Floats widen to float64 (what a Row carries) with NaN/±inf as
    NULL; session timestamps become local wall-clock time; complex
    columns become the row path's JSON text and binary the bytea hex
    form."""
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
        elif isinstance(dt, T.BinaryType):
            col = pa.array(
                [None if v is None else "\\x" + v.hex() for v in col.to_pylist()],
                pa.string(),
            )
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
    """Keep the last row of each primary key, in input order — the row
    path's within-statement dedup (Postgres refuses a MERGE that touches
    one row twice)."""
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
        batch_size: int = DEFAULT_BATCH_SIZE,
        truncate_first: bool = False,
    ):
        self.conn_factory = conn_factory
        self.table = table
        self.dialect = dialect or PostgresDialect()
        self.mode = mode
        self.pks = [primary_key] if isinstance(primary_key, str) else list(primary_key or [])
        self.batch_size = batch_size
        self.truncate_first = truncate_first
        self.rows_written = 0  # input rows of the last write()
        if self.mode == WriteMode.MERGE and not self.pks:
            raise ValueError("merge mode requires a primary key")

    # -- setup (driver-side, once) ----------------------------------------
    def prepare(self, schema: T.StructType):
        """ensure_table + additive schema evolution + optional truncate
        (S13/S18), one driver connection. Returns ``(version, route)``:
        the server version and the COPY route :meth:`write` takes for
        ``schema`` (see :meth:`_copy_route`), so no partition probes
        the server again.

        Evolution policy: columns present in the DataFrame but missing from
        an existing target are added via ``ALTER TABLE ADD COLUMN``
        (nullable, so historic rows stay valid). Dropped/renamed columns
        are never destructive — the old columns simply stop receiving
        values. (The reference has no schema evolution at all —
        reference README.md:125 lists it as future work.)
        """
        with self._transaction() as conn:
            cur = conn.cursor()
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
            version = self.dialect.server_version(conn)
            return version, self._copy_route(conn, version, schema)

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

    # -- statement routing -------------------------------------------------
    def _statement(
        self,
        n_cols: int,
        columns: list[str],
        version,
        n_rows: int,
        dtypes: list | None = None,
    ) -> str:
        if self.mode in (WriteMode.APPEND, WriteMode.OVERWRITE):
            return insert_sql(self.dialect, self.table, columns, n_rows)
        if self.dialect.merge_as_insert():
            # engine dedups by key itself (ClickHouse ReplacingMergeTree)
            return insert_sql(self.dialect, self.table, columns, n_rows)
        if self.dialect.supports_merge(version):
            # complex types bind as JSON strings; the MERGE source VALUES
            # has no column context, so cast them to the dialect JSON type
            casts = {
                c: self.dialect.json_type
                for c, dt in zip(columns, dtypes or [])
                if isinstance(dt, (T.ArrayType, T.MapType, T.StructType))
            }
            return merge_sql(
                self.dialect, self.table, columns, self.pks, n_rows,
                cast_types=casts or None,
            )
        if self.dialect.supports_on_conflict(version):
            return upsert_sql(self.dialect, self.table, columns, self.pks, n_rows)
        raise RuntimeError(
            f"{self.dialect.name} {version} supports neither MERGE nor ON CONFLICT"
        )

    @contextlib.contextmanager
    def _transaction(self) -> Iterator:
        """One connection, one transaction (S22): commit when the block
        finishes, roll back when it raises."""
        conn = self.conn_factory()
        try:
            yield conn
            conn.commit()
        except Exception:
            try:
                conn.rollback()
            except Exception:  # noqa: BLE001
                pass
            raise
        finally:
            conn.close()

    def write_rows(self, rows: Iterable, schema: T.StructType) -> int:
        """Write an iterable of Rows on ONE connection in ONE transaction;
        returns the rows written after PK dedup. For driver-side
        writes/tests: it probes the server version and COPY route itself
        (:meth:`write`'s row partitions take the driver's). On a COPY
        route the rows convert to Arrow and take :meth:`_copy_batches`,
        as :meth:`write_batches` does."""
        with self._transaction() as conn:
            version = self.dialect.server_version(conn)
            route = self._copy_route(conn, version, schema)
            if route is None:
                return self._write_rows_on(conn, version, rows, schema)
            from pyspark.sql.conversion import LocalDataToArrowConversion

            rows = iter(rows)
            batches = (
                b
                for chunk in iter(
                    lambda: list(itertools.islice(rows, STAGE_BATCH_ROWS)), []
                )
                for b in LocalDataToArrowConversion.convert(
                    chunk, schema, False
                ).to_batches()
            )
            return self._copy_batches(conn, batches, schema, *route)

    def _write_rows_on(self, conn, version, rows: Iterable, schema: T.StructType) -> int:
        columns = [f.name for f in schema.fields]
        dtypes = [f.dataType for f in schema.fields]
        chunk_rows = rows_per_statement(len(columns), self.batch_size)
        written = 0
        cur = conn.cursor()
        buf: list = []

        use_bulk = self.mode in (WriteMode.APPEND, WriteMode.OVERWRITE)

        merge_dedup = (
            self.mode == WriteMode.MERGE
            and self.pks
            and not self.dialect.merge_as_insert()
        )
        pk_idx = (
            [columns.index(p) for p in self.pks] if merge_dedup else []
        )

        def flush():
            nonlocal written, use_bulk
            if merge_dedup and len(buf) > 1:
                # Postgres rejects duplicate keys inside one INSERT..ON
                # CONFLICT DO UPDATE / MERGE statement ("command cannot
                # affect row a second time"); CDC increments routinely
                # repeat a PK. Last-wins within the statement — the same
                # outcome the rows would produce applied sequentially.
                last = {tuple(r[i] for i in pk_idx): r for r in buf}
                if len(last) < len(buf):
                    buf[:] = list(last.values())
            if not buf:
                return
            rendered = [
                tuple(
                    _bind_value(r[i], dtypes[i], self.dialect)
                    for i in range(len(columns))
                )
                for r in buf
            ]
            if use_bulk:
                if self.dialect.bulk_append(conn, self.table, columns, rendered):
                    written += len(buf)
                    buf.clear()
                    return
                use_bulk = False  # unsupported → INSERT from here on
            sql = self._statement(len(columns), columns, version, len(buf), dtypes)
            cur.execute(sql, [v for r in rendered for v in r])
            written += len(buf)
            buf.clear()

        for row in rows:
            buf.append(row)
            if len(buf) >= chunk_rows:
                flush()
        flush()
        return written

    def write_batches(self, batches: Iterable, schema: T.StructType, route) -> int:
        """The COPY partition body of :meth:`write`: Arrow record batches
        in, written through :meth:`_copy_batches` along ``route`` (the
        COPY route :meth:`prepare` returned on the driver) on ONE
        connection in ONE transaction. Returns the input row count, before
        PK dedup. An empty partition opens no connection."""
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

        with self._transaction() as conn:
            self._copy_batches(conn, counted(), schema, *route)
        return n_in

    def _copy_route(self, conn, version, schema: T.StructType):
        """``(COPY table, statement applying it or None)`` when the batches
        can ride COPY as CSV, else None: the dialect has COPY, every column
        type renders (:func:`_csv_table`), and the mode is append/overwrite
        (COPY into the target) or an upsert the engine can apply from a
        temp stage with ONE statement — MERGE, else INSERT .. ON
        CONFLICT."""
        if not (
            all(isinstance(f.dataType, _COPY_TYPES) for f in schema.fields)
            and self.dialect.supports_copy_stage(conn)
        ):
            return None
        if self.mode in (WriteMode.APPEND, WriteMode.OVERWRITE):
            return self.table, None
        if self.dialect.merge_as_insert():
            return None
        stage = stage_table_name(self.table)
        if self.dialect.supports_merge(version):
            return stage, merge_from_stage_sql(self.table, stage, schema.names, self.pks)
        if self.dialect.supports_on_conflict(version):
            return stage, upsert_from_stage_sql(self.table, stage, schema.names, self.pks)
        return None

    def _copy_batches(self, conn, batches, schema: T.StructType, table: str, apply) -> int:
        """COPY the batches as CSV in ``STAGE_BATCH_ROWS`` chunks: straight
        into ``table``, or deduplicated last-wins by PK into the temp
        stage ``table`` and applied by ``apply`` once per chunk. Returns
        the rows written after dedup."""
        import pyarrow as pa
        from pyarrow import csv as pacsv

        cur = conn.cursor()
        if apply is not None:
            cur.execute(stage_ddl(self.dialect, table, schema))
        written = 0
        for chunk in _chunked(batches, STAGE_BATCH_ROWS):
            tbl = pa.Table.from_batches(chunk)
            if apply is not None:
                tbl = _last_wins(tbl, self.pks)
            buf = io.BytesIO()
            pacsv.write_csv(
                _csv_table(tbl, schema),
                buf,
                pacsv.WriteOptions(include_header=False),
            )
            buf.seek(0)
            if not self.dialect.copy_csv(conn, table, schema.names, buf):
                raise RuntimeError(f"{self.dialect.name}: COPY refused for {table}")
            if apply is not None:
                cur.execute(apply)
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

        MERGE/upsert writes hash-partition by primary key first: equal
        keys land in ONE partition, so the within-buffer last-wins dedup
        sees every duplicate and no two connections ever contend on the
        same key — without this, cross-partition duplicate keys make
        concurrent MERGEs race (deadlocks / duplicate-key aborts, found
        live when the bench fed a non-unique natural key). This is also
        the 100 TB-correct shape: one shuffle keyed exactly like the
        target index.

        Single-writer engines (DuckDB test stand-in) coalesce to one
        partition first; real warehouses take the full parallel fan-in.
        """
        version, copy_route = self.prepare(df.schema)
        if (
            self.mode == WriteMode.MERGE
            and self.pks
            and not self.dialect.merge_as_insert()
            and not self.dialect.single_writer
        ):
            df = df.repartition(*[F.col(p) for p in self.pks])
        if self.dialect.single_writer:
            df = df.coalesce(1)
        schema = df.schema
        writer = self  # picklable as long as the factory is

        if copy_route is not None:

            def copy_partition(batches):
                import pyarrow as pa

                n = writer.write_batches(batches, schema, copy_route)
                yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

            counts = [r.n for r in df.mapInArrow(copy_partition, "n long").collect()]
        else:

            def row_partition(rows):
                n = 0

                def counted():
                    nonlocal n
                    for r in rows:
                        n += 1
                        yield r

                with writer._transaction() as conn:
                    writer._write_rows_on(conn, version, counted(), schema)
                yield n

            counts = df.rdd.mapPartitions(row_partition).collect()
        self.rows_written = sum(counts)
        return self.rows_written
