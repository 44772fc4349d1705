"""Parallel PostgreSQL reader as a Spark 4 Python Data Source.

Completes the warehouse round-trip next to the write path
(sinks/jdbc_merge.py): the reference only ever READS from HTTP APIs and
WRITES to Postgres (/root/reference/src/pipeline/mod.rs run loop); this
source lets a pipeline also read a Postgres table back into Spark with
the two properties a JDBC-style scan needs at scale —

* **range-partitioned parallel reads**: one InputPartition per stride of
  a numeric ``partition_column`` (min/max discovered with one driver-side
  aggregate when bounds aren't given), first/last strides unbounded so
  out-of-range and NULL keys are never dropped — the same contract as
  Spark's built-in JDBC partitioning options; and
* **filter pushdown**: Catalyst-pushed filters (=, <>, <, <=, >, >=, IN,
  IS [NOT] NULL, LIKE prefixes/suffixes/contains, NOT) are rendered into
  the WHERE clause so Postgres prunes rows server-side; unsupported
  filters are returned to Spark for residual evaluation.

Usage::

    spark.dataSource.register(PostgresDataSource)
    df = (spark.read.format("apitap_postgres")
            .option("dsn", "host=127.0.0.1 port=54329 user=postgres")
            .option("table", "events")
            .option("partition_column", "event_id")
            .option("num_partitions", 8)
            .load())

The wire client is the dependency-free protocol-v3 implementation in
``apitap_spark.sinks.pgwire``, so the source works in environments
without psycopg. Each task opens one connection, reads its stride with
one protocol-level ``COPY (SELECT ...) TO STDOUT`` in CSV, parses it with
``pyarrow.csv`` and yields RecordBatches: no per-row Python on either
side, and no driver-side row traffic.

:func:`read_on_driver` is the small-table alternative the pipeline
runner takes below the broadcast threshold: the same schema mapping
(:func:`describe_schema`) and the same :meth:`PostgresReader.read`, run
once on the driver into a local relation.
"""

from __future__ import annotations

import contextlib
import io
import math
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    SimpleDataSourceStreamReader,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

def _oid_to_spark_type(oid: int):
    """PostgreSQL type OID -> Spark type instance (text-format decode in
    pgwire yields the matching Python value for each). Built with type
    OBJECTS, not DDL strings — ``schema()`` runs in the data-source
    planning worker where no SparkContext exists, so
    ``StructType.fromDDL`` would fail."""
    from pyspark.sql import types as T

    return {
        16: T.BooleanType(),
        17: T.BinaryType(),
        20: T.LongType(),
        21: T.ShortType(),
        23: T.IntegerType(),
        26: T.LongType(),  # oid
        700: T.FloatType(),
        701: T.DoubleType(),
        1700: T.DecimalType(38, 18),
        1082: T.DateType(),
        1114: T.TimestampNTZType(),
        1184: T.TimestampType(),
    }.get(oid, T.StringType())


def describe_schema(conn, relation: str):
    """Spark schema of ``relation`` from the row description of a
    ``LIMIT 0`` probe on ``conn``: the one OID → type mapping of both
    read paths (the DataSource's ``schema()`` and :func:`read_on_driver`)."""
    from pyspark.sql.types import StructField, StructType

    cur = conn.cursor()
    cur.execute(f"SELECT * FROM {relation} LIMIT 0")
    desc = cur.description or []
    if not desc:
        raise ValueError(
            "apitap_postgres: relation has no columns (or LIMIT 0 "
            "probe returned no metadata)"
        )
    return StructType(
        [
            StructField(name, _oid_to_spark_type(oid), True)
            for name, oid, *_ in desc
        ]
    )


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _quote_literal(v) -> str:
    """Render a filter value as a safe SQL literal (text protocol)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        # repr() gives nan/inf/-inf, which Postgres parses as column
        # names. Postgres orders NaN above every number and equal to
        # itself, as Spark does, so the pushed comparison keeps Spark's
        # result.
        if v != v:
            return "'NaN'::float8"
        return "'Infinity'::float8" if v > 0 else "'-Infinity'::float8"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("'", "''")
    # standard_conforming_strings is on by default since PG 9.1: a
    # doubled quote is the only escape needed
    return f"'{s}'"


def _like_escape(v: str) -> str:
    return v.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")


def _attr(f: Filter) -> str | None:
    """Top-level column name of a filter attribute (nested paths are
    unsupported — Postgres relations are flat)."""
    path = f.attribute
    if len(path) != 1:
        return None
    return _quote_ident(path[0])


def _filter_to_sql(f: Filter) -> str | None:
    """Render one Catalyst filter as a WHERE fragment, or None if this
    filter class/shape can't be pushed."""
    if isinstance(f, Not):
        inner = _filter_to_sql(f.child)
        return None if inner is None else f"NOT ({inner})"
    col = _attr(f)
    if col is None:
        return None
    if isinstance(f, EqualTo):
        return f"{col} = {_quote_literal(f.value)}"
    if isinstance(f, EqualNullSafe):
        return f"{col} IS NOT DISTINCT FROM {_quote_literal(f.value)}"
    if isinstance(f, GreaterThan):
        return f"{col} > {_quote_literal(f.value)}"
    if isinstance(f, GreaterThanOrEqual):
        return f"{col} >= {_quote_literal(f.value)}"
    if isinstance(f, LessThan):
        return f"{col} < {_quote_literal(f.value)}"
    if isinstance(f, LessThanOrEqual):
        return f"{col} <= {_quote_literal(f.value)}"
    if isinstance(f, In):
        vals = ", ".join(_quote_literal(v) for v in f.value)
        return f"{col} IN ({vals})" if vals else "FALSE"
    if isinstance(f, IsNull):
        return f"{col} IS NULL"
    if isinstance(f, IsNotNull):
        return f"{col} IS NOT NULL"
    if isinstance(f, StringStartsWith):
        return f"{col} LIKE {_quote_literal(_like_escape(f.value) + '%')}"
    if isinstance(f, StringEndsWith):
        return f"{col} LIKE {_quote_literal('%' + _like_escape(f.value))}"
    if isinstance(f, StringContains):
        return (
            f"{col} LIKE {_quote_literal('%' + _like_escape(f.value) + '%')}"
        )
    return None


def _arrow_type(field):
    """Arrow type that ``pyarrow.csv`` parses ``field``'s COPY CSV text
    as: every type :func:`_oid_to_spark_type` returns. A timestamptz
    arrives as UTC wall time and a bytea as hex text (see
    :func:`_select_expr`); :meth:`PostgresReader.read` converts
    both. Raises ``ValueError`` naming the column for any other type."""
    import pyarrow as pa
    from pyspark.sql import types as T

    dtype = field.dataType
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.IntegerType):
        return pa.int32()
    if isinstance(dtype, T.ShortType):
        return pa.int16()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.FloatType):
        return pa.float32()
    if isinstance(dtype, T.DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if isinstance(dtype, T.DateType):
        return pa.date32()
    if isinstance(dtype, (T.TimestampNTZType, T.TimestampType)):
        return pa.timestamp("us")
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        return pa.string()
    raise ValueError(
        f"apitap_postgres: column {field.name!r} has type "
        f"{dtype.simpleString()}, which the reader cannot read"
    )


def _select_expr(field) -> str:
    """``field``'s entry in the COPY's select list. A timestamptz is read
    as UTC wall time: pyarrow rejects an offset with seconds (PG prints
    ``+00:19:32`` for pre-1900 values in zones like Europe/Amsterdam),
    and a value with no offset when the column type has a time zone. A
    bytea is read as hex, whatever the server's ``bytea_output``. A
    numeric is rounded to the decimal type's scale, half away from zero
    as Spark's JDBC reader rounds it: pyarrow refuses a CSV value with
    more fractional digits, and an unconstrained NUMERIC reads as
    ``decimal(38,18)``."""
    from pyspark.sql import types as T

    col = _quote_ident(field.name)
    if isinstance(field.dataType, T.TimestampType):
        return f"({col} AT TIME ZONE 'UTC') AS {col}"
    if isinstance(field.dataType, T.BinaryType):
        return f"encode({col}, 'hex') AS {col}"
    if isinstance(field.dataType, T.DecimalType):
        return f"round({col}, {field.dataType.scale}) AS {col}"
    return col


class RangePartition(InputPartition):
    def __init__(self, clause: str | None):
        self.clause = clause  # None = unpartitioned full scan


class CopyTooLarge(Exception):
    """A COPY stream passed the reader's ``max_copy_bytes``."""


class _CappedBuffer(io.BytesIO):
    """A BytesIO that raises :class:`CopyTooLarge` instead of growing past
    ``limit`` bytes."""

    def __init__(self, limit: int):
        super().__init__()
        self.limit = limit

    def write(self, b) -> int:
        if self.tell() + len(b) > self.limit:
            raise CopyTooLarge(self.limit)
        return super().write(b)


class PostgresReader(DataSourceReader):
    def __init__(self, options: dict, schema):
        self.options = options
        self.schema_struct = schema
        self.pushed: list[str] = []
        # set by read_on_driver: its held connection (tasks open their
        # own) and a byte cap on each COPY stream
        self.conn = None
        self.max_copy_bytes = None

    # -- option helpers ------------------------------------------------
    def _dsn(self) -> str:
        dsn = self.options.get("dsn")
        if not dsn:
            raise ValueError("apitap_postgres: the 'dsn' option is required")
        return dsn

    def _connection(self):
        """Context manager: the held connection, else a new one closed on
        exit."""
        if self.conn is not None:
            return contextlib.nullcontext(self.conn)
        from apitap_spark.sinks import pgwire

        return contextlib.closing(pgwire.connect(self._dsn()))

    def _relation(self) -> str:
        if self.options.get("query"):
            return f"({self.options['query']}) AS q"
        table = self.options.get("table")
        if not table:
            raise ValueError(
                "apitap_postgres: one of 'table' or 'query' is required"
            )
        return ".".join(_quote_ident(p) for p in table.split("."))

    # -- pushdown ------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            sql = _filter_to_sql(f)
            if sql is None:
                yield f  # Spark evaluates it as a residual
            else:
                self.pushed.append(sql)

    def _where(self, extra: str | None = None) -> str:
        clauses = list(self.pushed)
        if extra:
            clauses.append(extra)
        return (" WHERE " + " AND ".join(clauses)) if clauses else ""

    # -- planning ------------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        pcol = self.options.get("partition_column")
        if not pcol:
            return [RangePartition(None)]
        n = int(self.options.get("num_partitions", 4))
        col = _quote_ident(pcol)
        lb = self.options.get("lower_bound")
        ub = self.options.get("upper_bound")
        if lb is None or ub is None:
            with self._connection() as conn:
                cur = conn.cursor()
                cur.execute(
                    f"SELECT MIN({col}), MAX({col}) FROM {self._relation()}"
                    + self._where()
                )
                row = cur.fetchone()
            if row is None or row[0] is None:
                return [RangePartition(None)]  # empty or all-NULL keys
            lb = lb if lb is not None else row[0]
            ub = ub if ub is not None else row[1]
        lb, ub = int(lb), int(ub)
        if n <= 1 or ub <= lb:
            return [RangePartition(None)]
        stride = max(1, (ub - lb) // n)
        parts: list[RangePartition] = []
        lo = lb
        for i in range(n):
            hi = lo + stride
            last = i == n - 1 or hi >= ub
            if i == 0 and last:
                parts.append(RangePartition(None))
                break
            if i == 0:
                # first stride is open below and catches NULL keys
                parts.append(
                    RangePartition(f"({col} < {hi} OR {col} IS NULL)")
                )
            elif last:
                parts.append(RangePartition(f"{col} >= {lo}"))
                break
            else:
                parts.append(
                    RangePartition(f"({col} >= {lo} AND {col} < {hi})")
                )
            lo = hi
        return parts

    # -- execution -----------------------------------------------------
    def read(self, partition: InputPartition) -> Iterator:
        """One stride as pyarrow RecordBatches: COPY CSV → ``pyarrow.csv``
        (C++ parse). Spark's Python DataSource accepts Arrow batches
        directly, so no per-row Python runs on either side — measured
        ~4x the row protocol client-side at 200K rows, more end-to-end
        once Spark's row pickling is counted. NULLs travel as unquoted
        \\N (PG quotes any data value equal to the marker, and
        quoted_strings_can_be_null=False keeps those as strings).

        ``newlines_in_values=True`` is mandatory, not an option: PG's CSV
        COPY quotes embedded newlines, but pyarrow's parallel chunker
        splits blocks on raw newlines, so without it any stride over the
        block size whose text contains ``\\n`` dies with ``ArrowInvalid:
        CSV parser got out of sync with chunker``. Document corpora —
        this engine's core shape — always contain newlines. The flag
        forces serial chunking; measured cost is 4.6→8.9 ms per 200K
        rows of parse time — ~1% of the stride read (COPY transfer
        dominates), so it stays unconditional rather than adaptive (see
        bench ``source_pg_read_rows_per_sec``)."""
        import pyarrow as pa
        from pyarrow import csv as pacsv
        from pyspark.sql import types as T

        fields = self.schema_struct.fields
        arrow_types = [_arrow_type(f) for f in fields]
        cols = ", ".join(_select_expr(f) for f in fields)
        sql = (
            f"SELECT {cols} FROM {self._relation()}"
            + self._where(getattr(partition, "clause", None))
        )
        buf = self._copy_fetch(
            f"COPY ({sql}) TO STDOUT WITH (FORMAT csv, NULL '\\N')"
        )
        if not buf.getbuffer().nbytes:
            return  # empty stride: pyarrow rejects an empty CSV stream
        names = [f.name for f in fields]
        tbl = pacsv.read_csv(
            buf,
            read_options=pacsv.ReadOptions(column_names=names),
            parse_options=pacsv.ParseOptions(newlines_in_values=True),
            convert_options=pacsv.ConvertOptions(
                column_types=dict(zip(names, arrow_types)),
                null_values=["\\N"],
                strings_can_be_null=True,
                quoted_strings_can_be_null=False,
                true_values=["t"],
                false_values=["f"],
            ),
        )
        for i, f in enumerate(fields):
            if isinstance(f.dataType, T.TimestampType):
                utc = tbl.column(i).cast(pa.timestamp("us", tz="UTC"))
                tbl = tbl.set_column(i, f.name, utc)
            elif isinstance(f.dataType, T.BinaryType):
                raw = [
                    None if h is None else bytes.fromhex(h)
                    for h in tbl.column(i).to_pylist()
                ]
                tbl = tbl.set_column(i, f.name, pa.array(raw, pa.binary()))
        yield from tbl.to_batches()

    def _copy_fetch(self, copy_sql: str):
        """Run one COPY ... TO STDOUT and return the raw byte stream.
        The stride is held in memory whole; strides are bounded by
        num_partitions sizing. With ``max_copy_bytes`` set, a stream
        past the cap raises :class:`CopyTooLarge` mid-COPY, leaving the
        connection unusable."""
        cap = self.max_copy_bytes
        buf = io.BytesIO() if cap is None else _CappedBuffer(cap)
        with self._connection() as conn:
            conn.cursor().copy_expert(copy_sql, buf)
        buf.seek(0)
        return buf


class PostgresDataSource(DataSource):
    """``spark.read.format("apitap_postgres")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "apitap_postgres"

    def schema(self):
        reader = PostgresReader(self.options, None)
        with reader._connection() as conn:
            return describe_schema(conn, reader._relation())

    def reader(self, schema) -> DataSourceReader:
        return PostgresReader(self.options, schema)

    def simpleStreamReader(self, schema):
        return PostgresSimpleStreamReader(self.options, schema)


class PostgresSimpleStreamReader(SimpleDataSourceStreamReader):
    """Structured-Streaming incremental poll of an append-only table —
    CDC-lite over the same stdlib pgwire transport (the batch pipeline's
    high-watermark sync, re-expressed as a streaming source)::

        spark.readStream.format("apitap_postgres")
             .option("dsn", ...).option("table", "events")
             .option("cursor_column", "event_id").load()

    ``cursor_column`` must be monotonically increasing for new rows
    (serial PK, ingest timestamp cast to a comparable) — the standard
    append-only contract every watermark-based sync shares. Rows whose
    cursor is NULL are NEVER delivered (every ``> last`` comparison
    excludes them); a nullable cursor column logs a warning at stream
    construction. Each micro-batch reads ``WHERE cursor > last ORDER BY
    cursor LIMIT max_rows_per_batch`` (parameterized, never
    string-spliced), so backpressure falls out of the row budget.
    Exactly-once delivery comes from Spark's offset log:
    ``readBetweenOffsets`` replays a committed (start, end] range
    deterministically. Ties at the boundary are safe because the offset
    is the batch's MAX cursor: for non-unique cursors (timestamps) the
    batch extends past the LIMIT to finish the boundary value, so a
    value never straddles two offsets. That completion is bounded by
    ``boundary_value_limit`` (default ``max(100000, 10*max_rows)``): a
    pathologically coarse cursor (one value shared by millions of rows)
    fails with a clear error instead of silently materializing the
    whole duplicate set on the driver — pick a finer-grained cursor.

    **Visibility contract (the late-commit race).** A plain watermark
    poll commits ``MAX(cursor)`` as the offset, but cursor values are
    assigned at INSERT time while rows become visible at COMMIT time:
    a transaction that inserted cursor=K and commits after a poll that
    advanced the offset past K would be skipped forever. Two fences
    close this, composable per cursor shape:

    * ``cursor_slack`` — deliver only rows with cursor at or below the
      fence: ``MAX(cursor) - slack`` for numeric cursors, ``now() -
      slack::interval`` for timestamp/date cursors. Stragglers whose
      insert-to-commit latency is under the slack are picked up by a
      later poll. Simple, works on any backend; correctness depends on
      the slack actually bounding commit latency.
    * ``xmin_fence=true`` — exact, PostgreSQL-specific (PG13+): each
      poll records ``(pg_snapshot_xmax, MAX(cursor))``; the observed
      max becomes deliverable only once ``pg_snapshot_xmin`` of a later
      poll passes that xmax, i.e. every transaction that was in flight
      when the max was observed has committed or aborted — so every
      row with cursor ≤ the fence is final. Requires cursor values
      allocated monotonically at insert time (sequence/identity, or a
      monotone insert-time clock): a transaction STARTING after poll s
      draws values above poll s's allocated max, so it can never land
      under an already-promoted fence. Pending candidates ride inside
      the offset JSON (``pending: [[xmax, cursor], ...]``), so the
      fence survives restarts; delivery lags by at most the longest
      concurrent write transaction.

    Without either option the reader keeps the plain high-watermark
    poll, which is only lossless when rows become visible in cursor
    order (single writer, or commit order == insert order).

    Polling is driver-side by design (the `simple` reader): one
    watermark probe per micro-batch is inherently serial; downstream
    stages parallelize as usual. The initial offset starts BEFORE the
    existing data (full backfill) unless ``start_from=latest`` — note
    that the latest-start probe is an *unfenced* ``MAX(cursor)``: rows
    from transactions in flight at stream start are skipped as
    pre-stream history even with a fence configured (a warning is
    logged); the fences govern every poll after that point. Batches
    move over the row protocol (~150K rows/s measured — delta-sized
    polls, not bulk); backfill a LARGE existing table with the batch
    reader instead (COPY/Arrow parallel strides, ~5x) and start the
    stream at ``start_from=latest``.
    """

    def __init__(self, options: dict, schema):
        self.options = dict(options)
        self.schema_struct = schema
        self._col = options.get("cursor_column")
        if not self._col:
            raise ValueError(
                "apitap_postgres streaming: 'cursor_column' is required"
            )
        self._max_rows = int(options.get("max_rows_per_batch", 10000))
        self._boundary_limit = int(
            options.get(
                "boundary_value_limit", max(100_000, 10 * self._max_rows)
            )
        )
        raw_fence = str(options.get("xmin_fence", "")).strip().lower()
        if raw_fence in ("true", "1", "yes"):
            self._xmin_fence = True
        elif raw_fence in ("false", "0", "no", ""):
            self._xmin_fence = False
        else:
            # Strict: a typo'd fence option must not silently disable
            # the loss protection it asked for.
            raise ValueError(
                "apitap_postgres streaming: xmin_fence must be a boolean"
                f" (got {options.get('xmin_fence')!r})"
            )
        self._slack = options.get("cursor_slack")
        if self._slack is not None and self._xmin_fence:
            raise ValueError(
                "apitap_postgres streaming: cursor_slack and xmin_fence "
                "are alternative fences — set one"
            )
        self._reader = PostgresReader(self.options, schema)
        if self._xmin_fence or self._slack is not None:
            from pyspark.sql import types as T

            dt = self._cursor_dtype()
            if not isinstance(
                dt,
                (
                    T.LongType, T.IntegerType, T.ShortType,
                    T.DoubleType, T.FloatType, T.DecimalType,
                    T.TimestampType, T.TimestampNTZType, T.DateType,
                ),
            ):
                # xmin fence: promotion compares candidate cursors in
                # PYTHON (_cursor_sort_key); for text cursors Python
                # byte order can disagree with the server collation,
                # which would silently stall the fence (and text can't
                # satisfy monotone allocation anyway). cursor_slack:
                # there is no "text minus delta" — the generated SQL
                # would die at the first poll with a server type error;
                # fail here with direction instead.
                fence_name = (
                    "xmin_fence" if self._xmin_fence else "cursor_slack"
                )
                raise ValueError(
                    f"apitap_postgres streaming: {fence_name} requires "
                    "a numeric, decimal, timestamp, or date "
                    f"cursor_column (got {dt.simpleString()} for "
                    f"{self._col!r})"
                )
        self._warn_if_nullable_cursor()

    # -- cursor typing ---------------------------------------------------
    def _cursor_dtype(self):
        return self.schema_struct[self._col].dataType

    def _cast_suffix(self) -> str:
        """Explicit parameter cast for cursor comparisons. Timestamp
        offsets round-trip through ``str(datetime)`` in the offset log;
        the cast pins how the literal re-parses regardless of the
        server session's TimeZone/DateStyle (timestamptz text from our
        decoder carries an explicit UTC offset, so the instant is
        preserved under any server zone)."""
        from pyspark.sql import types as T

        dt = self._cursor_dtype()
        if isinstance(dt, T.TimestampType):
            return "::timestamptz"
        if isinstance(dt, T.TimestampNTZType):
            return "::timestamp"
        if isinstance(dt, T.DateType):
            return "::date"
        return ""

    def _slack_fence(self) -> tuple[str, list] | None:
        """WHERE fragment + params for the cursor_slack fence, typed by
        the cursor column: numeric → MAX(col) - delta; timestamp/date →
        now() - interval."""
        if self._slack is None:
            return None
        from pyspark.sql import types as T

        col = _quote_ident(self._col)
        dt = self._cursor_dtype()
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            fence = "now() - (%s)::interval"
            if isinstance(dt, T.TimestampNTZType):
                fence = "(now() AT TIME ZONE 'UTC') - (%s)::interval"
            elif isinstance(dt, T.DateType):
                fence = "(now() - (%s)::interval)::date"
            return f"{col} <= {fence}", [str(self._slack)]
        try:
            if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
                delta = int(self._slack)
            elif isinstance(dt, T.DecimalType):
                import decimal

                delta = decimal.Decimal(self._slack)
            else:
                delta = float(self._slack)
        except (TypeError, ValueError, ArithmeticError):
            raise ValueError(
                "apitap_postgres streaming: cursor_slack must be numeric "
                f"for a {dt.simpleString()} cursor column "
                f"(got {self._slack!r})"
            ) from None
        rel = self._reader._relation()
        return (
            f"{col} <= (SELECT MAX({col}) FROM {rel}) - %s",
            [delta],
        )

    def _warn_if_nullable_cursor(self) -> None:
        """NULL cursors are silently excluded by every watermark
        comparison (see class docstring) — surface that at stream
        construction via the catalog (O(1); skipped for query
        relations). Best-effort: a probe failure never blocks the
        stream."""
        if self.options.get("query"):
            return
        try:
            from apitap_spark.sinks import pgwire

            conn = pgwire.connect(self._reader._dsn())
            try:
                cur = conn.cursor()
                cur.execute(
                    "SELECT attnotnull FROM pg_attribute"
                    " WHERE attrelid = (%s)::regclass AND attname = %s"
                    " AND NOT attisdropped",
                    [self.options.get("table"), self._col],
                )
                row = cur.fetchone()
            finally:
                conn.close()
            if row is not None and not row[0]:
                import logging

                logging.getLogger(__name__).warning(
                    "apitap_postgres streaming: cursor column %r is "
                    "NULLable — rows with a NULL cursor are never "
                    "delivered (watermark comparisons exclude NULL). "
                    "Add NOT NULL or choose a different cursor_column.",
                    self._col,
                )
        except Exception:  # pragma: no cover - catalog probe best-effort
            pass

    # SimpleDataSourceStreamReader contract -----------------------------
    def initialOffset(self) -> dict:
        if (self.options.get("start_from") or "earliest") != "latest":
            return {"cursor": None}
        if self._xmin_fence or self._slack is not None:
            import logging

            # The latest-start probe is an UNFENCED MAX(cursor): a row
            # from a transaction in flight at stream start whose cursor
            # lands at or below this max is treated as pre-stream
            # history and never delivered. The fences guard every poll
            # AFTER this point. Quiesce writers across stream start (or
            # backfill with the batch reader from an explicit cursor)
            # if that window matters.
            logging.getLogger(__name__).warning(
                "apitap_postgres streaming: start_from=latest takes an "
                "unfenced snapshot — rows from transactions in flight "
                "RIGHT NOW with cursor <= MAX(%s) are skipped as "
                "pre-stream history; the %s fence applies to later "
                "polls only.",
                self._col,
                "xmin" if self._xmin_fence else "cursor_slack",
            )
        from apitap_spark.sinks import pgwire

        conn = pgwire.connect(self._reader._dsn())
        try:
            cur = conn.cursor()
            cur.execute(
                f"SELECT MAX({_quote_ident(self._col)})"
                f" FROM {self._reader._relation()}"
            )
            (mx,) = cur.fetchone()
        finally:
            conn.close()
        return {"cursor": None if mx is None else str(mx)}

    def _cursor_sort_key(self, raw: str):
        """Comparable Python value for a serialized cursor (fence
        promotion compares candidates; timestamps parse back to
        datetimes so '...00:00:00' vs '...00:00:00.000001' order
        correctly)."""
        from pyspark.sql import types as T

        dt = self._cursor_dtype()
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            import datetime as _dt

            return _dt.datetime.fromisoformat(raw)
        return self._cursor_param(raw)

    def _conn_or_own(self, conn):
        """Context manager: yield ``conn`` when the caller holds the
        poll's shared connection, else open a dedicated one and close
        it on exit — the own-or-borrow dance of every probe helper."""
        if conn is not None:
            return contextlib.nullcontext(conn)
        return self._reader._connection()

    def _advance_xmin_fence(
        self, pending: list, last: str | None, conn=None
    ) -> tuple[str | None, list]:
        """One snapshot+max probe; returns (fence_cursor_or_None,
        new_pending). A pending candidate ``[xmax, cursor]`` becomes the
        fence once ``pg_snapshot_xmin(now) >= xmax`` — every transaction
        in flight when that cursor max was observed has finished, so all
        rows at or below it are visible-or-never (see class docstring
        for the monotone-allocation requirement)."""
        col = _quote_ident(self._col)
        with self._conn_or_own(conn) as c:
            cur = c.cursor()
            cur.execute(
                "SELECT pg_snapshot_xmin(pg_current_snapshot())::text::bigint,"
                " pg_snapshot_xmax(pg_current_snapshot())::text::bigint,"
                f" MAX({col}) FROM {self._reader._relation()}"
            )
            xmin_now, xmax_now, mx = cur.fetchone()
        pending = [[int(x), str(c)] for x, c in pending]
        key = self._cursor_sort_key
        if mx is not None:
            mx_s = str(mx)
            newer = last is None or key(mx_s) > key(last)
            if newer and not any(c == mx_s for _, c in pending):
                pending.append([int(xmax_now), mx_s])
        fence = None
        for x, c in pending:
            if x <= xmin_now and (fence is None or key(c) > key(fence)):
                fence = c
        if len(pending) > 64:
            # Bound offset-log growth under a hot poll loop: thin the
            # middle, keep the oldest (promotes first) and newest (the
            # frontier). Dropping a middle candidate only delays its
            # range's delivery until the next kept candidate promotes.
            pending = pending[:1] + pending[1:-1:2] + pending[-1:]
        return fence, pending

    def _select(self, where: str, params: list, limit: int | None,
                conn=None):
        cols = ", ".join(
            _quote_ident(f.name) for f in self.schema_struct.fields
        )
        col = _quote_ident(self._col)
        sql = (
            f"SELECT {cols} FROM {self._reader._relation()}"
            f" WHERE {where} ORDER BY {col}"
        )
        if limit is not None:
            sql += f" LIMIT {int(limit)}"
        with self._conn_or_own(conn) as c:
            cur = c.cursor()
            cur.execute(sql, params)
            return cur.fetchall()

    def _cursor_param(self, raw: str):
        """Offsets serialize as strings; bind back as the column's
        Python type so pgwire sends a correctly-OID'd parameter AND so
        :meth:`_cursor_sort_key` compares numerically — a DECIMAL
        cursor compared as a Python string would order "10" < "9" and
        permanently stall the xmin fence at the digit-count boundary."""
        import decimal

        from pyspark.sql import types as T

        dt = self.schema_struct[self._col].dataType
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
            return int(raw)
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return float(raw)
        if isinstance(dt, T.DecimalType):
            return decimal.Decimal(raw)
        return raw  # strings / timestamps compare as text literals

    def _count_at(self, boundary, conn=None) -> int:
        col = _quote_ident(self._col)
        with self._conn_or_own(conn) as c:
            cur = c.cursor()
            cur.execute(
                f"SELECT COUNT(*) FROM {self._reader._relation()}"
                f" WHERE {col} = %s{self._cast_suffix()}",
                [boundary],
            )
            (n,) = cur.fetchone()
        return int(n)

    def read(self, start: dict):
        from apitap_spark.sinks import pgwire

        col = _quote_ident(self._col)
        cast = self._cast_suffix()
        last = start.get("cursor")
        end = dict(start)

        where = [f"{col} IS NOT NULL"] if last is None else [
            f"{col} > %s{cast}"
        ]
        params: list = [] if last is None else [self._cursor_param(last)]
        # ONE connection per poll (fence probe + select + optional
        # boundary count/completion share it): a caught-up 5s-trigger
        # sync costs one handshake per interval, not 2-4. Statements on
        # a READ COMMITTED connection each take a fresh snapshot, so
        # visibility is identical to per-statement connections.
        conn = pgwire.connect(self._reader._dsn())
        try:
            if self._xmin_fence:
                fence, pending = self._advance_xmin_fence(
                    start.get("pending") or [], last, conn=conn
                )
                end["pending"] = pending
                if fence is None:
                    return iter([]), end
                where.append(f"{col} <= %s{cast}")
                params.append(self._cursor_param(fence))
            else:
                slack = self._slack_fence()
                if slack is not None:
                    frag, extra_params = slack
                    where.append(frag)
                    params.extend(extra_params)

            rows = self._select(
                " AND ".join(where), params, self._max_rows, conn=conn
            )
            if not rows:
                return iter([]), end
            idx = [
                f.name for f in self.schema_struct.fields
            ].index(self._col)
            boundary = rows[-1][idx]
            if len(rows) == self._max_rows:
                # Finish the boundary value so a non-unique cursor never
                # straddles two offsets (replay safety). The LIMIT'd
                # batch and this follow-up may order ties DIFFERENTLY
                # (plan-dependent), so slicing the follow-up by a count
                # could duplicate emitted rows and drop others — instead
                # REPLACE every boundary-valued row with the follow-up's
                # complete, authoritative set (exactly what
                # readBetweenOffsets replays for this range). The
                # completion is deliberately un-LIMIT'd — but a coarse
                # cursor could make it the whole table, so probe the
                # count first and fail with direction instead of
                # materializing an unbounded batch on the driver.
                n_at = self._count_at(boundary, conn=conn)
                if n_at > self._boundary_limit:
                    raise ValueError(
                        f"apitap_postgres streaming: {n_at} rows share "
                        f"cursor value {boundary!r} — finishing the "
                        f"boundary value would exceed "
                        f"boundary_value_limit={self._boundary_limit}. "
                        f"The cursor column {self._col!r} is too coarse "
                        "for incremental sync; use a finer-grained or "
                        "unique cursor (serial PK, microsecond "
                        "timestamp), or raise boundary_value_limit if "
                        "this cardinality is genuinely intended."
                    )
                if n_at > self._max_rows:
                    import logging

                    logging.getLogger(__name__).warning(
                        "apitap_postgres streaming: boundary completion "
                        "for cursor value %r fetched %d rows — %dx "
                        "max_rows_per_batch=%d. The batch row budget "
                        "cannot bound a micro-batch below the cursor's "
                        "duplicate-set size; consider a finer-grained "
                        "cursor_column.",
                        boundary, n_at, n_at // self._max_rows,
                        self._max_rows,
                    )
                extra = self._select(
                    f"{col} = %s{cast}", [boundary], None, conn=conn
                )
                rows = [r for r in rows if r[idx] != boundary]
                rows.extend(extra)
        finally:
            conn.close()
        end["cursor"] = str(boundary)
        if self._xmin_fence:
            bkey = self._cursor_sort_key(str(boundary))
            end["pending"] = [
                e for e in end["pending"]
                if self._cursor_sort_key(e[1]) > bkey
            ]
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        col = _quote_ident(self._col)
        cast = self._cast_suffix()
        lo, hi = start.get("cursor"), end.get("cursor")
        if hi is None:
            return iter([])
        if lo is None:
            return iter(
                self._select(
                    f"{col} <= %s{cast}", [self._cursor_param(hi)], None
                )
            )
        return iter(
            self._select(
                f"{col} > %s{cast} AND {col} <= %s{cast}",
                [self._cursor_param(lo), self._cursor_param(hi)],
                None,
            )
        )

    def commit(self, end: dict) -> None:  # nothing to clean up
        pass


def read_on_driver(spark, options: dict, max_bytes: int, watermark=None):
    """Read a small table-kind relation once, on the driver, into a local
    DataFrame; returns None when the table is larger than ``max_bytes``
    bytes, missing, not a plain or materialized table (a view's size
    says nothing of its rows), a ``query`` relation, or ``max_bytes`` is
    negative. The caller then takes the DataSource path, whose error on
    a missing table is unchanged.

    ``max_bytes`` bounds both the size on disk (``pg_table_size``, probed
    before any row is read) and the COPY stream itself: TOAST stores
    long text compressed, so a table small on disk can hold many times
    its size in text (measured: 1.5 MB on disk, 97.5 MB of text). A
    stream past the bound drops the connection and returns None.

    One connection runs the size probe, the schema probe
    (:func:`describe_schema`) and :meth:`PostgresReader.read` over the
    whole table (COPY CSV → Arrow), then
    ``spark.createDataFrame`` makes a local relation: no planner
    workers, no Python scan stage, no job. ``watermark`` is an
    incremental ``(cursor, last)``: ``cursor > last`` goes into the
    COPY's WHERE clause (not applied when the relation has no such
    column, as on the DataSource path). The module SQL's own filters run
    in Spark, over at most ``max_bytes``."""
    if max_bytes < 0 or options.get("query"):
        return None
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    reader = PostgresReader(options, None)
    reader.max_copy_bytes = max_bytes
    relation = reader._relation()
    try:
        with reader._connection() as conn:
            cur = conn.cursor()
            # views, partitioned and foreign tables report 0 bytes
            # whatever they hold, so only plain and materialized tables
            # qualify
            cur.execute(
                "SELECT pg_table_size(c.oid) FROM pg_class c"
                " WHERE c.oid = to_regclass(%s) AND c.relkind IN ('r', 'm')",
                [relation],
            )
            row = cur.fetchone()
            if row is None or row[0] > max_bytes:
                return None
            schema = describe_schema(conn, relation)
            reader.schema_struct, reader.conn = schema, conn
            if watermark is not None and watermark[0] in schema.names:
                cursor, last = watermark
                reader.pushed = [_filter_to_sql(GreaterThan((cursor,), last))]
            out = list(reader.read(RangePartition(None)))
    except CopyTooLarge:
        return None
    table = (
        pa.Table.from_batches(out) if out
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


def register(spark) -> None:
    spark.dataSource.register(PostgresDataSource)
