"""Server-free tests of the apitap_postgres filter rendering, the COPY
byte cap of the driver read and the stride read's type handling."""

from __future__ import annotations

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

from apitap_spark.sources.pgsource import (
    CopyTooLarge,
    PostgresReader,
    RangePartition,
    _filter_to_sql,
)

NAN, INF = float("nan"), float("inf")


@pytest.mark.parametrize(
    "f, sql",
    [
        (GreaterThan(("v",), NAN), "\"v\" > 'NaN'::float8"),
        (EqualTo(("v",), NAN), "\"v\" = 'NaN'::float8"),
        (LessThan(("v",), INF), "\"v\" < 'Infinity'::float8"),
        (GreaterThan(("v",), -INF), "\"v\" > '-Infinity'::float8"),
        (EqualTo(("v",), INF), "\"v\" = 'Infinity'::float8"),
        (
            In(("v",), (NAN, INF, -INF, 1.5)),
            "\"v\" IN ('NaN'::float8, 'Infinity'::float8, "
            "'-Infinity'::float8, 1.5)",
        ),
    ],
)
def test_non_finite_floats_render_as_float8_literals(f, sql):
    """repr() of a non-finite float is a bare nan/inf/-inf, which Postgres
    reads as a column name; the pushed filter must carry a float8 literal."""
    assert _filter_to_sql(f) == sql


def test_finite_literals_unchanged():
    assert _filter_to_sql(GreaterThan(("v",), 1.5)) == '"v" > 1.5'
    assert _filter_to_sql(EqualTo(("n",), 7)) == '"n" = 7'
    assert _filter_to_sql(EqualTo(("b",), True)) == '"b" = TRUE'
    assert _filter_to_sql(EqualTo(("s",), "it's")) == "\"s\" = 'it''s'"


class _FakeCopyConn:
    """Streams ``chunks`` into the file of ``copy_expert`` as CopyData
    frames arrive; records how many it delivered."""

    def __init__(self, chunks):
        self.chunks, self.sent, self.sql = chunks, 0, None

    def cursor(self):
        return self

    def copy_expert(self, sql, file):
        self.sql = sql
        for c in self.chunks:
            file.write(c)
            self.sent += 1


def _capped_reader(conn, cap):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType())])
    reader = PostgresReader({"dsn": "unused", "table": "t"}, schema)
    reader.conn, reader.max_copy_bytes = conn, cap
    return reader


def test_copy_stream_past_the_cap_stops_mid_copy():
    """A capped reader stops at the first frame that would pass the cap:
    it raises before buffering it, and no later frame is read."""
    conn = _FakeCopyConn([b"1\n2\n", b"3\n4\n", b"5\n6\n"])
    with pytest.raises(CopyTooLarge):
        list(_capped_reader(conn, 7).read(RangePartition(None)))
    assert conn.sent == 1


def test_copy_stream_within_the_cap_reads_every_row():
    conn = _FakeCopyConn([b"1\n2\n", b"3\n"])
    batches = list(_capped_reader(conn, 6).read(RangePartition(None)))
    assert [v for b in batches for v in b.column(0).to_pylist()] == [1, 2, 3]


def test_stride_read_converts_timestamptz_and_bytea():
    """The COPY selects a timestamptz as UTC wall time and a bytea as hex,
    and the reader turns them back into UTC timestamps and bytes; every
    other column keeps its plain select-list entry."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import types as T

    conn = _FakeCopyConn(
        [b"1,00ff0a,2024-03-10 06:59:59.5\n", b"2,,1850-01-01 00:00:00\n3,\\N,\\N\n"]
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("by", T.BinaryType()),
            T.StructField("tz", T.TimestampType()),
        ]
    )
    reader = PostgresReader({"dsn": "unused", "table": "t"}, schema)
    reader.conn = conn
    batches = list(reader.read(RangePartition(None)))
    assert conn.sql == (
        """COPY (SELECT "id", encode("by", 'hex') AS "by","""
        """ ("tz" AT TIME ZONE 'UTC') AS "tz" FROM "t")"""
        """ TO STDOUT WITH (FORMAT csv, NULL '\\N')"""
    )
    tbl = pa.Table.from_batches(batches)
    assert tbl.schema.field("by").type == pa.binary()
    assert tbl.schema.field("tz").type == pa.timestamp("us", tz="UTC")
    utc = dt.timezone.utc
    assert tbl.to_pylist() == [
        {"id": 1, "by": b"\x00\xff\n",
         "tz": dt.datetime(2024, 3, 10, 6, 59, 59, 500000, tzinfo=utc)},
        {"id": 2, "by": b"", "tz": dt.datetime(1850, 1, 1, tzinfo=utc)},
        {"id": 3, "by": None, "tz": None},
    ]


def test_unreadable_schema_type_is_refused_by_column_name():
    """A ``.schema()`` type outside the OID mapping fails before any COPY
    runs, with the column named."""
    from pyspark.sql import types as T

    conn = _FakeCopyConn([b"1\n"])
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    reader = PostgresReader({"dsn": "unused", "table": "t"}, schema)
    reader.conn = conn
    with pytest.raises(ValueError, match="'tags'"):
        list(reader.read(RangePartition(None)))
    assert conn.sql is None
