"""Server-free tests of the apitap_postgres filter rendering and the
COPY byte cap of the driver read."""

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
        self.chunks, self.sent = chunks, 0

    def cursor(self):
        return self

    def copy_expert(self, sql, file):
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
