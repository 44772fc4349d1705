"""Warehouse sinks: schema-creating, version-aware merge/upsert writer."""

from apitap_spark.sinks.jdbc_merge import (
    Dialect,
    DuckDbDialect,
    JdbcMergeWriter,
    PostgresDialect,
    WriteMode,
    ddl_for_schema,
    pg_type_for,
    quote_ident,
    quote_ident_path,
)

__all__ = [
    "JdbcMergeWriter",
    "WriteMode",
    "Dialect",
    "PostgresDialect",
    "DuckDbDialect",
    "pg_type_for",
    "ddl_for_schema",
    "quote_ident",
    "quote_ident_path",
]
