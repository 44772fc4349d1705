"""Query plans: the engine's SQL-surface coverage, one callable per operator family.

The reference advertises "Full SQL support (joins, aggregations, window
functions)" via its embedded DataFusion 47 session (reference
``README.md:98-101``, ``Cargo.toml:24``); SURVEY.md §2.2 enumerates the
families Q1–Q12. Here each family is exercised by at least one
DataFrame-API query with a DuckDB oracle, over the driver's TPC-H-ish
testdata.
"""

from apitap_spark import registry
from apitap_spark.plans import (
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    timeseries,
)

QUERIES, ORACLES = registry.of_modules(
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    timeseries,
)

__all__ = ["QUERIES", "ORACLES"]
