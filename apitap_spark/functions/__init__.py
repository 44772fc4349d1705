"""Reusable column-expression helpers and their NumPy kernel twins.

The reference registers zero UDFs (SURVEY §2.2 Q14); the column helpers
are composed from ``pyspark.sql.functions`` so they stay inside
whole-stage codegen at any scale. ``vectors`` also holds the NumPy folds
the Arrow embedding kernels share, so one module fixes the fold order
both engines' cosines must agree on.
"""

from apitap_spark.functions.text import (
    normalize_ws,
    shingles,
    token_count,
    tokens,
)
from apitap_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "tokens",
    "token_count",
    "shingles",
    "normalize_ws",
    "dot",
    "l2_norm",
    "cosine_similarity",
]
