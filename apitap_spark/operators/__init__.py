"""Large-scale training-data pipeline operators (beyond the reference surface).

Sanctioned by the build north star (BASELINE.json): dedup, similarity
search, text analysis, and multimodal column plumbing as first-class
engine operators, each exposed through the driver contract
(``queries()`` / ``oracle_sql()``).
"""

from apitap_spark import registry
from apitap_spark.operators import (
    bpe,
    corpus,
    curation,
    dedup,
    features,
    graph,
    incremental,
    ml,
    multimodal,
    planning,
    quality,
    sampling,
    similarity,
    temporal,
    textclean,
    textstats,
    udtf_ops,
)

QUERIES, ORACLES = registry.of_modules(
    dedup,
    similarity,
    textstats,
    multimodal,
    udtf_ops,
    curation,
    graph,
    temporal,
    sampling,
    ml,
    incremental,
    textclean,
    corpus,
    quality,
    bpe,
    features,
    planning,
)

__all__ = ["QUERIES", "ORACLES"]
