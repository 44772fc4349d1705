"""The gate registry: every query plan and operator gate registers here.

``@gate(name, oracle)`` records a ``(spark, sf_dir) -> DataFrame`` build
function in ``QUERIES`` and, when given, its DuckDB oracle SQL in
``ORACLES``. A name registers once: a second registration raises at
import, so no module can shadow another module's gate (or its own).
"""

from __future__ import annotations

from collections.abc import Callable

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}


def gate(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            taken = QUERIES[name]
            raise ValueError(
                f"gate {name!r} is already registered by "
                f"{taken.__module__}.{taken.__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def of_modules(*modules) -> tuple[dict, dict]:
    """``(QUERIES, ORACLES)`` of the gates ``modules`` register, module
    by module in the given order, each in registration order."""
    names = [
        n for m in modules for n, fn in QUERIES.items() if fn.__module__ == m.__name__
    ]
    return {n: QUERIES[n] for n in names}, {n: ORACLES[n] for n in names if n in ORACLES}
