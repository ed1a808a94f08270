"""The query registry: ``@query`` registers a plan under its function
name together with its DuckDB oracle, and ``queries()`` /
``oracle_sql()`` import every module of this package once to find
them all."""

from __future__ import annotations

import functools
import importlib
import pkgutil
from collections.abc import Callable

_QUERIES: dict[str, Callable] = {}
_ORACLES: dict[str, str] = {}


def query(*, oracle: str | None) -> Callable[[Callable], Callable]:
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` function
    as the query ``fn.__name__``, checked against the DuckDB SQL
    ``oracle`` (``None``: the query has no deterministic oracle).
    Returns the function itself; a second function under a registered
    name raises."""

    def register(fn: Callable) -> Callable:
        if fn.__name__ in _QUERIES:
            raise ValueError(f"query {fn.__name__!r} is already registered")
        _QUERIES[fn.__name__] = fn
        if oracle is not None:
            _ORACLES[fn.__name__] = oracle
        return fn

    return register


@functools.cache
def _discover() -> None:
    package = __name__.rpartition(".")[0]
    path = importlib.import_module(package).__path__
    for mod in sorted(m.name for m in pkgutil.iter_modules(path)):
        importlib.import_module(f"{package}.{mod}")


def queries() -> dict[str, Callable]:
    """Every registered query, by name."""
    _discover()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """The oracle SQL of every query that has one, by query name."""
    _discover()
    return dict(_ORACLES)
