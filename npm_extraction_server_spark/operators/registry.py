"""The driver contract's one registry. ``@query(oracle)`` on a query
function records it under its ``__name__`` in ``SPARK_QUERIES`` and,
unless ``oracle`` is None (rows-only), its DuckDB SQL in
``ORACLE_SQL``. Imports nothing heavy, so a module can register
queries without loading the suite."""

from collections.abc import Callable

SPARK_QUERIES: dict[str, Callable] = {}
ORACLE_SQL: dict[str, str] = {}


def query(oracle: str | None):
    def register(fn):
        SPARK_QUERIES[fn.__name__] = fn
        if oracle is not None:
            ORACLE_SQL[fn.__name__] = oracle
        return fn

    return register
