"""Registration state shared by the query chunk modules.

Split out of the registry monolith in r8 (VERDICT r7 #6). The dicts here
are THE registry: ``registry.py`` re-exports them, and every chunk module
registers into them via the ``query`` decorator at import time.
``queries/__init__.py`` imports the chunks in canonical (original file)
order, so registration order is identical to the pre-split monolith no
matter which module a caller imports first.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable + optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco
