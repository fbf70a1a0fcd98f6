"""Registry inventory pins. Pure Python — no Spark session — so they run
in seconds and fail fast when a chunk import is dropped or a query loses
its oracle."""

from __future__ import annotations

import __spark_entry__ as entrymod
from wistia_etl_pipeline_spark import registry

N_QUERIES = 314


def test_registry_holds_every_query():
    """A chunk import silently dropped from ``queries/__init__.py`` (or a
    query deleted by accident) changes the count."""
    assert len(registry.queries()) == N_QUERIES


def test_every_query_has_an_oracle():
    qs, oracles = registry.queries(), registry.oracle_sql()
    assert [n for n in qs if n not in oracles] == []
    assert [n for n in oracles if n not in qs] == []


def test_order_is_chunk_registration_order():
    """Chunks register in import order (q01 … q15, zero-padded so the
    module names sort the same way), each in definition order."""
    keys = [
        (fn.__wrapped__.__module__, fn.__wrapped__.__code__.co_firstlineno)
        for fn in registry.queries().values()
    ]
    assert keys == sorted(keys)
    assert list(registry.oracle_sql()) == list(registry.queries())


def test_entry_point_serves_the_registry():
    assert list(entrymod.queries().items()) == list(registry.queries().items())
    assert list(entrymod.oracle_sql().items()) == list(registry.oracle_sql().items())


def test_returned_dicts_are_copies():
    qs, oracles = registry.queries(), registry.oracle_sql()
    qs.clear()
    oracles.pop(next(iter(oracles)))
    assert len(registry.queries()) == N_QUERIES
    assert len(registry.oracle_sql()) == N_QUERIES
