"""Guards on the package surface (no Spark).

Every public module-level ``def``/``class`` in the package must be
referenced by code outside ``tests/``: the package itself, ``tools/``,
``perfbench/``, ``bench.py`` or the entry module ``__spark_entry__.py``.
A function only a unit test calls is code no job, query or benchmark
runs; wire it into a registered query's path or delete it with its
tests. Registered queries (``@query``) count as used.

Only the session builder and the stream runner name
``spark.sql.shuffle.partitions``: batch plans size their shuffles per
plan, and a query that writes the session conf changes the width of
every other plan running on that session.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "wistia_etl_pipeline_spark"

#: Unreferenced definitions that stay, each with its reason.
KEEP = {
    # Reference implementations a remaining test compares the live path
    # against.
    "functions/dedupe.py:with_simhash",  # for with_simhash_pandas
    "functions/clustering.py:assign_expr",
    "functions/dtw.py:banded_dtw_reference",
    # Regression pin: DuckDB's uncast integer SUM is HUGEINT
    # (tests/test_hugeint_canary.py).
    "queries/q04_canaries_curation.py:canary_sum_hugeint_uncast",
    # Test doubles named by string (``module:callable``) in datasource
    # options.
    "sources/fake_api.py:bare_array_transport_from_options",
    "sources/fake_api.py:transport_factory_from_options",
    "sources/fake_api.py:wistia_fake_transport_from_options",
    "sources/mock_transport.py:make_factory",
    # Production entry points a deployment names as ``module:callable``
    # or builds for executor-side fetch (jobs.py).
    "sources/http_transport.py:transport_from_options",
    "sources/http_transport.py:HttpTransportFactory",
    "sources/http_transport.py:wistia_stats_url",
}


def _code_files():
    for d in (PACKAGE, "tools", "perfbench"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def _is_query(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def _unreferenced() -> set[str]:
    defs = []  # (key, name, ids of the nodes inside the definition)
    refs: dict[str, list[int]] = {}
    trees = []  # kept alive so node ids stay unique across files
    for path in _code_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        trees.append(tree)
        if path.is_relative_to(ROOT / PACKAGE):
            rel = path.relative_to(ROOT / PACKAGE).as_posix()
            for node in tree.body:
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")
                    and not _is_query(node)
                ):
                    inner = {id(n) for n in ast.walk(node)}
                    defs.append((f"{rel}:{node.name}", node.name, inner))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            refs.setdefault(name, []).append(id(node))
    return {
        key
        for key, name, inner in defs
        if not any(r not in inner for r in refs.get(name, ()))
    }


def test_every_public_definition_has_a_code_reference():
    unreferenced = _unreferenced()
    assert not unreferenced - KEEP, (
        "public definitions that only tests reference (wire each into a "
        f"code path or delete it with its tests): {sorted(unreferenced - KEEP)}"
    )
    assert not KEEP - unreferenced, (
        f"keep-list entries that are now referenced or gone: {sorted(KEEP - unreferenced)}"
    )


#: The functions that may name ``spark.sql.shuffle.partitions``.
SHUFFLE_CONF_OWNERS = {
    "session.py:get_spark",
    "streaming/pipeline.py:run_available",
}


def _shuffle_conf_users() -> set[str]:
    key = "spark.sql.shuffle.partitions"
    found = set()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        rel = path.relative_to(ROOT / PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        docstrings = {
            id(n.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and key in node.value
                    and id(node) not in docstrings
                ):
                    found.add(f"{rel}:{owner}")
    return found


def test_only_the_session_builder_and_stream_runner_set_the_shuffle_width():
    users = _shuffle_conf_users()
    assert users <= SHUFFLE_CONF_OWNERS, (
        "spark.sql.shuffle.partitions named outside get_spark and "
        f"run_available: {sorted(users - SHUFFLE_CONF_OWNERS)}"
    )
    assert users == SHUFFLE_CONF_OWNERS, (
        f"owners that no longer name it: {sorted(SHUFFLE_CONF_OWNERS - users)}"
    )
