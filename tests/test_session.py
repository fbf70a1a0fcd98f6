"""Session-level engine settings: the static confs ``get_spark`` builds
in and the runtime confs ``apply_runtime_confs`` enforces."""

from __future__ import annotations

import pytest

from wistia_etl_pipeline_spark import session as S


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlives_spark_default(spark):
    """Spark's default generated-class cache holds 100 entries; after
    more distinct plans than that, re-running the first one must still
    hit the cache instead of compiling again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        S.CODEGEN_CACHE_MAX_ENTRIES
    )

    def run(i: int) -> None:
        # the literal is inlined into the generated code: one distinct
        # class set per value
        assert spark.range(1).selectExpr(f"id + {i} AS v").collect()[0].v == i

    run(0)
    start = _compiles(spark)
    for i in range(1, 121):
        run(i)
    before = _compiles(spark)
    assert before - start > 100  # more than the default cache holds
    run(0)
    assert _compiles(spark) == before


def test_apply_runtime_confs_names_refused_keys(spark, monkeypatch):
    """A conf the session refuses (here a static one) fails loudly with
    its key named, after every other conf is applied."""
    static = "spark.sql.codegen.cache.maxEntries"
    confs = {static: "7", **S.RUNTIME_CONFS}
    monkeypatch.setattr(S, "RUNTIME_CONFS", confs)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
    try:
        with pytest.raises(RuntimeError, match=static) as err:
            S.apply_runtime_confs(spark)
        assert "CANNOT_MODIFY_STATIC_CONFIG" in str(err.value)
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10MB"
    finally:
        monkeypatch.undo()
        S.apply_runtime_confs(spark)



def test_ship_package_raises_and_marks_only_after_success(monkeypatch):
    """A context that refuses the package zip fails the call loudly and
    stays unmarked, so the next call ships again; once shipped, a
    context is not shipped twice."""

    class _Context:
        def __init__(self):
            self.refuse = True
            self.added = []

        def addPyFile(self, path):
            if self.refuse:
                raise RuntimeError("addPyFile refused")
            self.added.append(path)

    class _Session:
        def __init__(self, sc):
            self.sparkContext = sc

    monkeypatch.setattr(S, "_SHIPPED", set())
    sc = _Context()
    with pytest.raises(RuntimeError, match="addPyFile refused"):
        S._ship_package(_Session(sc))
    assert id(sc) not in S._SHIPPED

    sc.refuse = False
    S._ship_package(_Session(sc))
    S._ship_package(_Session(sc))
    assert len(sc.added) == 1 and id(sc) in S._SHIPPED
