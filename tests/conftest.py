"""Shared Spark fixture. One local session per test run (JVM spin-up is
~10 s; per-test sessions would dominate runtime)."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from wistia_etl_pipeline_spark.session import get_spark

    spark = get_spark("wistia-etl-pipeline-spark-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class _StepFs:
    """A Hadoop FileSystem whose mutating calls (rename, delete) are
    counted in ``steps["done"]``; the call that completes step
    ``crash_after`` raises right after it lands — a process death
    after that filesystem step."""

    def __init__(self, fs, steps: dict, crash_after: int | None):
        self._fs, self._steps, self._crash_after = fs, steps, crash_after

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in ("rename", "delete"):
            return attr

        def step(*args):
            out = attr(*args)
            self._steps["done"] += 1
            if self._steps["done"] == self._crash_after:
                self._steps["crashed"] = True
                raise RuntimeError(f"injected crash after swap step {self._crash_after}")
            return out

        return step


@pytest.fixture
def crash_swap(monkeypatch):
    """``with crash_swap(step, path) as steps:`` — inside the block, the
    rename swap of the table at ``path`` (of every table if None) dies
    right after its ``step``-th filesystem step, counted across the
    block; ``step=None`` only counts. ``steps`` holds ``done`` (steps
    taken) and ``crashed``."""
    from wistia_etl_pipeline_spark.operators import merge as merge_mod

    real_fs = merge_mod._fs

    @contextmanager
    def crash(step: int | None, path: str | None = None):
        steps = {"done": 0, "crashed": False}

        def fs(spark, p):
            real = real_fs(spark, p)
            return real if path not in (None, p) else _StepFs(real, steps, step)

        with monkeypatch.context() as m:
            m.setattr(merge_mod, "_fs", fs)
            yield steps

    return crash
