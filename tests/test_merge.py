"""A7 upsert: stage-wins, idempotent, composite keys, materialized merge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.operators.merge import merge_into_path, upsert
from wistia_etl_pipeline_spark.sources.txlog import TxLogTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_upsert_stage_wins_and_inserts(spark):
    target = spark.createDataFrame(
        [Row(media_id="m1", v=1), Row(media_id="m2", v=2)]
    )
    stage = spark.createDataFrame(
        [Row(media_id="m2", v=20), Row(media_id="m3", v=30)]
    )
    out = upsert(target, stage, ["media_id"])
    assert _rows(out) == [("m1", 1), ("m2", 20), ("m3", 30)]


def test_upsert_idempotent(spark):
    target = spark.createDataFrame([Row(media_id="m1", v=1), Row(media_id="m2", v=2)])
    stage = spark.createDataFrame([Row(media_id="m2", v=20)])
    once = upsert(target, stage, ["media_id"])
    twice = upsert(once, stage, ["media_id"])
    assert _rows(once) == _rows(twice)  # delete-insert replay converges


def test_upsert_composite_key(spark):
    target = spark.createDataFrame(
        [Row(media_id="m1", dt="d1", v=1), Row(media_id="m1", dt="d2", v=2)]
    )
    stage = spark.createDataFrame([Row(media_id="m1", dt="d2", v=22)])
    out = upsert(target, stage, ["media_id", "dt"])
    assert _rows(out) == [("m1", "d1", 1), ("m1", "d2", 22)]


def test_merge_into_path_roundtrip(spark, tmp_path):
    path = str(tmp_path / "agg")
    first = spark.createDataFrame([Row(media_id="m1", v=1), Row(media_id="m2", v=2)])
    merge_into_path(spark, first, path, ["media_id"])  # bootstrap: no target yet
    assert _rows(spark.read.parquet(path)) == [("m1", 1), ("m2", 2)]

    delta = spark.createDataFrame([Row(media_id="m2", v=20), Row(media_id="m3", v=3)])
    merge_into_path(spark, delta, path, ["media_id"])
    assert _rows(spark.read.parquet(path)) == [("m1", 1), ("m2", 20), ("m3", 3)]

    # replaying the same delta must not change the table (idempotency)
    merge_into_path(spark, delta, path, ["media_id"])
    assert _rows(spark.read.parquet(path)) == [("m1", 1), ("m2", 20), ("m3", 3)]


@pytest.mark.parametrize("extra", ["target", "stage"])
def test_merge_into_path_refuses_mismatched_columns(spark, tmp_path, extra):
    """The target is read with the stage's schema, so a column only one
    side has must raise: a target-only column would vanish from the
    rewrite, a stage-only one would fill the old rows with nulls."""
    path = str(tmp_path / "t")
    narrow = spark.createDataFrame([("m1", 1)], "media_id string, v long")
    wide = spark.createDataFrame([("m1", 2, "x")], "media_id string, v long, w string")
    merge_into_path(spark, wide if extra == "target" else narrow, path, ["media_id"])
    stage = narrow if extra == "target" else wide
    with pytest.raises(ValueError, match=r"\['w'\]"):
        merge_into_path(spark, stage, path, ["media_id"])
    assert len(spark.read.parquet(path).columns) == (3 if extra == "target" else 2)


@pytest.mark.parametrize("protocol", ["swap", "txlog"])
def test_both_commit_protocols_write_one_merge_plan(spark, tmp_path, protocol):
    """merge_into_path and TxLogTable.merge write the same MERGE plan:
    the same rows, every stage row computed exactly once (the stage cut),
    and a small merge clustered into one file."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(k):
        calls.add(1)
        return k

    target = spark.range(100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    stage = spark.range(90, 110).select(counted("id").alias("k"), F.lit("new").alias("v"))
    path = str(tmp_path / "t")
    if protocol == "swap":
        merge_into_path(spark, target, path, ["k"])
        merge_into_path(spark, stage, path, ["k"])
        got = spark.read.parquet(path)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    else:
        table = TxLogTable(path)
        table.overwrite(target)
        table.merge(spark, stage, ["k"])
        got = table.read(spark)
        files = table._manifest(table.current_version())["files"]
    assert _rows(got) == [(k, "old" if k < 90 else "new") for k in range(110)]
    assert calls.value == 20
    assert len(files) == 1


def _crash_then_replay(spark, tmp_path, crash_swap, name, setup, op):
    """Run ``op`` on a table built by ``setup`` with its swap killed after
    each filesystem step in turn, then rerun ``op``: every replay must
    end at the rows of an uninterrupted ``op`` and leave no ``__old``."""
    ref = str(tmp_path / f"{name}_ref")
    setup(ref)
    with crash_swap(None, ref) as steps:
        op(ref)
    want = _rows(spark.read.parquet(ref))
    assert steps["done"] == 3  # rename aside, rename in, drop the old
    for step in range(1, steps["done"] + 1):
        path = str(tmp_path / f"{name}_{step}")
        setup(path)
        with crash_swap(step, path) as crashed, pytest.raises(
            RuntimeError, match="injected crash"
        ):
            op(path)
        assert crashed["crashed"]
        op(path)  # the replay
        assert _rows(spark.read.parquet(path)) == want, f"crash after swap step {step}"
        assert not os.path.exists(path + "__old")


def test_merge_swap_crash_at_every_step_converges_on_replay(spark, tmp_path, crash_swap):
    base = spark.createDataFrame([(k, f"v{k}") for k in range(100)], "k long, v string")
    delta = spark.createDataFrame(
        [(k, f"w{k}") for k in range(95, 105)], "k long, v string"
    )
    _crash_then_replay(
        spark, tmp_path, crash_swap, "merge",
        lambda path: merge_into_path(spark, base, path, ["k"]),
        lambda path: merge_into_path(spark, delta, path, ["k"]),
    )
