"""The declared test-table schemas (``schemas.TEST_TABLE_SCHEMAS``) and
the read path built on them (``session.load_table``).

A declared schema reads a column the files no longer have as nulls, so
the pin against Spark's own inference is the only thing that notices a
regenerated table."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from wistia_etl_pipeline_spark.schemas import TEST_TABLE_SCHEMAS, as_nullable
from wistia_etl_pipeline_spark.session import load_table

_PERFBENCH_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "data", "sf0.1"
)


@pytest.mark.parametrize("which", ["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def test_declared_schemas_equal_inferred(spark, sf_dir, which):
    """Every dir of test tables: the seed-42 sets at the three SFs (next
    to the test SF's dir) and the benchmark's byte copies of two."""
    if which == "perfbench":
        data_dir = _PERFBENCH_DATA
    else:
        data_dir = os.path.join(os.path.dirname(sf_dir), which)
    files = os.listdir(data_dir) if os.path.isdir(data_dir) else []
    tables = sorted(f[: -len(".parquet")] for f in files if f.endswith(".parquet"))
    if not tables:
        pytest.skip(f"no test tables in {data_dir}")
    for name in tables:
        assert name in TEST_TABLE_SCHEMAS, f"{data_dir}/{name}.parquet has no declared schema"
        inferred = spark.read.parquet(os.path.join(data_dir, f"{name}.parquet")).schema
        assert TEST_TABLE_SCHEMAS[name] == inferred, name
        assert load_table(spark, data_dir, name).schema == inferred, name


def test_load_table_runs_no_spark_job(spark, sf_dir):
    """Inference reads a footer in a Spark job per table; a declared
    schema plans the scan without one."""
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        for name in TEST_TABLE_SCHEMAS:
            load_table(spark, sf_dir, name)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


def test_load_table_refuses_undeclared_name(spark, sf_dir):
    with pytest.raises(ValueError, match="no declared schema"):
        load_table(spark, sf_dir, "partsupp")


def test_as_nullable_is_the_schema_parquet_reads_back(spark, tmp_path):
    """A frame's schema through ``as_nullable`` equals the one Spark
    infers from the Parquet the frame wrote, nested fields included, so
    a file stream can take it instead of an inference job."""
    df = spark.range(3).select(
        F.col("id"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
        F.array(F.col("id")).alias("arr"),
        F.create_map(F.lit("k"), F.struct(F.col("id").alias("c"))).alias("m"),
        F.current_timestamp().alias("ts"),
    )
    assert not df.schema["s"].nullable  # the writer's schema is not nullable
    path = str(tmp_path / "t")
    df.write.parquet(path)
    assert as_nullable(df.schema) == spark.read.parquet(path).schema
