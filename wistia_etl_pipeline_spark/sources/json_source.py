"""Schema'd JSON sources — S1 + the page-shape normalizer (SURVEY.md §2.1).

The reference reads bronze JSON with inference (silver.py:29,:73) and
tolerates two page payload shapes via ``_page_shape`` (bronze.py:135-146):
a bare JSON array, or an envelope object carrying the array under one of
``data|events|items|results`` (plus optional ``total``/``per_page``).

Spark-first redesign:
- explicit StructType (no sampling pass, stable types, column pruning
  reaches the JSON parser),
- PERMISSIVE mode with a ``_corrupt_record`` column instead of failing
  the job on one bad page,
- the shape normalizer as a *declarative expression* over a raw-text
  scan: ``spark.read.text`` → ``from_json`` both shapes → coalesce →
  explode. The whole thing is one codegen'd projection per file —
  no driver-side JSON parsing, scales to any number of page files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import RAW_EVENT_SCHEMA

#: Envelope keys accepted by the reference's ``_page_shape``
#: (bronze.py:138-143), probed in this order.
ENVELOPE_KEYS = ("data", "events", "items", "results")


def read_events_json(spark: SparkSession, path_glob: str) -> DataFrame:
    """S1 — multi-file JSON-lines scan with explicit schema
    (replaces silver.py:29's inferred ``spark.read.json``)."""
    return (
        spark.read.schema(RAW_EVENT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path_glob)
    )


def normalize_pages(
    spark: SparkSession,
    path_glob: str,
    element_schema: T.StructType = RAW_EVENT_SCHEMA,
) -> DataFrame:
    """Shape-normalize whole-page payload files into one row per element.

    Reproduces ``_page_shape`` (bronze.py:135-146) as a single
    declarative plan: each file is ONE payload (bare array or
    envelope); the array is pulled out of whichever shape matched and
    exploded. Bad payloads (neither shape) yield zero rows rather than
    failing the scan.
    """
    arr_type = T.ArrayType(element_schema)
    env_type = T.StructType(
        [T.StructField(k, arr_type) for k in ENVELOPE_KEYS]
        + [
            T.StructField("total", T.LongType()),
            T.StructField("per_page", T.LongType()),
        ]
    )
    raw = spark.read.text(path_glob, wholetext=True)
    bare = F.from_json(F.col("value"), arr_type)
    env = F.from_json(F.col("value"), env_type)
    # Dispatch on the leading character (the reference's isinstance-list
    # probe): from_json(ArrayType) would "helpfully" parse an envelope
    # object as a 1-element array of nulls, so coalesce alone is wrong.
    is_array = F.ltrim(F.col("value")).startswith("[")
    elements = F.when(is_array, bare).otherwise(
        F.coalesce(*[env.getField(k) for k in ENVELOPE_KEYS])
    )
    return (
        raw.select(F.explode(elements).alias("e"))
        .select("e.*")
        .drop("_corrupt_record")
    )
