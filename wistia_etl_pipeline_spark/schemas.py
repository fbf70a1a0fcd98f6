"""Explicit schemas for every table the engine touches.

The reference infers bronze schemas by sampling (``spark.read.json`` with
no schema — silver.py:29,73 per SURVEY.md §1.2), which silently drifts
run-to-run. We pin explicit StructTypes (SURVEY.md §7.4 "schema drift")
so scans prune columns at parse time and types are stable.

Reference DDL parity (docstrings cite reference file:line):
- ``RAW_EVENT_SCHEMA``    ← fields consumed at silver.py:32-52
- ``RAW_METADATA_SCHEMA`` ← fields consumed at silver.py:75-85
- ``FACT_EVENTS_SCHEMA``  ← wistia_redshift_schemas.py:3-23
- ``DIM_MEDIA_SCHEMA``    ← wistia_redshift_schemas.py:28-38
- ``MEDIA_DAILY_AGG_SCHEMA`` ← wistia_redshift_schemas.py:43-52
- ``WATERMARK_SCHEMA``    ← bronze watermark doc, wistia_pull_wistia_api.py:48-77

``TEST_TABLE_SCHEMAS`` declares the ten seed-42 test tables (TESTDATA.md)
that ``session.load_table`` reads. Reading them by inference would cost
every query build a footer-reading Spark job; ``tests/test_schemas.py``
pins each declaration to the schema Spark infers from every test-data
directory, so a regenerated table fails there instead of reading a
renamed column as nulls.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Bronze (raw) schemas — explicit replacements for schema inference.
# --------------------------------------------------------------------------

USER_AGENT_DETAILS = T.StructType(
    [
        T.StructField("browser", T.StringType()),
        T.StructField("browser_version", T.StringType()),
        T.StructField("platform", T.StringType()),
        T.StructField("mobile", T.BooleanType()),
    ]
)

#: One raw event object, as emitted per page by the bronze zone
#: (fields read at silver.py:32-52; FIXTURES.md §1.1).
RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_key", T.StringType()),
        T.StructField("received_at", T.StringType()),  # ISO-8601, "Z" or "+00:00"
        T.StructField("percent_viewed", T.DoubleType()),
        T.StructField("embed_url", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("ip", T.StringType()),
        T.StructField("user_agent_details", USER_AGENT_DETAILS),
        T.StructField("visitor_key", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("org", T.StringType()),
        T.StructField("media_id", T.StringType()),
        T.StructField("media_name", T.StringType()),
        # populated by corrupt-record handling in sources.json_source
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

#: One raw media-metadata object (fields read at silver.py:75-85;
#: FIXTURES.md §1.2). ``duration`` arrives string-or-number → StringType
#: then cast (silver.py:78 casts to double).
RAW_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("hashed_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("duration", T.StringType()),
        T.StructField("created", T.StringType()),
        T.StructField("updated", T.StringType()),
        T.StructField("section", T.StringType()),
        T.StructField("subfolder", T.StructType([T.StructField("name", T.StringType())])),
        T.StructField("thumbnail", T.StructType([T.StructField("url", T.StringType())])),
        T.StructField("project", T.StructType([T.StructField("name", T.StringType())])),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

# --------------------------------------------------------------------------
# Conformed (silver / gold) schemas.
# --------------------------------------------------------------------------

#: fact_events — wistia_redshift_schemas.py:3-23 (19 columns).
FACT_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_key", T.StringType()),
        T.StructField("received_at", T.TimestampType()),
        T.StructField("percent_viewed", T.DoubleType()),
        T.StructField("embed_url", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("ip", T.StringType()),
        T.StructField("user_agent_browser", T.StringType()),
        T.StructField("user_agent_browser_version", T.StringType()),
        T.StructField("user_agent_platform", T.StringType()),
        T.StructField("user_agent_mobile", T.BooleanType()),
        T.StructField("visitor_key", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("org", T.StringType()),
        T.StructField("media_id", T.StringType()),
        T.StructField("media_name", T.StringType()),
    ]
)

#: dim_media — wistia_redshift_schemas.py:28-38.
DIM_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("media_name", T.StringType()),
        T.StructField("duration_seconds", T.DoubleType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
        T.StructField("section_name", T.StringType()),
        T.StructField("subfolder_name", T.StringType()),
        T.StructField("thumbnail_url", T.StringType()),
        T.StructField("project_name", T.StringType()),
    ]
)

#: media_daily_agg — wistia_redshift_schemas.py:43-52.
MEDIA_DAILY_AGG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("dt", T.DateType()),
        T.StructField("load_count", T.LongType()),
        T.StructField("play_count", T.LongType()),
        T.StructField("play_rate", T.DoubleType()),
        T.StructField("hours_watched", T.DoubleType()),
        T.StructField("engagement", T.DoubleType()),
        T.StructField("visitors", T.LongType()),
    ]
)

#: Watermark/checkpoint state row — one per media id
#: (wistia_pull_wistia_api.py:48-77; configs/watermarks.json).
WATERMARK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("updated", T.StringType()),  # ISO-8601 high-water mark
        T.StructField("next_page", T.IntegerType()),  # events_checkpoint.next_page
        T.StructField("last_received_at", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# Test tables (TESTDATA.md) — read by ``session.load_table``.
# --------------------------------------------------------------------------


def _table(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


#: The ten test tables, keyed by table name. Timestamps are micros
#: without a timezone annotation in the files; they read as session-UTC
#: TimestampType (see ``spark.sql.parquet.inferTimestampNTZ.enabled`` in
#: ``session.RUNTIME_CONFS``).
TEST_TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _table(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
    "nation": _table(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _table(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _table(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _table(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _table(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _table(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _table(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _table(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _table(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}
