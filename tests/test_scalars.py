"""F1-F7 scalar surface units (the oracle queries cover them in
composition; these pin the individual semantics)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.functions import scalars as S


def _one(spark, col, **row):
    return spark.createDataFrame([Row(**row)]).select(col.alias("v")).collect()[0].v


def test_max_timestamp(spark):
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, d)) for d in (1, 5, 3)]
    )
    hwm = df.agg(S.max_timestamp("ts").alias("m")).collect()[0].m
    assert hwm.day == 5


def test_json_extract_strip_cast(spark):
    v = _one(spark, S.extract_json_field(F.col("t"), "$.token"), t=' {"token": "abc"} ')
    assert v == "abc"
    assert _one(spark, S.strip(F.col("t")), t="  x  ") == "x"
    assert _one(spark, S.to_double(F.col("t")), t="123.5") == 123.5


def test_coalesce_updated_order(spark):
    col = S.coalesce_updated(
        F.col("updated"), F.col("updated_at"), F.col("created"),
        sentinel="1970-01-01T00:00:00Z",
    )
    schema = "updated string, updated_at string, created string"
    df = spark.createDataFrame([(None, "u2", "c"), (None, None, None)], schema)
    got = [r.v for r in df.select(col.alias("v")).collect()]
    assert got == ["u2", "1970-01-01T00:00:00Z"]


def test_gap_fill_query_semantics(spark, sf_dir):
    """Structural properties of the resample+LOCF query: spine dense
    per user, zero-gap days carry the previous observed value, first
    day always observed."""
    import __spark_entry__ as entry

    rows = entry.queries()["timeseries_gap_fill"](spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert rows and any(r.is_gap == 1 for r in rows)
    for uid, series in list(by_user.items())[:20]:
        series.sort(key=lambda r: r.dt)
        # dense spine: consecutive days, no holes
        days = [r.dt for r in series]
        assert all((b - a).days == 1 for a, b in zip(days, days[1:]))
        # first day observed; LOCF: gap rows repeat the last seen value
        assert series[0].is_gap == 0 and series[0].v_filled is not None
        last_v = None
        for r in series:
            if r.is_gap == 0:
                last_v = r.v_filled
            else:
                assert r.n_events == 0 and r.v_filled == last_v


def test_ewma_query_matches_python_recurrence(spark, sf_dir):
    """The folded EWMA must equal the plain-Python recurrence on the
    same per-user day series."""
    import __spark_entry__ as entry

    rows = entry.queries()["ewma_user_activity"](spark, sf_dir).collect()
    series = {}
    for r in rows:
        series.setdefault(r.user_id, []).append(r)
    assert rows
    for uid, s in list(series.items())[:25]:
        s.sort(key=lambda r: r.dt)
        e = None
        for r in s:
            e = r.n_events if e is None else (r.n_events + e) // 2
            assert r.ewma == e, (uid, r.dt)
