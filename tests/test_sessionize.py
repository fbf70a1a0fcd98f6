"""Sessionization: batch gaps-and-islands and the session_window
rollup; salted aggregation and join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from wistia_etl_pipeline_spark.operators.sessionize import (
    session_rollup,
    sessionize,
)


def _t(minute):
    return dt.datetime(2024, 1, 1, 10, minute, 0)


def _events(spark):
    rows = [
        # user a: burst (0,10,20), silence, burst (120,125)
        Row(user="a", ts=_t(0), event_id=1),
        Row(user="a", ts=_t(10), event_id=2),
        Row(user="a", ts=_t(20), event_id=3),
        Row(user="a", ts=dt.datetime(2024, 1, 1, 12, 0), event_id=4),
        Row(user="a", ts=dt.datetime(2024, 1, 1, 12, 5), event_id=5),
        # user b: one event
        Row(user="b", ts=_t(5), event_id=6),
    ]
    return spark.createDataFrame(rows)


def test_sessionize_rows(spark):
    out = sessionize(
        _events(spark), user="user", event_time="ts", gap_minutes=30, tiebreak="event_id"
    ).collect()
    seq = {r.event_id: r.session_seq for r in out}
    assert seq == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1}


def test_session_rollup_matches_row_grain(spark):
    out = session_rollup(
        _events(spark), user="user", event_time="ts", gap_minutes=30
    ).collect()
    assert len(out) == 3
    sessions = {(r.user, r.session_start.isoformat()): r for r in out}
    a1 = sessions[("a", "2024-01-01T10:00:00")]
    assert a1.n_events == 3 and a1.session_end == _t(20)
    a2 = sessions[("a", "2024-01-01T12:00:00")]
    assert a2.n_events == 2
    assert sessions[("b", "2024-01-01T10:05:00")].n_events == 1


def test_salted_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [Row(k="hot", id=i, v=float(i)) for i in range(1000)]
        + [Row(k="cold", id=i + 10_000, v=1.0) for i in range(10)]
    )
    salted = {
        r.k: (r.n, r.sum_v, r.min_v, r.max_v)
        for r in salted_agg(
            df, ["k"], salt_from="id", n_salts=8,
            sum_cols=["v"], min_cols=["v"], max_cols=["v"],
        )
        .select("k", "n", F.col("sum_v").alias("sum_v"),
                F.col("min_v").alias("min_v"), F.col("max_v").alias("max_v"))
        .collect()
    }
    plain = {
        r.k: (r.n, r.sum_v, r.min_v, r.max_v)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"),
             F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k][0] == plain[k][0]
        assert abs(salted[k][1] - plain[k][1]) < 1e-6
        assert salted[k][2:] == plain[k][2:]


def test_salted_join_matches_plain_join(spark):
    """Salting changes the shuffle's shape, never the result — including
    under heavy key skew and with keys missing from either side."""
    from pyspark.sql import Row, functions as F

    from wistia_etl_pipeline_spark.operators.skew import salted_join

    # one hot key (90% of rows), a cold key, and an unmatched key
    fact = spark.createDataFrame(
        [Row(k="hot", ev=i, v=float(i)) for i in range(900)]
        + [Row(k="cold", ev=1000 + i, v=1.0) for i in range(90)]
        + [Row(k="orphan", ev=2000 + i, v=2.0) for i in range(10)]
    )
    dim = spark.createDataFrame([Row(k="hot", tag="H"), Row(k="cold", tag="C"),
                                 Row(k="unused", tag="U")])

    plain = fact.join(dim, "k").groupBy("k", "tag").agg(
        F.count("*").alias("n"), F.sum("ev").alias("s"))
    salted = salted_join(fact, dim, ["k"], salt_from="ev", n_salts=8).groupBy(
        "k", "tag").agg(F.count("*").alias("n"), F.sum("ev").alias("s"))
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}

    # left join keeps orphans exactly once per fact row
    lj = salted_join(fact, dim, ["k"], salt_from="ev", n_salts=8, how="left")
    assert lj.filter(F.col("k") == "orphan").count() == 10
    assert lj.count() == fact.count()
