"""Replica-parity + tau tests for the bitmap-index retention rollup and
the gaps-and-islands interval union. The DuckDB oracles prove
cross-engine agreement; these prove the constructions against an
independent pandas/python replica and that the semantics are actually
EXERCISED at test SF (islands merge, bitmaps intersect non-trivially)."""

from __future__ import annotations

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_bitmap_matches_exact_distinct(spark):
    got = (
        registry._QUERIES["bitmap_retention_rollup"](spark, SF)
        .toPandas()
        .sort_values("dt")
        .reset_index(drop=True)
    )
    ev = (
        load_table(spark, SF, "events")
        .selectExpr("to_date(ts) AS dt", "user_id")
        .where("user_id IS NOT NULL")
        .toPandas()
    )
    day_sets = ev.groupby("dt")["user_id"].agg(lambda s: set(s))
    for _, r in got.iterrows():
        assert r["active_users"] == len(day_sets[r["dt"]])
        import datetime

        nxt = r["dt"] + datetime.timedelta(days=1)
        want = len(day_sets[r["dt"]] & day_sets[nxt]) if nxt in day_sets else 0
        assert r["retained_next"] == want
    # tau: intersections are non-trivial — strictly between 0 and active
    mid = got.iloc[:-1]
    assert (mid["retained_next"] > 0).any()
    assert (mid["retained_next"] < mid["active_users"]).any()


def test_interval_union_matches_python_sweep(spark):
    got = registry._QUERIES["interval_union_coverage"](spark, SF).toPandas()
    iv = (
        load_table(spark, SF, "events")
        .selectExpr(
            "user_id",
            "unix_micros(ts) div 1000000 AS s",
            "unix_micros(ts) div 1000000"
            " + 60 * CAST(floor(value) AS BIGINT) + 60 AS e",
        )
        .where("user_id IS NOT NULL")
        .toPandas()
    )
    for _, r in got.iterrows():
        spans = sorted(
            iv[iv["user_id"] == r["user_id"]][["s", "e"]].itertuples(
                index=False, name=None
            )
        )
        merged = []
        for s, e in spans:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        assert r["n_intervals"] == len(spans)
        assert r["n_islands"] == len(merged)
        assert r["covered_seconds"] == sum(e - s for s, e in merged)
    # tau: merging actually happens (unions are smaller than the sums)
    assert (got["n_islands"] < got["n_intervals"]).any()
    # and not everything collapses to one island per user
    assert (got["n_islands"] > 1).any()
