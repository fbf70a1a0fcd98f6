"""Replica-parity + tau tests for path mining and the systematic-sample
estimator."""

from __future__ import annotations

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_top_paths_matches_pandas(spark):
    got = registry._QUERIES["top_event_paths"](spark, SF).toPandas()
    ev = (
        load_table(spark, SF, "events")
        .selectExpr("user_id", "to_date(ts) AS dt", "event_type", "ts",
                    "event_id")
        .where("user_id IS NOT NULL")
        .toPandas()
    )
    paths = (
        ev.sort_values(["ts", "event_id"])
        .groupby(["user_id", "dt"])["event_type"]
        .agg(lambda s: ">".join(s.head(3)))
    )
    want = paths.value_counts().to_dict()
    assert dict(zip(got["path"], got["n_user_days"])) == want
    # tau: multi-step paths dominate and more than one shape exists
    assert len(got) > 1
    assert got[got["path"].str.contains(">")]["n_user_days"].sum() > 0


def test_systematic_sample_unbiased_and_bounded(spark):
    got = registry._QUERIES["systematic_sample_estimate"](spark, SF).toPandas()
    assert len(got) == 5
    # estimates are exact-count x10 of the sampled subset (replica)
    ev = (
        load_table(spark, SF, "events")
        .selectExpr("event_type", "event_id",
                    "CAST(floor(value * 100) AS BIGINT) AS cents")
        .toPandas()
    )
    for _, r in got.iterrows():
        sub = ev[ev["event_type"] == r["event_type"]]
        samp = sub[sub["event_id"] % 10 == 0]
        assert r["n_exact"] == len(sub)
        assert r["n_est"] == len(samp) * 10
        assert r["cents_est"] == samp["cents"].sum() * 10
        assert (
            r["n_err_micro"]
            == abs(r["n_est"] - r["n_exact"]) * 1_000_000 // r["n_exact"]
        )
    # tau: the sample is non-degenerate — estimates nonzero, errors
    # nonzero somewhere (a 0-row sample would make n_est all 0)
    assert (got["n_est"] > 0).all()
    assert (got["n_err_micro"] > 0).any()
    # and the estimator is in the right ballpark: per-type sample size
    # at sf0.001 is ~20, so 1/sqrt(n) ~ 22%; allow 2 sigma
    assert (got["n_err_micro"] < 450_000).all()
