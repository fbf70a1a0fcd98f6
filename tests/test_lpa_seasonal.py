"""Replica-parity + tau tests for label propagation and the
seasonal-naive backtest."""

from __future__ import annotations

import collections

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.functions.graph import label_propagation
from wistia_etl_pipeline_spark.queries.q01_core_gold_silver import _DUP_SHIFT
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_lpa_matches_python_replica(spark):
    edges = spark.createDataFrame(
        # two triangles bridged by one edge + an isolated pair
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (10, 11)],
        "src: long, dst: long",
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    adj = collections.defaultdict(set)
    for s, d in [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (10, 11)]:
        adj[s].add(d)
        adj[d].add(s)
    labels = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n in adj:
            cnt = collections.Counter(labels[v] for v in adj[n])
            cnt[labels[n]] += 1  # self-inclusive vote (anti-oscillation)
            new[n] = min(cnt, key=lambda l: (-cnt[l], l))
        labels = new
    assert got == labels
    # the isolated pair must agree — the oscillation regression
    assert labels[10] == labels[11]
    assert got[10] == got[11]


def test_lpa_query_community_structure(spark):
    got = registry._QUERIES["label_propagation_communities"](
        spark, SF
    ).toPandas()
    sizes = got.groupby("community").size()
    # tau: real communities — more than one, and multi-member ones exist
    assert len(sizes) > 1
    assert (sizes > 1).any()
    # every injected exact-dup pair (doc, doc+shift) shares a community
    base = got.set_index("node")["community"]
    orig = got[got["node"] < _DUP_SHIFT]["node"]
    paired = orig[(orig + _DUP_SHIFT).isin(base.index)]
    assert len(paired) > 0
    assert all(
        base[n] == base[n + _DUP_SHIFT] for n in paired
    )


def test_seasonal_backtest_matches_pandas(spark):
    got = registry._QUERIES["seasonal_forecast_backtest"](spark, SF).toPandas()
    ev = (
        load_table(spark, SF, "events")
        .selectExpr("event_type", "to_date(ts) AS dt")
        .toPandas()
    )
    import pandas as pd

    daily = ev.groupby(["event_type", "dt"]).size().rename("n").reset_index()
    full = pd.date_range(daily["dt"].min(), daily["dt"].max(), freq="D").date
    for _, r in got.iterrows():
        g = (
            daily[daily["event_type"] == r["event_type"]]
            .set_index("dt")["n"]
            .reindex(full, fill_value=0)
        )
        f = g.shift(7)
        mask = f.notna() & (f + g > 0)
        a, fp = g[mask].astype(int), f[mask].astype(int)
        smape = sum(
            abs(int(x) - int(y)) * 1_000_000 // (int(x) + int(y))
            for x, y in zip(fp, a)
        ) // int(mask.sum())
        assert r["n_scored"] == int(mask.sum())
        assert r["smape_micro"] == smape
        assert r["mae_micro"] == (fp - a).abs().sum() * 1_000_000 // mask.sum()
        # tau: the baseline is imperfect but sane — error strictly inside
        # (0, 100%) so the metric is actually discriminating
        assert 0 < r["smape_micro"] < 1_000_000
