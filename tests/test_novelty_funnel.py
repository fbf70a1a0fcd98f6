"""Replica-parity + tau tests for n-gram novelty decay and the
window funnel."""

from __future__ import annotations

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.queries.q08_timeseries_paths import _FUNNEL_W, _NOVELTY_BATCH
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"
GATE_SF = "/root/testdata/sf0.01"


def test_novelty_matches_python_replica(spark):
    got = (
        registry._QUERIES["ngram_novelty_by_batch"](spark, SF)
        .toPandas()
        .sort_values("batch")
        .reset_index(drop=True)
    )
    docs = (
        load_table(spark, SF, "documents")
        .selectExpr(
            f"doc_id div {_NOVELTY_BATCH} AS batch",
            "split(trim(text), '\\\\s+') AS t",
        )
        .toPandas()
    )
    batch_grams: dict[int, set[str]] = {}
    for r in docs.itertuples():
        t = list(r.t)
        gs = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        batch_grams.setdefault(r.batch, set()).update(gs)
    seen: set[str] = set()
    for _, row in got.iterrows():
        gs = batch_grams[row["batch"]]
        new = gs - seen
        assert row["n_grams"] == len(gs)
        assert row["n_new"] == len(new)
        assert row["novelty_micro"] == len(new) * 1_000_000 // len(gs)
        seen |= gs
    # tau: first batch is 100% novel; decay actually happens after it
    assert got.iloc[0]["novelty_micro"] == 1_000_000
    assert (got.iloc[1:]["novelty_micro"] < 1_000_000).all()
    assert (got["novelty_micro"] > 0).all()


def test_window_funnel_matches_python_replica(spark):
    got = registry._QUERIES["window_funnel_levels"](spark, SF).toPandas()
    ev = (
        load_table(spark, SF, "events")
        .selectExpr(
            "user_id", "event_type", "unix_micros(ts) div 1000000 AS t"
        )
        .where("user_id IS NOT NULL")
        .toPandas()
    )
    W = _FUNNEL_W
    for _, r in got.iterrows():
        u = ev[ev["user_id"] == r["user_id"]]
        vs = sorted(u[u["event_type"] == "view"]["t"])
        cs = sorted(u[u["event_type"] == "click"]["t"])
        ps = sorted(u[u["event_type"] == "purchase"]["t"])
        level = 1 if vs else 0
        if any(v < c <= v + W for v in vs for c in cs):
            level = 2
        if any(
            v < c <= v + W and c < p <= v + W
            for v in vs
            for c in cs
            for p in ps
        ):
            level = 3
        assert r["funnel_level"] == level, r["user_id"]


def test_window_funnel_levels_discriminate_at_gate(spark):
    got = registry._QUERIES["window_funnel_levels"](spark, GATE_SF).toPandas()
    counts = got["funnel_level"].value_counts()
    # measured when _FUNNEL_W was chosen: every level non-empty
    assert set(counts.index) == {1, 2, 3}
