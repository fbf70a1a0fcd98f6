"""Replica-parity + tau tests for multi-source BFS layers and the
mergeable-histogram quantile sketch."""

from __future__ import annotations

import collections

import numpy as np

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"
GATE_SF = "/root/testdata/sf0.01"


def test_bfs_matches_python_bfs(spark):
    got = registry._QUERIES["bfs_customer_supplier_reach"](spark, SF).toPandas()
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .count()
        .where("count >= 3")
        .toPandas()
    )
    seeds = {
        f"C{r.c_custkey}"
        for r in load_table(spark, SF, "customer")
        .where("c_nationkey = 8")
        .collect()
    }
    adj = collections.defaultdict(set)
    nodes = set()
    for r in pairs.itertuples():
        c, s = f"C{r.o_custkey}", f"S{r.l_suppkey}"
        adj[c].add(s)
        adj[s].add(c)
        nodes |= {c, s}
    dist = {n: 0 for n in seeds & nodes}
    frontier = set(dist)
    d = 0
    while frontier:
        d += 1
        nxt = {v for u in frontier for v in adj[u] if v not in dist}
        for v in nxt:
            dist[v] = d
        frontier = nxt
    want = dict(dist)
    assert dict(zip(got["node"], got["dist"])) == want
    # tau: multi-hop structure exists (not a 1-hop star)
    assert got["dist"].max() >= 2


def test_bfs_depth_rich_at_gate_sf(spark):
    got = registry._QUERIES["bfs_customer_supplier_reach"](
        spark, GATE_SF
    ).toPandas()
    # the sf0.01 gate graph has >= 5 populated layers (simulated before
    # shipping; regression here so a data/threshold change fails loudly)
    assert got["dist"].nunique() >= 5


def test_histogram_quantile_contract(spark):
    got = registry._QUERIES["histogram_quantile_estimate"](spark, SF).toPandas()
    assert len(got) == 15  # 5 event types x 3 percentiles
    # the sketch's error contract: estimate is the bucket's UPPER edge,
    # so signed error sits in [0, bound] — pinned for every row
    assert (got["within_bound"] == 1).all()
    err = got["est_hi_millis"] - got["exact_millis"]
    assert (err >= 0).all() and (err <= got["bound_millis"]).all()
    # exact column really is the rank statistic (numpy replica)
    ev = (
        load_table(spark, SF, "events")
        .selectExpr("event_type", "CAST(floor(value * 1000) AS BIGINT) AS v")
        .toPandas()
    )
    for (et, p), grp in got.groupby(["event_type", "p"]):
        vs = np.sort(ev[ev["event_type"] == et]["v"].to_numpy())
        target = (p * len(vs) + 99) // 100
        assert grp["exact_millis"].iloc[0] == vs[target - 1]
