"""Connected components (functions/graph.py) vs a union-find oracle."""

import random

from pyspark.sql import functions as F

from wistia_etl_pipeline_spark.functions.graph import connected_components, dup_clusters


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _expected(edges):
    comp = _uf_components(edges)
    roots = {}
    for n, r in comp.items():
        roots.setdefault(r, []).append(n)
    return {n: min(roots[r]) for n, r in comp.items()}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _expected(edges)


def test_cc_simple_chain(spark):
    # A path graph is the adversarial case for min-propagation (depth =
    # diameter); large-star/small-star collapses it logarithmically.
    _run(spark, [(i, i + 1) for i in range(1, 40)])


def test_cc_two_components_and_cycle(spark):
    _run(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (5, 5)])


def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for _ in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(80)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _run(spark, edges)


def test_dup_clusters_total_assignment(spark):
    pairs = spark.createDataFrame([(2, 5), (5, 9)], "a_id long, b_id long")
    universe = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs, universe=universe).collect()
    }
    assert got[2] == got[5] == got[9] == 2
    singles = {d: c for d, c in got.items() if d not in (2, 5, 9)}
    assert all(d == c for d, c in singles.items())
    assert len(got) == 10


def test_cc_no_driver_adjacency(spark):
    # The fixpoint star-forest is itself distributed — assert the result
    # is a DataFrame computation, not a collected dict re-parallelized.
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = connected_components(df)
    assert out.where(F.col("node") == 1).count() == 1


def _pagerank_python(edges, nodes, iterations=3, scale=1_000_000):
    """Pure-Python replica of the exact-integer PageRank rule."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    base = (scale * 15) // 100
    r = {n: scale for n in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += (85 * r[s]) // (100 * deg[s])
        r = {n: base + inflow.get(n, 0) for n in nodes}
    return r


def test_pagerank_matches_python_replica(spark):
    from pyspark.sql import Row
    from wistia_etl_pipeline_spark.functions.graph import pagerank

    # star (hub 0 — leaves 1..4) plus an isolated pair and a dangler
    pairs = [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11)]
    edges = pairs + [(b, a) for a, b in pairs]
    nodes = [0, 1, 2, 3, 4, 10, 11, 99]  # 99 has no edges
    edf = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    ndf = spark.createDataFrame([Row(id=n) for n in nodes])
    got = {
        r.id: r.rank
        for r in pagerank(edf, ndf, iterations=3).collect()
    }
    assert got == _pagerank_python(edges, nodes)
    # structural sanity: the hub outranks its leaves; the isolated
    # node holds exactly the base rank
    assert got[0] > got[1] == got[2] == got[3] == got[4]
    assert got[99] == (1_000_000 * 15) // 100


def test_pagerank_dangling_mass_retires(spark):
    from pyspark.sql import Row
    from wistia_etl_pipeline_spark.functions.graph import pagerank

    # directed chain 1 -> 2 -> 3; node 3 is dangling (no out-edges)
    edf = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=3)])
    ndf = spark.createDataFrame([Row(id=n) for n in (1, 2, 3)])
    got = {r.id: r.rank for r in pagerank(edf, ndf, iterations=2).collect()}
    assert got == _pagerank_python(
        [(1, 2), (2, 3)], [1, 2, 3], iterations=2
    )
    # source node decays to base; downstream accumulates
    assert got[1] == (1_000_000 * 15) // 100
    assert got[3] > got[2] > got[1]


# ---------------------------------------------------------------------------
# triangle_stats (degree-ordered node-iterator) vs a brute-force oracle
# ---------------------------------------------------------------------------


def _brute_triangles(edges):
    """{node: (degree, n_triangles)} by direct neighbor-set intersection."""
    nbrs = {}
    for a, b in edges:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    out = {}
    for n, ns in nbrs.items():
        t = sum(len(nbrs[v] & ns) for v in ns) // 2
        out[n] = (len(ns), t)
    return out


def _run_triangles(spark, edges):
    from wistia_etl_pipeline_spark.functions.graph import triangle_stats

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["lcc_micro"])
        for r in triangle_stats(df).collect()
    }
    exp = _brute_triangles(edges)
    exp_rows = {
        n: (d, t, (2 * t * 1_000_000) // (d * (d - 1)))
        for n, (d, t) in exp.items()
        if d >= 2
    }
    assert got == exp_rows


def test_triangle_path_graph_has_none(spark):
    _run_triangles(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])


def test_triangle_clique4_all_closed(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    _run_triangles(spark, edges)
    # every node of K4: degree 3, 3 triangles, lcc = 1.0
    from wistia_etl_pipeline_spark.functions.graph import triangle_stats

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    rows = triangle_stats(df).collect()
    assert all(r["lcc_micro"] == 1_000_000 and r["n_triangles"] == 3 for r in rows)


def test_triangle_random_graph_matches_brute_force(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(30))
    edges = [
        (a, b)
        for a in nodes
        for b in nodes
        if a < b and rng.random() < 0.15
    ]
    # duplicate + reversed entries must not change counts
    noisy = edges + [(b, a) for a, b in edges[::3]] + edges[::5]
    _run_triangles(spark, noisy)


def test_triangle_hub_with_open_wedges(spark):
    # star K1,5 + one closed pair: hub has exactly 1 triangle, 10 wedges
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    from wistia_etl_pipeline_spark.functions.graph import triangle_stats

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["node"]: r for r in triangle_stats(df).collect()}
    assert got[0]["degree"] == 5 and got[0]["n_triangles"] == 1
    assert got[0]["lcc_micro"] == (2 * 1 * 1_000_000) // (5 * 4)
    assert got[1]["n_triangles"] == 1 and got[2]["n_triangles"] == 1


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------


def _kcore_replica(edges, k):
    """Reference peeling over a python adjacency: returns
    {node: (peel_round, core_deg)}."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    peel_round = {n: 0 for n in adj}
    r = 0
    while True:
        r += 1
        doomed = {n for n in alive if len(adj[n] & alive) < k}
        if not doomed:
            break
        for n in doomed:
            peel_round[n] = r
        alive -= doomed
    return {
        n: (peel_round[n], len(adj[n] & alive) if n in alive else 0)
        for n in adj
    }


def _run_kcore(spark, edges, k=2):
    from wistia_etl_pipeline_spark.functions.graph import kcore_peel

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r["node"]: (r["peel_round"], r["core_deg"])
        for r in kcore_peel(df, k=k, src="a_id", dst="b_id").collect()
    }
    assert got == _kcore_replica(edges, k)


def test_kcore_path_graph_peels_completely(spark):
    # path 0-1-2-3-4: endpoints peel r1, next pair r2, center r3
    _run_kcore(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])


def test_kcore_triangle_with_tail(spark):
    # triangle 0-1-2 survives; tail 2-3-4 peels outward-in
    _run_kcore(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])


def test_kcore_k3_on_k4_and_pendant(spark):
    # K4 survives the 3-core; the pendant and its anchor logic peel
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    _run_kcore(spark, k4 + [(3, 9)], k=3)


def test_kcore_random_graph_matches_replica(spark):
    import random

    rng = random.Random(11)
    edges = [
        (a, b)
        for a in range(24)
        for b in range(24)
        if a < b and rng.random() < 0.12
    ]
    noisy = edges + [(b, a) for a, b in edges[::4]] + edges[::7]
    _run_kcore(spark, noisy)


def test_kcore_raises_when_bound_too_small(spark):
    # path 0..7 needs 4 peel rounds for k=2 (endpoints inward); with
    # max_rounds=2 the survivors {2,3,4,5} still hold a sub-2-degree
    # node, so the fixpoint invariant (every survivor's core_deg >= k)
    # must raise — the bound's honesty is the differential oracle's
    # precondition.
    import pytest

    from wistia_etl_pipeline_spark.functions.graph import kcore_peel

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint in 2 rounds"):
        kcore_peel(df, k=2, max_rounds=2, src="a_id", dst="b_id")
    with pytest.raises(ValueError, match="max_rounds"):
        kcore_peel(df, k=2, max_rounds=0, src="a_id", dst="b_id")


def test_kcore_restores_shuffle_partitions_conf(spark, monkeypatch):
    # the session conf is left as found because kcore_peel never writes
    # it: any write to spark.sql.shuffle.partitions — on the success or
    # the raise path — fails the test
    import pytest
    from pyspark.sql.conf import RuntimeConfig

    from wistia_etl_pipeline_spark.functions.graph import kcore_peel

    real_set = RuntimeConfig.set

    def guarded_set(self, key, value):
        if key == "spark.sql.shuffle.partitions":
            raise AssertionError(f"kcore_peel set {key}={value}")
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", guarded_set)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "a_id long, b_id long"
    )
    kcore_peel(tri, k=2, src="a_id", dst="b_id").collect()
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        kcore_peel(path, k=2, max_rounds=2, src="a_id", dst="b_id")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# deterministic random walks
# ---------------------------------------------------------------------------


def test_random_walks_match_python_replay(spark):
    import hashlib

    from wistia_etl_pipeline_spark.functions.graph import random_walks

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0)]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    adj = {n: sorted(set(v)) for n, v in adj.items()}

    def step(cur, walk, t):
        h = int(
            hashlib.md5(f"{cur}:{walk}:{t}".encode()).hexdigest()[:15], 16
        )
        return adj[cur][h % len(adj[cur])]

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = random_walks(
        df, walks_per_node=2, walk_length=3, src="a_id", dst="b_id"
    ).collect()
    assert len(got) == len(adj) * 2
    for r in got:
        cur, path = r["node"], [r["node"]]
        for t in (1, 2, 3):
            cur = step(cur, r["walk_id"], t)
            path.append(cur)
        assert r["path"] == "-".join(str(p) for p in path), r
        assert r["end_node"] == cur


def test_random_walks_cover_all_neighbors_eventually(spark):
    """On a star graph every leaf's single neighbor is the hub, and the
    hub's walks land on hash-chosen leaves — paths stay inside the edge
    set (no invented transitions)."""
    from wistia_etl_pipeline_spark.functions.graph import random_walks

    edges = [(0, i) for i in range(1, 6)]
    allowed = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    for r in random_walks(df, src="a_id", dst="b_id").collect():
        seq = [int(x) for x in r["path"].split("-")]
        assert all((a, b) in allowed for a, b in zip(seq, seq[1:])), r


def test_kcore_hypothesis_random_graphs_match_replica(spark):
    """Property check of the r11 keep-set rewrite: on arbitrary small
    edge lists (self-loops, duplicates, both orientations, any k) the
    unrolled ladder must agree with the straightforward Python peel
    replica — the algebraic claim (peel_round = #keeps + 1 under
    keep-set monotonicity) holds for every graph, not just the
    handcrafted shapes above. Spark jobs are slow, so examples are few
    but adversarially shaped by hypothesis shrinking."""
    from hypothesis import given, settings, strategies as st

    edge = st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    )

    @settings(max_examples=12, deadline=None)
    @given(
        edges=st.lists(edge, min_size=1, max_size=25),
        k=st.integers(min_value=1, max_value=4),
    )
    def check(edges, k):
        # drop pure-self-loop graphs: no edge survives, nothing to peel
        if all(a == b for a, b in edges):
            return
        _run_kcore(spark, [(int(a), int(b)) for a, b in edges], k=k)

    check()
