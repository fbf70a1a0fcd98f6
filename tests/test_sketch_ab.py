"""Replica-parity tests for the r5 continuation wave-2 analytics:
KMV set-algebra sketch, A/B chi-square, and source TV divergence.
The DuckDB oracles prove cross-engine agreement; these tests prove the
FORMULAS agree with an independent (numpy/pandas) implementation, so
both engines being wrong the same way is ruled out for the core math."""

from __future__ import annotations

import numpy as np

from wistia_etl_pipeline_spark import registry
from wistia_etl_pipeline_spark.queries.q07_sketches_graph import _KMV_K
from wistia_etl_pipeline_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_kmv_merge_lemma_and_error_bound(spark):
    got = registry._QUERIES["sketch_kmv_distinct"](spark, SF).toPandas()
    assert len(got) == 10  # 5 event types -> 10 unordered pairs
    # merge lemma: k smallest of the two k-sketches == k smallest of the
    # full element union, for every pair
    assert (got["merge_exact"] == 1).all()
    # estimator sanity: within 4 standard errors (sigma ~ 1/sqrt(k-2))
    rel = (got["union_est"] - got["exact_union"]).abs() / got["exact_union"]
    assert (rel < 4.0 / np.sqrt(_KMV_K - 2)).all(), rel.max()
    # tau lesson: jaccard strictly inside (0, 1) for every pair
    assert (got["jaccard_micro"] > 0).all()
    assert (got["jaccard_micro"] < 1_000_000).all()
    # intersection estimate consistent: jaccard * union floor-div k
    want = got["jaccard_micro"] * got["union_est"] // 1_000_000
    # inter_est = matches*union_est div nku; jaccard = matches*1e6 div nku
    # -- the two floor-divs differ by at most 1 ulp of the scaled grid
    assert (
        (got["inter_est"] - want).abs()
        <= got["union_est"] // 1_000_000 + 1
    ).all()


def test_kmv_exact_when_set_smaller_than_k(spark):
    """A set with fewer than k distinct elements is stored whole, so the
    'estimate' must be exact (the sketch degenerates to the set)."""
    from pyspark.sql import functions as F

    # 3 users x 2 days per type -> 6 distinct elements < k = 32
    rows = [
        (t, u, f"2024-01-0{d}")
        for t in ("x", "y")
        for u in (1, 2, 3)
        for d in (1, 2)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long, ds string")
    df = df.select(
        "event_type", "user_id", F.col("ds").cast("timestamp").alias("ts")
    )
    import tempfile, os

    root = tempfile.mkdtemp(prefix="kmv_small_")
    df.select(
        F.monotonically_increasing_id().alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(os.path.join(root, "events.parquet"))
    got = registry._QUERIES["sketch_kmv_distinct"](spark, root).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert r["union_est"] == r["exact_union"] == 6
    assert r["inter_est"] == r["exact_inter"] == 6
    assert r["jaccard_micro"] == 1_000_000


def test_ab_chisq_matches_numpy_formula(spark):
    got = registry._QUERIES["experiment_ab_chisq"](spark, SF).toPandas()
    assert set(got["experiment"]) == {"null", "planted"}
    for _, r in got.iterrows():
        a, b, c, d = (float(r[k]) for k in ("a", "b", "c", "d"))
        n = a + b + c + d
        den = (a + b) * (c + d) * (a + c) * (b + d)
        want = 0.0 if den == 0 else n * (a * d - b * c) ** 2 / den
        assert abs(r["chi2"] - want) < 1e-9 * max(1.0, want)
        assert r["significant"] == int(r["chi2"] > 3.841458820694124)
    # tau lesson: the planted effect fires somewhere, and cohorts split
    planted = got[got["experiment"] == "planted"]
    assert planted["significant"].sum() >= 1
    assert ((got["a"] + got["b"]) > 0).all()  # treatment arm non-empty
    assert ((got["c"] + got["d"]) > 0).all()  # control arm non-empty


def test_tv_divergence_matches_pandas(spark):
    got = registry._QUERIES["source_tv_divergence"](spark, SF).toPandas()
    docs = (
        load_table(spark, SF, "documents")
        .selectExpr("source", "explode(split(trim(text), '\\\\s+')) AS tok")
        .toPandas()
    )
    counts = docs.groupby(["source", "tok"]).size()
    vocab = docs.groupby("tok").size()
    n = len(docs)
    for _, r in got.iterrows():
        src = r["source"]
        cs = counts.loc[src] if src in counts.index.get_level_values(0) else {}
        ns = int(docs[docs["source"] == src].shape[0])
        assert r["n_tokens"] == ns
        p = cs.reindex(vocab.index).fillna(0) / ns
        q = vocab / n
        want = float(np.abs(p - q).sum() / 2.0)
        assert abs(r["tv"] - want) < 1e-12, src
        assert 0.0 <= r["tv"] <= 1.0


def test_tv_zero_for_identical_distribution(spark):
    """One source duplicated as the whole corpus => TV == 0 exactly (the
    full-grid property: no spurious drift from the zero-count cells)."""
    from pyspark.sql import functions as F
    import tempfile, os

    docs = load_table(spark, SF, "documents").limit(20)
    one = docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("only").alias("source"), "n_chars",
    )
    root = tempfile.mkdtemp(prefix="tv_one_")
    one.write.mode("overwrite").parquet(os.path.join(root, "documents.parquet"))
    got = registry._QUERIES["source_tv_divergence"](spark, root).toPandas()
    assert len(got) == 1
    assert got.iloc[0]["tv"] == 0.0
    assert got.iloc[0]["max_dev"] == 0


def test_attribution_conserves_credit_exactly(spark):
    """Sum of attributed micro-cents over ALL channels ==
    10^6 x sum of purchase cents — exact, not approximate."""
    from pyspark.sql import functions as F

    got = registry._QUERIES["attribution_position_weighted"](
        spark, SF
    ).toPandas()
    purch = (
        load_table(spark, SF, "events")
        .where("event_type = 'purchase' AND user_id IS NOT NULL")
        .select(F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .toPandas()
    )
    assert int(got["attributed_micro_cents"].sum()) == int(
        purch["cents"].sum()
    ) * 1_000_000
    # both fates: touched channels AND direct credit appear
    assert {"view", "click", "direct"} <= set(got["channel"])


def test_attribution_weights_replica():
    """The U-shaped weight rule sums to exactly 10^6 for every n."""
    def w(pos, n):
        if n == 1:
            return 1_000_000
        if n == 2:
            return 500_000
        if pos == 1:
            return 400_000 + (200_000 - (n - 2) * (200_000 // (n - 2)))
        if pos == n:
            return 400_000
        return 200_000 // (n - 2)

    for n in range(1, 40):
        assert sum(w(p, n) for p in range(1, n + 1)) == 1_000_000, n


def test_inverted_index_matches_pandas(spark):
    got = registry._QUERIES["inverted_index_postings"](spark, SF).toPandas()
    docs = (
        load_table(spark, SF, "documents")
        .selectExpr("doc_id", "explode(split(trim(text), '\\\\s+')) AS tok")
        .toPandas()
    )
    dt = docs.groupby(["tok", "doc_id"]).size().rename("tf").reset_index()
    for _, r in got.iterrows():
        sub = dt[dt["tok"] == r["tok"]].sort_values("doc_id")
        assert r["df"] == len(sub)
        assert r["cf"] == sub["tf"].sum()
        assert r["max_tf"] == sub["tf"].max()
        want = "-".join(str(d) for d in sub["doc_id"].head(12))
        assert r["head_postings"] == want, r["tok"]


def test_item_cooccurrence_matches_pandas(spark):
    got = registry._QUERIES["item_cooccurrence_topk"](spark, SF).toPandas()
    ev = (
        load_table(spark, SF, "events")
        .selectExpr(
            "user_id",
            "CAST(get_json_object(props, '$.k') AS BIGINT) AS item",
            "ts",
        )
        .where("user_id IS NOT NULL")
        .toPandas()
    )
    ui = (
        ev.groupby(["user_id", "item"])["ts"].max().rename("last_ts")
        .reset_index()
    )
    ui = ui.sort_values(
        ["user_id", "last_ts", "item"], ascending=[True, False, True]
    )
    ui["rn"] = ui.groupby("user_id").cumcount() + 1
    recent = ui[ui["rn"] <= 32]
    from collections import Counter

    cooc, n_i = Counter(), Counter()
    for _, grp in recent.groupby("user_id"):
        items = sorted(grp["item"])
        n_i.update(items)
        for i, a in enumerate(items):
            for b in items[i + 1:]:
                cooc[(a, b)] += 1
    for _, r in got.iterrows():
        a, b = int(r["item"]), int(r["other"])
        c = cooc[(min(a, b), max(a, b))]
        assert r["cooc_users"] == c, (a, b)
        assert r["jaccard_micro"] == c * 1_000_000 // (
            n_i[a] + n_i[b] - c
        ), (a, b)
    # exactly top-5 per item, ranks dense from 1
    per = got.groupby("item")["rank"].agg(["min", "max", "count"])
    assert (per["min"] == 1).all() and (per["count"] <= 5).all()


def test_mad_matches_numpy_lower_median(spark):
    got = registry._QUERIES["mad_robust_outliers"](spark, SF).toPandas()
    assert got["is_outlier"].sum() > 0  # tau lesson
    for et, grp in got.groupby("event_type"):
        xs = sorted(grp["n_events"])
        med = xs[(len(xs) + 1) // 2 - 1]  # lower median, value at rank
        ads = sorted(abs(x - med) for x in xs)
        mad = ads[(len(ads) + 1) // 2 - 1]
        assert (grp["med"] == med).all(), et
        assert (grp["mad"] == mad).all(), et
        want = (grp["n_events"] - med).abs() > 2 * mad
        assert (grp["is_outlier"] == want.astype(int)).all(), et


def test_cohort_triangle_matches_pandas(spark):
    got = registry._QUERIES["user_ltv_cohort"](spark, SF).toPandas()
    ev = (
        load_table(spark, SF, "events")
        .selectExpr(
            "user_id", "to_date(ts) AS d", "event_type",
            "CAST(floor(value * 100) AS BIGINT) AS cents",
        )
        .where("user_id IS NOT NULL")
        .toPandas()
    )
    import pandas as pd

    d0 = ev.groupby("user_id")["d"].min().rename("d0")
    ev = ev.join(d0, on="user_id")
    origin = pd.Timestamp("2024-01-01").date()
    ev["cohort_day"] = (
        pd.to_datetime(ev["d0"]) - pd.Timestamp(origin)
    ).dt.days
    ev["offset_week"] = (
        (pd.to_datetime(ev["d"]) - pd.to_datetime(ev["d0"])).dt.days // 7
    )
    sizes = d0.reset_index()
    sizes["cohort_day"] = (
        pd.to_datetime(sizes["d0"]) - pd.Timestamp(origin)
    ).dt.days
    csize = sizes.groupby("cohort_day")["user_id"].nunique()
    for _, r in got.iterrows():
        cell = ev[
            (ev["cohort_day"] == r["cohort_day"])
            & (ev["offset_week"] == r["offset_week"])
        ]
        assert r["n_active"] == cell["user_id"].nunique()
        assert r["cohort_size"] == csize[r["cohort_day"]]
        assert r["retention_micro"] == (
            r["n_active"] * 1_000_000 // r["cohort_size"]
        )
        assert r["revenue_cents"] == int(
            cell[cell["event_type"] == "purchase"]["cents"].sum()
        )
    # retention at offset 0 is 10^6 by construction (everyone active
    # in their own first week)
    assert (
        got[got["offset_week"] == 0]["retention_micro"] == 1_000_000
    ).all()


def test_churn_hazard_suffix_sum(spark):
    got = registry._QUERIES["churn_hazard_curve"](spark, SF).toPandas()
    got = got.sort_values("day_offset").reset_index(drop=True)
    # at_risk is the suffix sum of churned; the last offset's hazard is 1
    total = got["churned"].sum()
    suffix = total - got["churned"].cumsum() + got["churned"]
    assert (got["at_risk"] == suffix).all()
    assert got.iloc[-1]["hazard_micro"] == 1_000_000
    assert (
        got["hazard_micro"]
        == got["churned"] * 1_000_000 // got["at_risk"]
    ).all()


def test_zipf_fit_matches_numpy(spark):
    got = registry._QUERIES["zipf_fit_tokens"](spark, SF).toPandas().iloc[0]
    docs = (
        load_table(spark, SF, "documents")
        .selectExpr("explode(split(trim(text), '\\\\s+')) AS tok")
        .toPandas()
    )
    vocab = docs.groupby("tok").size().sort_values(ascending=False)
    # rank ties broken by token text — mirror before ranking
    freqs = (
        vocab.reset_index()
        .sort_values([0, "tok"], ascending=[False, True])[0]
        .to_numpy()
    )
    x = np.array([len(bin(r)) - 3 for r in range(1, len(freqs) + 1)])
    y = np.array([len(bin(int(c))) - 3 for c in freqs])
    n = len(x)
    num = n * (x * y).sum() - x.sum() * y.sum()
    den = n * (x * x).sum() - x.sum() ** 2

    def tdiv(a, b):  # Spark `div` / DuckDB `//` truncate toward zero
        q = abs(int(a)) // abs(int(b))
        return q if (a >= 0) == (b >= 0) else -q

    slope = tdiv(num * 1_000_000, den)
    assert got["n_tokens"] == n
    assert got["slope_micro"] == slope
    assert got["intercept_micro"] == tdiv(
        y.sum() * 1_000_000 - slope * x.sum(), n
    )
    assert got["slope_micro"] <= 0  # frequencies non-increasing in rank


def test_rank_sum_matches_bruteforce_pooled_ranking(spark):
    """The census-based doubled-rank formula must equal the textbook
    computation: pool both arms, assign tie-averaged ranks by sorting,
    sum ranks over arm A — done naively in numpy on the same data."""
    import numpy as np
    import pandas as pd

    from wistia_etl_pipeline_spark import registry

    row = registry._QUERIES["rank_sum_ab_test"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]

    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = pdf[pdf.event_type.isin(["view", "click"])]
    vals = pdf.value.to_numpy()
    ranks = pd.Series(vals).rank(method="average").to_numpy()  # ties avg
    a = ranks[(pdf.event_type == "view").to_numpy()]
    n_a, n_b = len(a), len(ranks) - len(a)
    r_a = float(a.sum())
    assert row.n_a == n_a and row.n_b == n_b
    assert row.r2_a == round(2 * r_a)
    u_a = r_a - n_a * (n_a + 1) / 2
    assert row.u2_a == round(2 * u_a)
    # tie term: sum m(m^2-1) over tied blocks
    _, counts = np.unique(vals, return_counts=True)
    assert row.tie_m3_sum == int((counts * (counts**2 - 1)).sum())


def test_ks_statistic_matches_bruteforce_cdfs(spark):
    import numpy as np
    import pandas as pd

    from wistia_etl_pipeline_spark import registry

    row = registry._QUERIES["ks_value_drift"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    a = np.sort(pdf[pdf.event_type == "view"].value.to_numpy())
    b = np.sort(pdf[pdf.event_type == "error"].value.to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, grid, side="right")
    fb = np.searchsorted(b, grid, side="right")
    d = np.abs(fa * len(b) - fb * len(a))
    assert row.n_a == len(a) and row.n_b == len(b)
    assert row.d_num == int(d.max())
    assert row.v_at_max == float(grid[np.flatnonzero(d == d.max())[0]])
    assert row.ks_micro == (int(d.max()) * 1000000) // (len(a) * len(b))


def test_gini_matches_bruteforce_pairwise(spark):
    """Exact check against the mean-absolute-difference definition
    G = sum_ij |x_i - x_j| / (2 n^2 mu) — O(n^2) on the sf0.001 slice,
    computed with the SAME tie convention (the census formula equals
    this exactly, no approximation)."""
    import numpy as np
    import pandas as pd

    from wistia_etl_pipeline_spark import registry

    row = registry._QUERIES["revenue_gini_concentration"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/orders.parquet")
    cents = (
        pdf.assign(c=(pdf.o_totalprice * 100).apply(np.floor).astype(np.int64))
        .groupby("o_custkey")["c"]
        .sum()
        .to_numpy()
    )
    n, total = len(cents), int(cents.sum())
    mad = int(np.abs(cents[:, None] - cents[None, :]).sum())  # sum|xi-xj|
    # G = mad / (2 n total); compare at exact integer scale
    assert row.n_customers == n and row.total_cents == total
    assert row.gini_micro == (mad * 1000000) // (2 * n * total)


def test_shapley_efficiency_axiom_and_bruteforce(spark):
    """(a) Efficiency: sum of Shapley values == v(full) - v(empty),
    exactly, on the x24 integer grid. (b) The closed-form weighted sum
    must equal the definition — average marginal contribution over all
    4! channel orderings — computed brute-force from the same mask
    census."""
    from itertools import permutations

    import pandas as pd

    from wistia_etl_pipeline_spark import registry

    rows = registry._QUERIES["shapley_channel_attribution"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r.shapley_x24 for r in rows)
    assert total == 24 * (rows[0].v_full - rows[0].v_empty)

    # brute force: rebuild masks in pandas, enumerate orderings
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    bits = {"click": 1, "error": 2, "signup": 4, "view": 8}
    first_p = (
        ev[ev.event_type == "purchase"].groupby("user_id")["ts"].min()
    )
    masks = {}
    for uid, pts in first_p.items():
        t = ev[(ev.user_id == uid) & (ev.ts < pts)
               & (ev.event_type != "purchase")]
        m = 0
        for et in t.event_type:
            m |= bits[et]
        masks[uid] = m
    from collections import Counter

    cm = Counter(masks.values())

    def v(s):
        return sum(c for m, c in cm.items() if m & ~s == 0)

    got = {r.channel: r.shapley_x24 for r in rows}
    for name, b in bits.items():
        acc = 0
        for order in permutations(bits.values()):
            s = 0
            for x in order:
                if x == b:
                    acc += v(s | b) - v(s)
                    break
                s |= x
        assert got[name] == acc, name  # 24 orderings == x24 grid
