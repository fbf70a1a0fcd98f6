"""Similarity search: brute-force top-k correctness, LSH bucket
determinism, near-dup blocking."""

from __future__ import annotations

import math

from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.functions.similarity import (
    cosine,
    cosine_topk,
    deterministic_planes,
    embedding_near_dup_pairs,
    hyperplane_buckets,
)


def _vecs(spark, n=40, dim=8):
    # deterministic "random" vectors from md5-ish arithmetic
    rows = []
    for i in range(n):
        v = [math.sin(i * 31 + j * 7) for j in range(dim)]
        rows.append(Row(vec_id=i, embedding=v, label=i % 4))
    return spark.createDataFrame(rows)


def test_cosine_expression_hand_computed(spark):
    df = spark.createDataFrame([Row(a=[1.0, 0.0], b=[1.0, 1.0])])
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    assert abs(got - 1 / math.sqrt(2)) < 1e-12


def test_brute_force_topk_matches_python(spark):
    df = _vecs(spark)
    q = [1.0] + [0.5] * 7

    def cos(v):
        d = sum(a * b for a, b in zip(v, q))
        return d / (math.sqrt(sum(a * a for a in v)) * math.sqrt(sum(b * b for b in q)))

    expected = sorted(
        ((round(cos([math.sin(i * 31 + j * 7) for j in range(8)]), 6), i) for i in range(40)),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = cosine_topk(df, F.array(*[F.lit(x) for x in q]), k=5).collect()
    assert [(r.cos_sim, r.vec_id) for r in got] == expected


def test_lsh_bucket_determinism(spark):
    df = _vecs(spark)
    b1 = {r.vec_id: r.bucket for r in hyperplane_buckets(df, n_planes=6, dim=8).collect()}
    b2 = {r.vec_id: r.bucket for r in hyperplane_buckets(df, n_planes=6, dim=8).collect()}
    assert b1 == b2 and all(len(b) == 6 for b in b1.values())


def test_planes_are_reproducible():
    assert deterministic_planes(2, 4) == deterministic_planes(2, 4)
    p = deterministic_planes(1, 1000)[0]
    assert all(-1.0 <= c < 1.0 for c in p)
    assert abs(sum(p) / len(p)) < 0.05  # roughly centered


def test_embedding_near_dup_blocking(spark):
    df = _vecs(spark, n=20)
    dup = df.select((F.col("vec_id") + 100).alias("vec_id"), "embedding", "label")
    corpus = df.unionByName(dup)
    pairs = embedding_near_dup_pairs(corpus, block_col="label", threshold=0.99, dim=8)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert {(i, i + 100) for i in range(20)} <= got


def test_ivf_recall_and_exact_hit(spark):
    from wistia_etl_pipeline_spark.functions.similarity import ivf_build, ivf_topk

    df = _vecs(spark, n=120, dim=8)
    assigned, centroids = ivf_build(df, n_lists=8)
    assert assigned.select("list_id").distinct().count() <= 8

    # query equal to a corpus vector: must be found with cos=1
    target = [math.sin(42 * 31 + j * 7) for j in range(8)]
    top = ivf_topk(assigned, centroids, target, k=5, nprobe=3).collect()
    assert top[0].vec_id == 42 and abs(top[0].cos_sim - 1.0) < 1e-9

    # recall@5 vs brute force with nprobe=4/8 should be decent
    from pyspark.sql import functions as F
    brute = {
        r.vec_id
        for r in cosine_topk(df, F.array(*[F.lit(x) for x in target]), k=5).collect()
    }
    approx = {r.vec_id for r in ivf_topk(assigned, centroids, target, k=5, nprobe=4).collect()}
    assert len(brute & approx) >= 3


def test_embedding_near_dup_recall_at_higher_plane_count(spark):
    """Doubling the plane count must not lose τ=0.99 pairs (near-identical
    vectors agree on every sign bit) — the guarantee that lets n_planes
    scale with corpus size without a recall trade."""
    import random

    from wistia_etl_pipeline_spark.functions.similarity import embedding_near_dup_pairs

    rng = random.Random(7)
    rows = []
    for i in range(60):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v, "a"))
        rows.append((i + 1000, [x * 1.0000001 for x in v], "a"))  # exact-dir dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")

    def pairs(n_planes):
        return {
            (r.a_id, r.b_id)
            for r in embedding_near_dup_pairs(
                df, block_col="label", threshold=0.99, n_planes=n_planes, dim=16
            ).collect()
        }

    p8, p16 = pairs(8), pairs(16)
    injected = {(i, i + 1000) for i in range(60)}
    assert injected <= p8
    assert injected <= p16  # higher plane count keeps every true dup


def test_random_projection_exact_and_invariant(spark, sf_dir):
    """Integer JL projection: exact per-component parity with a numpy
    replica, and invariance under repartitioning."""
    import math

    import numpy as np

    from wistia_etl_pipeline_spark.functions.similarity import (
        deterministic_planes_int,
        random_projection_int,
    )
    from wistia_etl_pipeline_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = emb.select("vec_id", "embedding").collect()
    P = np.asarray(deterministic_planes_int(16, 64, grid=1000), dtype=np.int64)
    expected = {}
    for r in rows:
        q = np.array([math.floor(float(x) * 1000) for x in r.embedding], dtype=np.int64)
        expected[r.vec_id] = list(q @ P.T)

    out = random_projection_int(emb, "embedding", "vec_id").collect()
    got = {r.vec_id: list(r.proj) for r in out}
    assert got == expected

    out2 = random_projection_int(
        emb.repartition(7), "embedding", "vec_id"
    ).collect()
    assert {r.vec_id: list(r.proj) for r in out2} == expected
