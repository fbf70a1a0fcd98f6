"""Similarity search over embedding columns (array<float>) —
brute-force cosine top-k baseline + LSH-bucketed scale path
(BASELINE.json north-star extensions).

Two execution strategies:

- **Expression path** (:func:`cosine`): zip_with + aggregate — pure
  Catalyst expressions, no Python workers. Right choice when scanning
  once per query vector.
- **Pandas-UDF path** (:func:`random_projection_int`): Arrow-batched
  numpy matmul — one BLAS-style call per Arrow batch instead of
  per-row evaluation. Right choice when every row is multiplied by the
  same matrix.

Scale path (:func:`hyperplane_buckets`): random-hyperplane LSH. Sign
bits w.r.t. ``n_planes`` fixed hyperplanes form a bucket id; cosine
neighbors almost always share it (or a 1-bit-flipped neighbor bucket —
multi-probe). Search then touches one bucket, not the corpus: top-k
over 100 TB of embeddings becomes a partition-pruned scan when the
table is written partitioned/bucketed by signature. Planes are
deterministic (md5-seeded), so bucket ids are stable across runs,
engines, and Spark versions — they can be persisted as a partition
column at ingest.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (left-to-right fold — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: Column,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    ndigits: int | None = 6,
) -> DataFrame:
    """Brute-force cosine top-k against one query vector — the exact
    baseline every ANN variant is validated against. Plans as a scan +
    projection + TakeOrderedAndProject (per-partition heaps): no
    shuffle of the corpus, ever."""
    score = cosine(F.col(vec_col), query_vec)
    if ndigits is not None:
        score = F.round(score, ndigits)
    return (
        df.select(F.col(id_col), score.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def deterministic_planes(n_planes: int, dim: int, *, salt: str = "wistia-lsh") -> list[list[float]]:
    """Fixed pseudo-random hyperplanes from md5 — no RNG state, so
    signatures are reproducible everywhere (they can be persisted as a
    partition column and still be valid next run/engine/version).
    Components are uniform in [-1, 1); for sign-LSH the distribution's
    symmetry is what matters, not gaussianity."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{salt}:{p}:{i}".encode()).hexdigest()
            v = int(h[:15], 16) / float(1 << 60)  # [0, 1)
            row.append(2.0 * v - 1.0)
        planes.append(row)
    return planes


def hyperplane_signature(
    vec: Column, planes: Sequence[Sequence[float]]
) -> Column:
    """Sign-bit signature string ('1011…') of ``vec`` w.r.t. the given
    hyperplanes — pure expressions, codegen-friendly."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(c)) for c in plane])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for plane in planes
    ]
    return F.concat(*bits)


def hyperplane_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Assign every vector its LSH bucket (the ANN index build).
    ``2^n_planes`` buckets; at 100 TB you'd write the corpus
    partitioned by this column and prune to one bucket per query."""
    planes = deterministic_planes(n_planes, dim)
    return df.select(
        F.col(id_col), hyperplane_signature(F.col(vec_col), planes).alias("bucket")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.99,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ τ).

    Blocking: LSH bucket (plus an optional natural key like a source/
    label column) — the self-join happens per bucket, never across the
    corpus. τ≈0.99 pairs almost surely agree on every sign bit, so
    bucket-equality loses ~nothing at dedup thresholds (unlike search
    thresholds, where multi-probe matters). RAISING ``n_planes`` only
    tightens the blocking (more, smaller buckets) without changing
    which τ-qualified pairs verify; raise it as the corpus grows so
    per-bucket work stays bounded."""
    planes = deterministic_planes(n_planes, dim)
    keyed = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    cond = (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.vid") < F.col("r.vid"))
    if block_col:
        cond = cond & (F.col("l.blk") == F.col("r.blk"))
    pairs = (
        keyed.alias("l")
        .join(keyed.alias("r"), cond, "inner")  # equi on bucket → hash join
        .select(
            F.col("l.vid").alias("a_id"),
            F.col("r.vid").alias("b_id"),
            F.round(cosine(F.col("l.vec"), F.col("r.vec")), 6).alias("cos_sim"),
        )
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the trained-quantizer alternative to LSH
# --------------------------------------------------------------------------

def ivf_build(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
):
    """Build an IVF index: k-means coarse quantizer + per-vector list
    assignment.

    Returns ``(assigned_df, centroids)`` where ``assigned_df`` carries a
    ``list_id`` column and ``centroids`` is a plain Python list (tiny —
    it rides the closure to the query side). At 100 TB the assigned
    table is written partitioned by ``list_id``: a query probes
    ``nprobe`` partitions and the scan prunes the rest — same pruning
    story as the LSH buckets, but with data-adaptive cells (better
    recall on clustered corpora; costs a training pass, which LSH
    doesn't).

    KMeans training is an iterative Spark ML job (seeded →
    deterministic for a given Spark version) — the one genuinely
    non-SQL-expressible algorithm in this module.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn(
        "__feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="__feat", predictionCol="list_id"
    ).fit(feat)
    assigned = model.transform(feat).select(id_col, vec_col, "list_id")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: Sequence[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """IVF search: rank centroids by distance to the query (driver-side
    — there are only n_lists of them), scan the ``nprobe`` nearest
    lists, brute-force cosine within them."""
    import math

    def dist2(c):
        return sum((float(a) - float(b)) ** 2 for a, b in zip(c, query))

    probe_ids = sorted(range(len(centroids)), key=lambda i: dist2(centroids[i]))[:nprobe]
    candidates = assigned.filter(F.col("list_id").isin(probe_ids))
    return cosine_topk(
        candidates,
        F.array(*[F.lit(float(x)) for x in query]),
        vec_col=vec_col,
        id_col=id_col,
        k=k,
    )


def deterministic_planes_int(
    n_planes: int, dim: int, *, grid: int = 1000, salt: str = "wistia-rp"
) -> list[list[int]]:
    """Integer-grid projection planes: :func:`deterministic_planes`
    floor-quantized to ``grid`` units. Exactness is the point — with
    integer planes AND integer-quantized vectors, every projected
    component is an exact BIGINT, so the projection is bit-identical
    across engines/partitionings and can be hash-verified (float
    projections differ in last-bit fold order and cannot)."""
    import math

    return [
        [int(math.floor(c * grid)) for c in row]
        for row in deterministic_planes(n_planes, dim, salt=salt)
    ]


def random_projection_int(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    n_planes: int = 16,
    dim: int = 64,
    vec_grid: int = 1000,
    plane_grid: int = 1000,
    salt: str = "wistia-rp",
) -> DataFrame:
    """Johnson-Lindenstrauss-style random projection to ``n_planes``
    dimensions on the exact integer grid — the dimensionality-reduction
    step that makes downstream ANN / clustering cheaper (a 64-d corpus
    searched in 16-d shrinks every distance computation and index 4×,
    at a distortion bound JL quantifies). Appends ``proj``
    (array<bigint>, exact): proj[j] = Σᵢ ⌊vᵢ·vec_grid⌋·⌊pⱼᵢ·plane_grid⌋.

    Scale shape: scan-local Arrow matmul — the n_planes×dim int64
    plane matrix rides the closure; no join, no shuffle, output row
    width DROPS from dim to n_planes. Overflow headroom: |component| ≤
    dim·vec_grid·plane_grid ≈ 6.4e7 ≪ 2⁶³ at the defaults."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(
        deterministic_planes_int(n_planes, dim, grid=plane_grid, salt=salt),
        dtype=np.int64,
    )

    @pandas_udf("array<long>")
    def _project(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="object")
        M = np.stack(qv.to_numpy()).astype(np.int64)
        return pd.Series(list(M @ P.T))

    quant = F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {vec_grid}) AS BIGINT))"
    )
    return df.select(
        F.col(id_col), quant.alias("__qv")
    ).select(F.col(id_col), _project("__qv").alias("proj"))
