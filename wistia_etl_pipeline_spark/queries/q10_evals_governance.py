"""Kneser-Ney LM, k-anonymity, audio segments, spatial grid join, BOM rollup, CUPED, NDCG/silhouette/kNN/STL evals.

Mechanically split from the registry monolith in r8; see
``queries/_base.py`` for the registration contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.dedup import dedup_exact, dedup_latest_wins
from ..operators.rollup import daily_rollup
from ..session import apply_runtime_confs, arrow_local_df, load_table
from ._base import query
from .q01_core_gold_silver import _NORM
from .q05_tokens_clustering import _KMEANS_K, _RP_GRID, _RP_PLANES
from .q09_stats_structures import _math

# Kneser-Ney bigram LM (interpolated, absolute discount 3/4, exact micro)

_KN_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t
        FROM documents
    ),
    occ AS (
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(range(1, len(t))) u(i)
        WHERE len(t) >= 2
    ),
    c2 AS (
        SELECT w1, w2, COUNT(*) AS n2 FROM occ GROUP BY w1, w2
    ),
    c1 AS (
        SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1,
               COUNT(*) AS fanout
        FROM c2 GROUP BY w1
    ),
    cont AS (
        SELECT w2, COUNT(*) AS fanin FROM c2 GROUP BY w2
    ),
    btot AS (SELECT COUNT(*) AS b FROM c2),
    scored AS (
        SELECT o.doc_id,
               (4 * c2.n2 - 3) * 1000000 // (4 * c1.n1)
               + (3 * c1.fanout * cont.fanin * 1000000)
                 // (4 * c1.n1 * btot.b) AS p_micro
        FROM occ o
        JOIN c2 ON c2.w1 = o.w1 AND c2.w2 = o.w2
        JOIN c1 ON c1.w1 = o.w1
        JOIN cont ON cont.w2 = o.w2
        CROSS JOIN btot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS kn_score_micro
    FROM scored GROUP BY doc_id
"""


@query("kneser_ney_bigram_lm", oracle=_KN_ORACLE)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATED KNESER-NEY bigram scoring — the smoothing the
    CCNet/KenLM quality filters actually ship (Wenzek et al. 2020 use
    a 5-gram KenLM = modified Kneser-Ney; bigram_lm_quality is the
    unsmoothed MLE baseline, this is the production upgrade): each
    observed bigram occurrence scores

        p_KN(w2|w1) = (c(w1 w2) - d) / c(w1 *)
                    + d * N1+(w1 *) / c(w1 *) * N1+(* w2) / B

    with absolute discount d = 3/4 and the CONTINUATION distribution
    N1+(* w2)/B in the backoff slot — the KN insight that a word seen
    in many contexts ("york" after only "new" is the classic
    counterexample) should back off by context diversity, not raw
    frequency. With d = 3/4 both terms clear to exact integers:
    (4*n2 - 3)*10^6 div (4*n1) + 3*fanout*fanin*10^6 div (4*n1*B) —
    observed bigrams have n2 >= 1, so the max(c-d, 0) clamp never
    binds and every intermediate fits int64 (fanout/fanin are
    vocabulary-bounded, ~31 here). Doc score = floor-mean over its
    occurrences; the two floor-div terms are summed separately with
    the IDENTICAL expression on both engines (floor-of-sum differs
    from sum-of-floors — the expression, not the algebra, is the
    cross-engine contract).

    Shape at 100 TB: the LM is three vocabulary^2-bounded model
    tables (bigram counts, left-context totals + fanout, continuation
    fanin) and one scalar B; scoring is equi joins on those tables
    (broadcast at real vocabulary sizes) and a doc-grain aggregate.
    One corpus scan builds the model, one scores — no windows."""
    from ..functions.dedupe import fan_out
    from ..functions.text import normalize_text, tokens

    # fan_out: occ (tokenize + bigram explode over the one-split docs
    # scan) is computed by BOTH the model aggregate and the scoring
    # join — single-task twice without it (r12 rule).
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", tokens(normalize_text(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    occ = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c2 = c2.localCheckpoint(eager=False)
    c1 = c2.groupBy("w1").agg(
        F.sum("n2").cast("long").alias("n1"),
        F.count(F.lit(1)).alias("fanout"),
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("fanin"))
    btot = c2.agg(F.count(F.lit(1)).alias("b"))
    scored = (
        occ.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "doc_id",
            F.expr(
                "(4 * n2 - 3) * 1000000 div (4 * n1)"
                " + (3 * fanout * fanin * 1000000) div (4 * n1 * b)"
            ).alias("p_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("CAST(SUM(p_micro) div COUNT(*) AS BIGINT)").alias(
            "kn_score_micro"
        ),
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity governance audit with generalization lattice

_KANON_K = 12

_KANON_ORACLE = f"""
    WITH base AS (
        SELECT c.c_custkey, n.n_name AS nat, r.r_name AS reg,
               c.c_mktsegment AS seg,
               (CAST(floor(c.c_acctbal) AS BIGINT) + 1000) // 1000 AS sens
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    g0 AS (SELECT nat, seg, COUNT(*) AS n0 FROM base GROUP BY nat, seg),
    g1 AS (SELECT reg, seg, COUNT(*) AS n1 FROM base GROUP BY reg, seg),
    g2 AS (SELECT seg, COUNT(*) AS n2 FROM base GROUP BY seg),
    pub AS (
        SELECT b.c_custkey, b.sens,
               CASE WHEN g0.n0 >= {_KANON_K} THEN 0
                    WHEN g1.n1 >= {_KANON_K} THEN 1
                    ELSE 2 END AS level,
               CASE WHEN g0.n0 >= {_KANON_K} THEN b.nat
                    WHEN g1.n1 >= {_KANON_K} THEN b.reg
                    ELSE '*' END AS geo,
               b.seg
        FROM base b
        JOIN g0 ON g0.nat = b.nat AND g0.seg = b.seg
        JOIN g1 ON g1.reg = b.reg AND g1.seg = b.seg
        JOIN g2 ON g2.seg = b.seg
    )
    SELECT CAST(level AS BIGINT) AS level, geo, seg,
           CAST(COUNT(*) AS BIGINT) AS n_published,
           CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct,
           CAST(CASE WHEN COUNT(DISTINCT sens) >= 3 THEN 1 ELSE 0 END
                AS BIGINT) AS l_diverse
    FROM pub GROUP BY level, geo, seg
"""


@query("k_anonymity_audit", oracle=_KANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY GENERALIZATION AUDIT (Sweeney 2002; the governance
    twin of text_redact_pii — redaction hides direct identifiers,
    k-anonymity bounds re-identification through QUASI-identifiers):
    each customer's (geography, segment) QI pair is published at the
    FINEST level of the generalization lattice nation -> region -> '*'
    whose equivalence class reaches k = 12 members — the climb-until-
    anonymous rule, decided per class, so dense classes keep full
    granularity while sparse ones generalize instead of dropping rows
    (generalization beats suppression for utility). Per published
    class the audit also reports L-DIVERSITY (Machanavajjhala et al.
    2007): distinct sensitive values (account-balance band, shifted
    positive so the floor-div bucketing never meets a negative
    operand — the cross-engine truncation trap), with l >= 3 flagged;
    a k-anonymous class with one sensitive value still leaks
    (homogeneity attack) — the flag is the point of the audit.

    Shape at 100 TB: the lattice levels are three hash aggregates
    whose results are QI-cardinality-bounded (model-sized — nations x
    segments), joined back broadcast; the per-row level pick is a
    scan-local CASE; the final aggregate is bounded by published-class
    cardinality. One scan of the fact, zero windows, zero shuffles of
    the fact beyond the class-grain aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "c_custkey",
            F.col("n_name").alias("nat"),
            F.col("r_name").alias("reg"),
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                "(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 1000"
            ).alias("sens"),
        )
        .localCheckpoint(eager=False)
    )
    g0 = base.groupBy("nat", "seg").agg(F.count(F.lit(1)).alias("n0"))
    g1 = base.groupBy("reg", "seg").agg(F.count(F.lit(1)).alias("n1"))
    pub = (
        base.join(F.broadcast(g0), ["nat", "seg"])
        .join(F.broadcast(g1), ["reg", "seg"])
        .select(
            "sens",
            F.expr(
                f"CASE WHEN n0 >= {_KANON_K} THEN 0"
                f" WHEN n1 >= {_KANON_K} THEN 1 ELSE 2 END"
            ).alias("level"),
            F.expr(
                f"CASE WHEN n0 >= {_KANON_K} THEN nat"
                f" WHEN n1 >= {_KANON_K} THEN reg ELSE '*' END"
            ).alias("geo"),
            "seg",
        )
    )
    return pub.groupBy(
        F.col("level").cast("long").alias("level"), "geo", "seg"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_published"),
        F.countDistinct("sens").cast("long").alias("l_distinct"),
        F.expr(
            "CAST(CASE WHEN COUNT(DISTINCT sens) >= 3 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("l_diverse"),
    )


# ---------------------------------------------------------------------------
# Audio silence segmentation: PCM window energy -> gaps-and-islands

_SIL_BLOCKS = 16          # md5 blocks per doc -> 16 windows of 8 samples
_SIL_THRESH = 300_000_000  # mean-square threshold (~P30 of uniform int16)

_SILENCE_ORACLE = f"""
    WITH h AS (
        SELECT doc_id, w, md5('sil_' || doc_id || '_' || w) AS hx
        FROM documents, range(0, {_SIL_BLOCKS}) t(w)
    ),
    vals AS (
        SELECT doc_id, w,
               [(('0x' || substr(hx, i*4+1, 2))::BIGINT
                 + 256 * (('0x' || substr(hx, i*4+3, 2))::BIGINT)
                 + CASE WHEN ('0x' || substr(hx, i*4+3, 2))::BIGINT >= 128
                        THEN -65536 ELSE 0 END)
                for i in range(0, 8)] AS s
        FROM h
    ),
    energy AS (
        SELECT 'd' || doc_id AS media_id, w AS win,
               CAST(list_sum([v * v for v in s]) // 8 AS BIGINT)
                   AS ms_energy
        FROM vals
    ),
    silent AS (
        SELECT media_id, win, ms_energy,
               win - ROW_NUMBER() OVER (
                   PARTITION BY media_id ORDER BY win) AS grp
        FROM energy WHERE ms_energy < {_SIL_THRESH}
    )
    SELECT media_id,
           CAST(MIN(win) AS BIGINT) AS seg_start,
           CAST(MAX(win) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(MIN(ms_energy) AS BIGINT) AS min_energy
    FROM silent GROUP BY media_id, grp
"""


@query("audio_silence_segments", oracle=_SILENCE_ORACLE)
def audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILENCE SEGMENTATION over binary PCM — the audio-curation
    operator layered on multimodal_audio_rms's feature extraction:
    synthesize a deterministic 256-byte PCM payload per document (md5
    keystream, 16 windows x 8 samples), extract windowed mean-square
    energy with the Arrow numpy kernel, threshold, and collapse
    consecutive sub-threshold windows into maximal SEGMENTS via
    gaps-and-islands (win - row_number partitioned per media — the
    interval_union_coverage idiom applied to a derived feature
    stream). Segments, not flags, are what an audio pipeline consumes:
    trim boundaries, speech-activity spans, dead-air QA. Threshold
    compares exact integer squares (no sqrt — the audio_rms rule);
    the oracle re-derives the identical int16 samples from md5 hex
    arithmetic, so byte order, framing, thresholding, AND the island
    grouping all ride the hash.

    Shape at 100 TB: one mapInPandas over the media frame (payloads
    never leave the executor), feature rows fan out x n_windows; the
    island window is per-media over a payload-bounded row count (16
    here; minutes-of-audio in production — bounded by media length,
    never corpus-sized), then a segment-grain aggregate."""
    import hashlib

    import pandas as pd
    from pyspark.sql import Window

    from ..functions.multimodal import pcm_window_energy

    docs = load_table(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                blob = b"".join(
                    hashlib.md5(f"sil_{d}_{w}".encode()).digest()
                    for w in range(_SIL_BLOCKS)
                )
                payloads.append(blob)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].map(lambda d: f"d{d}"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    media = docs.select("doc_id").mapInPandas(
        synth, "media_id string, payload binary"
    )
    energy = pcm_window_energy(media, window_samples=8)
    silent = energy.where(F.col("ms_energy") < _SIL_THRESH).withColumn(
        "grp",
        F.col("win")
        - F.row_number().over(
            Window.partitionBy("media_id").orderBy("win")
        ),
    )
    return silent.groupBy("media_id", "grp").agg(
        F.min("win").cast("long").alias("seg_start"),
        F.max("win").cast("long").alias("seg_end"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.min("ms_energy").cast("long").alias("min_energy"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Spatial radius join via grid blocking (deterministic planar coordinates)

_GEO_SPAN = 1_000_000  # x-domain width W; y grows with the data
_GEO_R = 500           # neighbor radius; grid cell size == R

_SPATIAL_ORACLE = f"""
    WITH pts AS (
        SELECT c_custkey,
               ('0x' || substr(md5('ptx_' || c_custkey), 1, 12))::BIGINT
                   % {_GEO_SPAN} AS x,
               c_custkey AS y
        FROM customer
    ),
    nb AS (
        SELECT a.c_custkey,
               (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) AS d2
        FROM pts a JOIN pts b ON b.c_custkey <> a.c_custkey
        WHERE (a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) <= {_GEO_R} * {_GEO_R}
    )
    SELECT p.c_custkey,
           CAST(COUNT(nb.d2) AS BIGINT) AS n_neighbors,
           CAST(COALESCE(MIN(nb.d2), -1) AS BIGINT) AS min_d2
    FROM pts p LEFT JOIN nb ON nb.c_custkey = p.c_custkey
    GROUP BY p.c_custkey
"""


@query("spatial_grid_radius_join", oracle=_SPATIAL_ORACLE)
def spatial_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL RADIUS JOIN via GRID BLOCKING — the geospatial family's
    entry (the planar core of geohash/S2/H3 bucketing, stripped of the
    sphere): each customer gets a deterministic planar point (md5-hex
    coordinates — the cross-engine synth idiom), and the query reports,
    per point, how many other points lie within radius R plus the
    nearest squared distance. The scalable shape is the grid: cell
    size == R, so any pair within R lands in the SAME or an ADJACENT
    cell (|dx| <= R ==> cell indexes differ by <= 1) — candidates are
    an equi join of each point's 3x3 neighborhood against the cell
    index, verification is exact integer d2 <= R^2 on candidates only.
    Distances stay SQUARED end-to-end (no sqrt — the audio_rms rule);
    the oracle is the brute-force all-pairs quadratic scan, so the
    driver hash is the completeness proof for the grid decomposition
    (a pair straddling a cell boundary that the 3x3 probe missed would
    flip the hash).

    Shape at 100 TB: the 9x candidate explosion is scan-local; the
    join shuffles on cell id — spatially uniform keys, bounded
    occupancy (density x R^2), so candidate volume is n x expected
    neighborhood, never n^2; the per-point rollup is one hash
    aggregate. Real geo stacks swap md5 points for lon/lat and the
    grid for a Hilbert/S2 covering — the join shape is identical.

    The world GROWS with the data: y = custkey (a strip one unit per
    customer), x = md5 hash in [0, W) — so density is 1/W at every
    SF and expected neighbors per point is pi*R^2/W ~ 0.8, a
    CONSTANT. The first draft drew both coordinates in a FIXED
    square; the r5 scale harness measured tail exponent 1.95,
    because constant area + growing n = growing density = n^2 pair
    volume even though the per-pair plan was right (the
    panel-growth lesson in spatial form: real geographies add area
    as they add customers; a benchmark that doesn't is measuring
    its own defect)."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        F.expr(
            f"CAST(conv(substr(md5(concat('ptx_', c_custkey)), 1, 12),"
            f" 16, 10) AS BIGINT) % {_GEO_SPAN}"
        ).alias("x"),
        F.col("c_custkey").alias("y"),
    ).withColumn("cx", F.expr(f"x div {_GEO_R}")).withColumn(
        "cy", F.expr(f"y div {_GEO_R}")
    ).localCheckpoint(eager=False)
    probes = pts.select(
        F.col("c_custkey").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("a_id", "ax", "ay", "cell.cx", "cell.cy")
    matched = (
        probes.join(pts, ["cx", "cy"])
        .where(F.col("c_custkey") != F.col("a_id"))
        .select(
            "a_id",
            F.expr(
                "(ax - x) * (ax - x) + (ay - y) * (ay - y)"
            ).alias("d2"),
        )
        .where(F.col("d2") <= F.lit(_GEO_R * _GEO_R))
    )
    agg = matched.groupBy("a_id").agg(
        F.count(F.lit(1)).alias("n_nb"), F.min("d2").alias("mind2")
    )
    return (
        pts.select("c_custkey")
        .join(agg, pts["c_custkey"] == agg["a_id"], "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_nb"), F.lit(0)).cast("long").alias(
                "n_neighbors"
            ),
            F.coalesce(F.col("mind2"), F.lit(-1)).cast("long").alias(
                "min_d2"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical (BOM-style) subtree rollup via arithmetic ancestor explode

_BOM_ORACLE = """
    WITH node AS (
        SELECT p_partkey + 1 AS id,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
    ),
    anc AS (
        SELECT id, cents, id // CAST(power(10, i) AS BIGINT) AS anc_id
        FROM node, range(0, 8) t(i)
        WHERE id // CAST(power(10, i) AS BIGINT) >= 1
    )
    SELECT anc_id AS id,
           CAST(length(CAST(anc_id AS VARCHAR)) AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_subtree,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM anc GROUP BY anc_id
"""


@query("bom_hierarchy_rollup", oracle=_BOM_ORACLE)
def bom_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHY / BILL-OF-MATERIALS SUBTREE ROLLUP — every node's
    descendant count and subtree price over a decimal-digit tree
    (parent(k) = k div 10, so node 347 sits under 34 under 3; ids
    shifted +1 because partkey 0 would be its own infinite ancestor).
    The classic recursive-CTE / iterative-join problem solved with
    ZERO iteration: a node's ancestor chain is COMPUTABLE (k div
    10^i), so one scan-local explode of each node's <= 8 ancestors
    turns "subtree aggregate" into a plain hash aggregate on
    ancestor id — org charts, account trees, category taxonomies,
    file paths all admit the same trick whenever the parent
    relationship is derivable from the key (or materialized as a
    path column; Dremel/BigQuery's path-join idiom). The oracle runs
    the identical explode in SQL — and doubles as the proof that the
    8-level bound covers every id.

    Shape at 100 TB: explode factor == tree depth (log10 of the key
    space — 8 here, never corpus-scaled), followed by one map-side-
    combinable aggregate keyed by ancestor; no joins, no windows, no
    driver state, no round-per-level iteration (compare
    bfs_customer_supplier_reach, where edges are DATA and rounds are
    unavoidable)."""
    part = load_table(spark, sf_dir, "part")
    node = part.select(
        (F.col("p_partkey") + 1).alias("id"),
        F.expr("CAST(floor(p_retailprice * 100) AS BIGINT)").alias("cents"),
    )
    anc = node.select(
        "cents",
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 7),"
                " i -> id div CAST(power(10, i) AS BIGINT)), a -> a >= 1)"
            )
        ).alias("anc_id"),
    )
    return anc.groupBy(F.col("anc_id").alias("id")).agg(
        F.expr(
            "CAST(length(CAST(first(anc_id) AS STRING)) AS BIGINT)"
        ).alias("depth"),
        F.count(F.lit(1)).cast("long").alias("n_subtree"),
        F.sum("cents").cast("long").alias("subtree_cents"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduction adjustment (integer sufficient statistics)

_CUPED_CUT = "2024-01-16"

_CUPED_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(floor(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                    THEN CAST(value AS DECIMAL(25,6)) END), 0))
                    AS BIGINT) AS x,
               CAST(floor(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                    THEN CAST(value AS DECIMAL(25,6)) END), 0))
                    AS BIGINT) AS y
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    pooled AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM per_user
    ),
    theta AS (
        SELECT n, sx, sy,
               (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                   AS theta_micro
        FROM pooled
    )
    SELECT CAST(u.arm AS BIGINT) AS arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(u.x) * 1000000 // COUNT(*) AS BIGINT) AS mean_x_micro,
           CAST(SUM(u.y) * 1000000 // COUNT(*) AS BIGINT) AS mean_y_micro,
           CAST(MIN(t.theta_micro) AS BIGINT) AS theta_micro,
           CAST(SUM(u.y) * 1000000 // COUNT(*)
                - MIN(t.theta_micro)
                  * (SUM(u.x) * MIN(t.n) - MIN(t.sx) * COUNT(*))
                  // (COUNT(*) * MIN(t.n))
               AS BIGINT) AS adj_mean_y_micro
    FROM per_user u CROSS JOIN theta t
    GROUP BY u.arm
"""


@query("experiment_cuped_adjustment", oracle=_CUPED_ORACLE)
def experiment_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, WSDM — the
    experimentation-platform workhorse; experiment_ab_chisq tests a
    BINARY outcome, this adjusts a CONTINUOUS one): per user, X =
    pre-period spend and Y = experiment-period spend (whole units,
    floored from the exact DECIMAL sum — the double-sum rule); the
    pooled OLS slope theta = Cov(X,Y)/Var(X) comes from five integer
    sufficient statistics, and each arm reports its raw and
    CUPED-adjusted mean, mean(Y) - theta*(mean_a(X) - mean(X)).
    Because assignment (user_id % 2) is independent of the
    PRE-period, the adjustment removes the covariate-explained
    variance without biasing the treatment contrast — the adjusted
    arm difference is the same estimand with tighter error bars.
    All floor-divs share the identical expression cross-engine;
    intermediates peak at n*Sxy ~ 1e17 at sf1's unit grain (int64
    headroom documented — a 100x-bigger deployment re-grains X,Y,
    exactly like abc_revenue_classification's DECIMAL(38,0) route).

    Shape at 100 TB: one (user)-grain conditional aggregate over the
    fact, one 1-row pooled reduction broadcast back, one arm-grain
    aggregate — two shuffles, both map-side combinable; theta rides
    a 1-row broadcast, never a window."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            f"CAST(FLOOR(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'"
            f" THEN CAST(value AS DECIMAL(25,6)) END), 0)) AS BIGINT)"
        ).alias("x"),
        F.expr(
            f"CAST(FLOOR(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'"
            f" THEN CAST(value AS DECIMAL(25,6)) END), 0)) AS BIGINT)"
        ).alias("y"),
    ).withColumn("arm", F.expr("user_id % 2")).localCheckpoint(eager=False)
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    ).withColumn(
        "theta_micro",
        F.expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"),
    )
    return (
        per_user.crossJoin(F.broadcast(pooled))
        .groupBy(F.col("arm").cast("long").alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr("CAST(SUM(x) * 1000000 div COUNT(*) AS BIGINT)").alias(
                "mean_x_micro"
            ),
            F.expr("CAST(SUM(y) * 1000000 div COUNT(*) AS BIGINT)").alias(
                "mean_y_micro"
            ),
            F.min("theta_micro").cast("long").alias("theta_micro"),
            F.expr(
                "CAST(SUM(y) * 1000000 div COUNT(*)"
                " - MIN(theta_micro)"
                "   * (SUM(x) * MIN(n) - MIN(sx) * COUNT(*))"
                "   div (COUNT(*) * MIN(n)) AS BIGINT)"
            ).alias("adj_mean_y_micro"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG ranking-quality eval of the JL-projected search space

_NDCG_K = 10
_NDCG_DISC = tuple(
    int(1_000_000 / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1)
)
_NDCG_IDCG = sum((_NDCG_K + 1 - i) * d for i, d in enumerate(_NDCG_DISC, 1))


def _ndcg_oracle() -> str:
    from ..functions.similarity import deterministic_planes_int

    planes = deterministic_planes_int(_RP_PLANES, 64, grid=_RP_GRID)
    values = ", ".join(
        f"({j + 1}, [{', '.join(str(c) for c in row)}])"
        for j, row in enumerate(planes)
    )
    disc = ", ".join(str(d) for d in _NDCG_DISC)
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_RP_GRID}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    pl(j, pv) AS (VALUES {values}),
    proj AS MATERIALIZED (
        SELECT q.vec_id, list(comp ORDER BY j) AS pv
        FROM (
            SELECT q.vec_id, pl.j,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> q.qv[i] * pl.pv[i])) AS BIGINT) AS comp
            FROM q CROSS JOIN pl
        ) q GROUP BY q.vec_id
    ),
    queries AS (SELECT * FROM q WHERE vec_id % 25 = 0 AND vec_id < 2000),
    full_rank AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_sum(list_transform(range(1, 65),
                       i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))),
                       b.vec_id
               ) AS rn
        FROM queries a JOIN q b ON b.vec_id <> a.vec_id
    ),
    rel AS (
        SELECT qid, nid, {_NDCG_K} + 1 - rn AS rel
        FROM full_rank WHERE rn <= {_NDCG_K}
    ),
    pq AS (SELECT * FROM proj WHERE vec_id % 25 = 0 AND vec_id < 2000),
    lo_rank AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_sum(list_transform(range(1, {_RP_PLANES + 1}),
                       i -> (a.pv[i] - b.pv[i]) * (a.pv[i] - b.pv[i]))),
                       b.vec_id
               ) AS rn
        FROM pq a JOIN proj b ON b.vec_id <> a.vec_id
    ),
    hits AS (
        SELECT l.qid,
               COALESCE(r.rel, 0) * ([{disc}])[l.rn] AS gain
        FROM lo_rank l
        LEFT JOIN rel r ON r.qid = l.qid AND r.nid = l.nid
        WHERE l.rn <= {_NDCG_K}
    )
    SELECT qid AS query_id,
           CAST(SUM(gain) AS BIGINT) AS dcg_micro,
           CAST({_NDCG_IDCG} AS BIGINT) AS idcg_micro,
           CAST(SUM(gain) * 1000000 // {_NDCG_IDCG} AS BIGINT)
               AS ndcg_micro
    FROM hits GROUP BY qid
"""


@query("retrieval_ndcg_eval", oracle=_ndcg_oracle())
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the JL-PROJECTED ranking against the exact 64-d
    ranking — the GRADED companion of ann_dim_truncation_recall:
    recall@10 counts set overlap and scores a hit at projected rank 1
    the same as rank 10; NDCG (Jarvelin & Kekalainen 2002) weights
    each hit by 1/log2(rank+1), so it distinguishes "found them all,
    in order" from "found them all, scrambled to the list tail" —
    the metric retrieval/RAG evals actually report. Relevance grades
    are derived from the exact ranking (rel = 11 - exact_rank for the
    true top-10, else 0); discounts are PRECOMPUTED integer micro
    literals (floor(10^6/log2(i+1)) — the Benford idiom: the one log
    lives in Python constant-folding, never in either engine), so
    DCG, the constant IDCG (every query has a full graded top-10 by
    construction), and the floor-div NDCG are all exact int64 on the
    hash per query.

    Shape at 100 TB: identical to the recall eval — broadcast FIXED
    query panel (every 25th vec below id 2000; a panel that grows
    with the corpus makes any exact eval |Q|·n = quadratic — the
    recall twin measured it at tail 2.23 before the cap), two scan x
    broadcast rankings with per-query WindowGroupLimit top-k, a
    model-sized rel join, one query-grain aggregate. The discount
    vector rides as an array literal."""
    from pyspark.sql import Window
    from ..functions.dedupe import fan_out
    from ..functions.similarity import random_projection_int

    # fan_out: the embeddings parquet is one scan split; without it the
    # two checkpointed projections and every broadcast-probe distance
    # scan over them run single-task (r12).
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {_RP_GRID}) AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint(eager=False)
    proj = random_projection_int(
        emb, "embedding", "vec_id", n_planes=_RP_PLANES, dim=64,
        vec_grid=_RP_GRID, plane_grid=_RP_GRID,
    ).localCheckpoint(eager=False)

    def topk(base: DataFrame, col: str) -> DataFrame:
        queries = base.where(
            (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000)
        ).select(
            F.col("vec_id").alias("qid"), F.col(col).alias("a")
        )
        d2 = (
            "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        ranked = (
            base.select(F.col("vec_id").alias("nid"), F.col(col).alias("b"))
            .join(F.broadcast(queries), F.col("nid") != F.col("qid"))
            .select("qid", "nid", F.expr(d2).alias("d2"))
        )
        w = Window.partitionBy("qid").orderBy("d2", "nid")
        return ranked.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= _NDCG_K
        )

    rel = topk(q, "qv").select(
        "qid", "nid", (F.lit(_NDCG_K + 1) - F.col("rn")).alias("rel")
    )
    disc = "array(" + ", ".join(str(d) for d in _NDCG_DISC) + ")"
    lo = topk(proj, "proj").select(
        F.col("qid").alias("lqid"), F.col("nid").alias("lnid"), "rn"
    )
    hits = lo.join(
        rel,
        (F.col("qid") == F.col("lqid")) & (F.col("nid") == F.col("lnid")),
        "left",
    ).select(
        "lqid",
        (
            F.coalesce(F.col("rel"), F.lit(0))
            * F.element_at(F.expr(disc), F.col("rn"))
        ).alias("gain"),
    )
    return hits.groupBy(F.col("lqid").alias("query_id")).agg(
        F.sum("gain").cast("long").alias("dcg_micro"),
        F.lit(_NDCG_IDCG).cast("long").alias("idcg_micro"),
        F.expr(
            f"CAST(SUM(gain) * 1000000 div {_NDCG_IDCG} AS BIGINT)"
        ).alias("ndcg_micro"),
    )


# ---------------------------------------------------------------------------
# Cluster-quality eval: simplified silhouette over the integer k-means

def _silhouette_oracle() -> str:
    d2 = (
        "CAST(list_sum(list_transform(range(1, len(v.qv) + 1),"
        " i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS BIGINT)"
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
               qv AS cv
        FROM q ORDER BY vec_id LIMIT {_KMEANS_K}
    ),
    d1 AS (
        SELECT v.vec_id, v.qv, c.cid, {d2} AS dist2
        FROM q v CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, qv, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    sums AS (
        SELECT cid, s.i AS i, SUM(s.v) AS sv, COUNT(*) AS cnt
        FROM a1, unnest(list_transform(range(1, len(qv) + 1),
                        i -> struct_pack(i := i, v := qv[i]))) AS u(s)
        GROUP BY cid, s.i
    ),
    dims AS (
        SELECT i FROM unnest(range(1, 65)) AS d(i)
    ),
    c1 AS (
        SELECT c0.cid,
               list(COALESCE(s.sv // s.cnt, c0.cv[dims.i])
                    ORDER BY dims.i) AS cv
        FROM c0 CROSS JOIN dims
        LEFT JOIN sums s ON s.cid = c0.cid AND s.i = dims.i
        GROUP BY c0.cid
    ),
    d2r AS (
        SELECT v.vec_id, c.cid, {d2} AS dist2,
               row_number() OVER (
                   PARTITION BY v.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM q v CROSS JOIN c1 c
    ),
    sil AS (
        SELECT a.vec_id, a.cid AS cluster_id, a.dist2 AS a2, b.dist2 AS b2,
               CASE WHEN b.dist2 = 0 THEN 0
                    ELSE (b.dist2 - a.dist2) * 1000000 // b.dist2
               END AS s_micro
        FROM (SELECT * FROM d2r WHERE rn = 1) a
        JOIN (SELECT * FROM d2r WHERE rn = 2) b ON b.vec_id = a.vec_id
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(s_micro) // COUNT(*) AS BIGINT) AS mean_sil_micro,
           CAST(MIN(s_micro) AS BIGINT) AS min_sil_micro
    FROM sil GROUP BY cluster_id
"""


@query("cluster_silhouette_eval", oracle=_silhouette_oracle())
def cluster_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-QUALITY EVAL — simplified silhouette per k-means
    cluster (Rousseeuw 1987's silhouette with centroid distances in
    place of mean pairwise distances — the variant that large-scale
    pipelines actually compute, because the classic form is a pairwise
    O(n^2); on SQUARED distances, which preserves the metric's order):
    for every vector, a = dist2 to its own (nearest) centroid after
    one exact-integer Lloyd round, b = dist2 to the runner-up
    centroid, s_micro = (b - a) * 10^6 div b in [0, 10^6] — small s
    means the vector sits on a cluster boundary. Per-cluster mean and
    MINIMUM silhouette are the "should I trust / resplit this
    cluster" diagnostic behind choosing k for semantic_dedup buckets
    and IVF lists. The oracle replays init, assignment, the
    truncating-integer-mean update, and BOTH final distances verbatim
    (the kmeans_embedding_clusters chain extended to rank 2), so the
    metric's every ingredient rides the hash.

    Shape at 100 TB: identical to k-means — the only addition is that
    the final Arrow assignment kernel keeps the second-smallest
    distance of the same n x k matmul row (assign_with_runnerup;
    zero extra passes), and the eval aggregate is k rows."""
    from ..functions.clustering import kmeans_silhouette_int_grid

    emb = load_table(spark, sf_dir, "embeddings")
    per_vec = kmeans_silhouette_int_grid(
        emb, "embedding", "vec_id", k=_KMEANS_K
    )
    sil = per_vec.select(
        "cluster_id",
        F.expr(
            "CASE WHEN runner_dist2 = 0 THEN 0"
            " ELSE (runner_dist2 - dist2) * 1000000 div runner_dist2"
            " END"
        ).alias("s_micro"),
    )
    return sil.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.expr("CAST(SUM(s_micro) div COUNT(*) AS BIGINT)").alias(
            "mean_sil_micro"
        ),
        F.min("s_micro").cast("long").alias("min_sil_micro"),
    )


# ---------------------------------------------------------------------------
# kNN label-classification eval over an injected-neighbor panel

_KNN_K = 5
_KNN_COPIES = 3
_KNN_SHIFT = 10_000_000


def _knn_delta_sql(vid: str, j: str, i: str) -> str:
    """±3 integer perturbation derived from md5 — identical text on
    both engines modulo hex-int syntax handled by the caller."""
    return f"md5('knn_' || {vid} || '_' || {j} || '_' || {i})"


_KNN_ORACLE = f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    panel AS (
        SELECT * FROM q WHERE vec_id % 25 = 0 AND vec_id < 2000
    ),
    injected AS (
        SELECT p.vec_id + {_KNN_SHIFT} * j.j AS vec_id, p.label,
               list_transform(range(1, len(p.qv) + 1),
                   i -> p.qv[i]
                        + ('0x' || substr(md5('knn_' || p.vec_id || '_'
                              || j.j || '_' || i), 1, 4))::BIGINT % 7 - 3
               ) AS qv
        FROM panel p, range(1, {_KNN_COPIES} + 1) j(j)
    ),
    corpus AS (
        SELECT vec_id, label, qv FROM q
        UNION ALL SELECT vec_id, label, qv FROM injected
    ),
    ranked AS (
        SELECT p.vec_id AS qid, p.label AS true_label,
               c.label AS nb_label,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_sum(list_transform(range(1, len(p.qv) + 1),
                       i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i]))),
                       c.vec_id
               ) AS rn
        FROM panel p JOIN corpus c ON c.vec_id <> p.vec_id
    ),
    votes AS (
        SELECT qid, true_label, nb_label, COUNT(*) AS v
        FROM ranked WHERE rn <= {_KNN_K}
        GROUP BY qid, true_label, nb_label
    ),
    pred AS (
        SELECT qid, true_label, nb_label AS pred_label FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY v DESC, nb_label) AS pr
            FROM votes
        ) WHERE pr = 1
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY true_label, pred_label
"""


@query("knn_label_eval", oracle=_KNN_ORACLE)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFICATION EVAL — 5-NN majority-vote label prediction
    with the full confusion matrix on the hash. The raw corpus cannot
    support this eval: its labels are RANDOM in embedding space
    (probed: 5-NN accuracy 10.6% ~= chance on 10 balanced labels), so
    accuracy could not tell a working kNN from a broken one — the tau
    lesson. Each panel vector therefore gets 3 INJECTED same-label
    neighbors (deterministic md5-derived +/-3 perturbations on the
    micro grid: d2 <= 64*9 = 576 vs ~2e12 for natural pairs, so the
    injections are unambiguously the nearest neighbors): a correct
    kNN predicts the panel vector's own label through the 3-vote
    majority; a broken distance, ranking, or vote falls back to
    chance and flips the matrix. Majority ties break (votes DESC,
    label ASC) — pinned on both engines; the panel is FIXED
    (vec_id % 25 = 0 AND < 2000 — the capped-panel rule from the
    recall eval's measured quadratic).

    Shape at 100 TB: panel x corpus scan-broadcast ranking with
    per-query WindowGroupLimit top-5 (never corpus x corpus), a
    label-bounded vote aggregate, and a 10x10-bounded confusion
    output. Injection is scan-local arithmetic on the panel only."""
    from pyspark.sql import Window
    from ..functions.dedupe import fan_out

    # fan_out: the embeddings parquet is one scan split, and the panel
    # x corpus ranking below is interpreted-HOF d2 over every pair —
    # single-task without it (r12 rule; no-op at real scale).
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000000) AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint(eager=False)
    panel = q.where((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000))
    injected = panel.crossJoin(
        spark.range(1, _KNN_COPIES + 1).select(F.col("id").alias("j"))
    ).select(
        (F.col("vec_id") + F.lit(_KNN_SHIFT) * F.col("j")).alias("vec_id"),
        "label",
        F.expr(
            "transform(sequence(1, size(qv)), i -> qv[i-1]"
            " + CAST(conv(substr(md5(concat('knn_', vec_id, '_', j, '_',"
            " i)), 1, 4), 16, 10) AS BIGINT) % 7 - 3)"
        ).alias("qv"),
    )
    corpus = q.unionByName(injected)
    queries = panel.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("a"),
    )
    d2 = (
        "aggregate(zip_with(a, qv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    ranked = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "true_label",
            F.col("label").alias("nb_label"),
            F.expr(d2).alias("d2"),
            "vec_id",
        )
    )
    w = Window.partitionBy("qid").orderBy("d2", "vec_id")
    votes = (
        ranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN_K)
        .groupBy("qid", "true_label", "nb_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("v"), "nb_label")
    pred = votes.withColumn("pr", F.row_number().over(wp)).where(
        F.col("pr") == 1
    )
    return pred.groupBy(
        F.col("true_label"), F.col("nb_label").alias("pred_label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


# ---------------------------------------------------------------------------
# STL-style seasonal/trend decomposition in exact integer milli units

_STL_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS dt,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tr AS (
        SELECT event_type, dt, y,
               CASE WHEN COUNT(*) OVER w = 7
                    THEN SUM(y) OVER w * 1000 // 7 END AS trend_milli
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY dt
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT event_type, dt, y, trend_milli,
               y * 1000 - trend_milli AS det_milli,
               dayofweek(dt) AS dow
        FROM tr WHERE trend_milli IS NOT NULL
    ),
    seas AS (
        SELECT event_type, dow,
               CASE WHEN SUM(det_milli) >= 0
                    THEN SUM(det_milli) // COUNT(*)
                    ELSE -((-SUM(det_milli)) // COUNT(*)) END AS seasonal_milli
        FROM det GROUP BY event_type, dow
    )
    SELECT d.event_type, d.dt, d.y,
           CAST(d.trend_milli AS BIGINT) AS trend_milli,
           CAST(s.seasonal_milli AS BIGINT) AS seasonal_milli,
           CAST(d.det_milli - s.seasonal_milli AS BIGINT) AS resid_milli
    FROM det d JOIN seas s
      ON s.event_type = d.event_type AND s.dow = d.dow
"""


@query("stl_seasonal_decompose", oracle=_STL_ORACLE)
def stl_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-TREND DECOMPOSITION (the STL shape — Cleveland et al.
    1990 — with moving-average trend and periodic-mean seasonal, the
    deterministic core the loess iterations refine): per event type,
    daily count y splits into TREND (7-day centered moving average,
    emitted only where the +/-3-day window is FULL — edge days have a
    biased window, the classic decomposition edge rule), SEASONAL
    (per-day-of-week mean of the detrended series — the weekly
    pattern), and RESIDUAL (what anomaly detectors should actually
    threshold: anomaly_days_zscore flags raw counts and so fires on
    every weekend; the residual removes the weekly rhythm first).
    Exact integer milli units throughout; the detrended means use
    SIGN-SPLIT truncating division spelled identically on both
    engines (sums can be negative; rule #12's sibling — agree on the
    rounding, then the expression, not the algebra, is the
    contract).

    Shape at 100 TB: one reduction to the (type, day) grain (the only
    corpus-sized shuffle, map-side combinable), then a 7-row ROWS
    window and a dow-grain aggregate over the day-grain table —
    model-sized from the first aggregate on. The decomposition is a
    fixed pipeline of three bounded operators, not an iterative fit."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("dt")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type", "dt", "y",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            (F.sum("y").over(w) * F.lit(1000)).cast("long"),
        ).alias("__tsum"),
    ).select(
        "event_type", "dt", "y",
        F.expr("CAST(__tsum div 7 AS BIGINT)").alias("trend_milli"),
    )
    # dow is ONLY a join/group key: the engines' numbering conventions
    # (Sunday=0 vs Sunday=1) relabel the same partition of dates, so
    # the decomposition is convention-independent by construction.
    det = tr.where(F.col("trend_milli").isNotNull()).select(
        "event_type", "dt", "y", "trend_milli",
        (F.col("y") * 1000 - F.col("trend_milli")).alias("det_milli"),
        F.expr("dayofweek(dt)").alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.expr(
            "CASE WHEN SUM(det_milli) >= 0"
            " THEN SUM(det_milli) div COUNT(*)"
            " ELSE -((-SUM(det_milli)) div COUNT(*)) END"
        ).alias("seasonal_milli")
    )
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type", "dt", "y",
        F.col("trend_milli").cast("long").alias("trend_milli"),
        F.col("seasonal_milli").cast("long").alias("seasonal_milli"),
        (F.col("det_milli") - F.col("seasonal_milli"))
        .cast("long")
        .alias("resid_milli"),
    )


# --------------------------------------------------------------------------
