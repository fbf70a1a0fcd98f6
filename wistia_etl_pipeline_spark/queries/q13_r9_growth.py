"""r9 growth waves: nine new engine surfaces, each with a DuckDB
oracle (VERDICT r8 #4/#6 + Spark 4 SQL front-end breadth).

Wave 1 (1-6 below); wave 2 (7-9): ``sql_pipe_syntax_surface`` (the
``|>`` operator chain), ``listagg_surface`` (ordered/DISTINCT string
aggregation), ``session_variable_binding`` (DECLARE/SET VAR + named
parameter ``args``); wave 3 (10-11): ``statestore_join_state_audit``
(both joinSides of a stream-stream join's buffered state read back
through the state source), ``variant_explode_lateral`` (the VARIANT
table-valued function under LATERAL).

1. ``dedup_simhash_degree`` — the BOUNDED twin of the simhash pair
   dump: per-doc dup-degree instead of the output-bound-quadratic pair
   set (the shape a 100-TB run actually ships).
2. ``theta_sketch_setops`` — DataSketches theta union / intersection /
   a-not-b, completing the ``native_datasketches_anchor`` family (HLL
   can only union; theta is the sketch that can subtract).
3. ``kll_quantile_anchor`` — DataSketches KLL mergeable quantile
   sketch under the anchor pattern (the sketch is randomized, so the
   contract is the rank-error bound, not the value).
4. ``approx_top_k_surface`` — Spark 4's approx_top_k_accumulate /
   combine / estimate two-phase frequent-items pipeline.
5. ``statestore_reader_audit`` — the State Data Source: a streaming
   aggregation's checkpoint opened as a batch DataFrame and
   differentially verified against the batch recompute.
6. ``cogroup_apply_in_arrow`` — ``cogroup().applyInArrow``, the
   Arrow-native twin of the pandas cogroup (sixth Python-worker
   surface).

Mechanically follows the chunk contract in ``queries/_base.py``;
semantic invariants pinned in ``tests/test_r9_growth.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import as_nullable
from ..session import load_table
from ..streaming.pipeline import run_available
from ..streaming.staging import stamp_name_order
from ._base import query
from .q01_core_gold_silver import _dup_corpus
from .q02_sessions_events_e2e import _simhash_pairs_oracle

# ---------------------------------------------------------------------------
# 1. simhash dup-degree — the bounded twin of dedup_simhash_pairs

_SIMHASH_DEGREE_ORACLE = f"""
    WITH pairs AS (SELECT * FROM ({_simhash_pairs_oracle()}) t),
    sym AS (
        SELECT a_id AS doc, hamming FROM pairs
        UNION ALL
        SELECT b_id AS doc, hamming FROM pairs
    )
    SELECT doc, CAST(COUNT(*) AS BIGINT) AS dup_degree,
           CAST(MIN(hamming) AS BIGINT) AS min_hamming
    FROM sym GROUP BY doc
"""


@query("dedup_simhash_degree", oracle=_SIMHASH_DEGREE_ORACLE)
def dedup_simhash_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-duplicate DEGREE — the bounded twin of
    ``dedup_simhash_pairs`` (VERDICT r8 #4). The pair dump is
    output-bound quadratic BY DEFINITION (its BENCH_SCALE exponent
    2.29 is the answer growing, not the plan failing — PLANS.md
    crossover table); this twin runs the identical lossless
    band-join + hamming-verify stages but folds the pair stream
    straight into a per-doc hash aggregate: ``dup_degree`` (distinct
    near-dup neighbors) and ``min_hamming`` (closest neighbor). Output
    is at most one row per document; the quadratic set exists only as
    a shuffle stream with map-side partial counts, never as
    materialized output — so the time curve is CANDIDATE/EDGE-bound,
    and which exponent you measure depends on the corpus, both
    measured (r10, PLANS.md):

    - fixed-919-bigram fixture (BENCH_SCALE.json): tail 2.15, because
      the corpus itself densifies — verified near-dup EDGES grow
      4.12×/2×SF (every doc's TRUE neighbor count rises with SF) and
      time tracks that workload, not the plan;
    - growing-vocabulary corpus (Heaps √-law universe, Zipf draws —
      BENCH_SCALE_ZIPF.json): edges stay exactly linear (== the
      planted dup per doc; zero random collisions survive the verify)
      and the tail lands **0.57** — the near-1-or-better curve this
      shape was built for.

    At corpus scale this is what ships: per-doc dup-degree feeds the
    keep/drop policy directly (degree 0 = unique, high degree = boiler
    plate), and no sink ever stores O(pairs) rows."""
    from ..functions.dedupe import simhash_dup_degree

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    return simhash_dup_degree(
        corpus, "doc_id", "text", sig_bits=60, n_bands=4, max_hamming=3
    )


# ---------------------------------------------------------------------------
# 2. theta sketch set operations (union / intersection / a-not-b)

_THETA_SETOPS_ORACLE = """
    WITH base AS (
        SELECT event_type, user_id,
               MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS in_b
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS exact_union,
           CAST(SUM(in_a * in_b) AS BIGINT) AS exact_intersect,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS exact_diff,
           CAST(1 AS BIGINT) AS union_ok,
           CAST(1 AS BIGINT) AS intersect_ok,
           CAST(1 AS BIGINT) AS diff_ok
    FROM base GROUP BY event_type
"""


@query("theta_sketch_setops", oracle=_THETA_SETOPS_ORACLE)
def theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA SKETCH SET OPERATIONS — Spark 4's DataSketches theta
    family (``theta_sketch_agg`` + ``theta_union`` /
    ``theta_intersection`` / ``theta_difference``), completing the
    ``native_datasketches_anchor`` story: HLL state can only UNION;
    theta is the sketch a deployment reaches for when audiences must
    also intersect and subtract (campaign overlap, churn = yesterday
    MINUS today) without re-reading raw history.

    A = a group's users on even event_ids, B = odd — genuinely
    overlapping sets, built as CONDITIONAL sketch inputs inside one
    groupBy so a parity-one-sided group yields an empty sketch rather
    than a dropped row (set algebra over a missing audience is still
    set algebra). The anchor pattern applies (the estimates ride
    library hashing no SQL can replay): the oracle pins the EXACT
    union / intersection / difference cardinalities plus three
    contract flags the engine must earn — each theta estimate within
    3 % of exact for the union and 6 % for intersection/difference
    (set-op error compounds: the official bound widens with the
    Jaccard geometry), both with an absolute slack of 3 for
    near-empty results where relative error is meaningless. lgK=14
    keeps the sketches in EXACT mode (theta=1) through every test SF
    — the flags still hold in estimation mode by the library's
    bounds, so the contract survives a 100-TB cardinality.

    Shape at 100 TB: per-group sketch state is KB-sized and
    map-combinable; set algebra over persisted sketch columns replaces
    re-scans of raw events."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    lg_k = F.lit(14)
    # Both sketches come out of ONE groupBy via conditional inputs
    # (aggregates skip NULLs, so the non-matching parity contributes an
    # EMPTY sketch, never a missing row): an event_type whose events all
    # share one parity still gets a row, matching the oracle's base —
    # the r9 advisor's inner-join parity hole — and the single-pass form
    # also drops one shuffle vs the two-groupBy + join spelling.
    sketches = ev.groupBy("event_type").agg(
        F.theta_sketch_agg(
            F.when(F.col("event_id") % 2 == 0, F.col("user_id")), lg_k
        ).alias("ska"),
        F.theta_sketch_agg(
            F.when(F.col("event_id") % 2 == 1, F.col("user_id")), lg_k
        ).alias("skb"),
    )
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.max((F.col("event_id") % 2 == 0).cast("int")).alias("in_a"),
            F.max((F.col("event_id") % 2 == 1).cast("int")).alias("in_b"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias(
                "exact_intersect"
            ),
            F.sum(
                ((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("int")
            ).cast("long").alias("exact_diff"),
        )
    )
    est = sketches.select(
        "event_type",
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("u_est"),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias(
            "i_est"
        ),
        F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias(
            "d_est"
        ),
    )

    def ok(est_c: str, exact_c: str, rel: float):
        tol = F.greatest(F.lit(3.0), F.lit(rel) * F.col(exact_c))
        return (
            (F.abs(F.col(est_c) - F.col(exact_c)) <= tol).cast("long")
        )

    return exact.join(est, "event_type").select(
        "event_type",
        "exact_union",
        "exact_intersect",
        "exact_diff",
        ok("u_est", "exact_union", 0.03).alias("union_ok"),
        ok("i_est", "exact_intersect", 0.06).alias("intersect_ok"),
        ok("d_est", "exact_diff", 0.06).alias("diff_ok"),
    )


# ---------------------------------------------------------------------------
# 3. KLL quantile sketch under the anchor pattern

_KLL_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS BIGINT) AS p25_ok,
           CAST(1 AS BIGINT) AS p50_ok,
           CAST(1 AS BIGINT) AS p75_ok,
           CAST(1 AS BIGINT) AS merged_p50_ok
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
"""


@query("kll_quantile_anchor", oracle=_KLL_ORACLE)
def kll_quantile_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL QUANTILE SKETCH — Spark 4's DataSketches
    ``kll_sketch_agg_bigint`` / ``kll_sketch_get_quantile_bigint`` /
    ``kll_merge_agg_bigint``, the mergeable-quantile counterpart of
    the HLL/theta cardinality anchors. Unlike those, KLL is
    RANDOMIZED: compaction tosses coins, so the returned quantile
    differs run to run (measured live: two back-to-back p50s at
    sf0.01 differ by ~0.3 % rank) and can never be hash-pinned. The
    anchor contract is the sketch's actual guarantee — RANK error:
    for each estimated quantile q_p the engine recomputes the TRUE
    normalized rank of q_p over the raw data (one broadcast join +
    conditional count) and must land within ±4 % of p. k=400 gives
    ε ≈ 0.9 % at 99 % confidence; 4 % is ~4.5 ε, wide enough that a
    legitimate coin-flip breach across 5 groups × 4 quantiles ×
    repeated sweeps is probabilistically negligible — a driver red on
    this query means a real regression, never a re-run-first flake
    (the earlier ±2.5 % ≈ 3 ε left that ambiguity; r9 advice). The
    measured live rank error is ~0.3 %, 13× inside. The mergeability
    flag does the same for a p50 read from the UNION of per-half
    sketches (``kll_merge_agg_bigint``) — merged state must keep the
    bound, the property sketch state exists for.

    Shape at 100 TB: per-group sketch state is ~KB and map-side
    combinable — percentile dashboards over arbitrary slices come
    from merging persisted sketch columns, never from re-sorting
    history (contrast ``percentile_engagement``, which pays the exact
    sort)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    micro = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v"),
    )
    k = F.lit(400)
    direct = micro.groupBy("event_type").agg(
        F.kll_sketch_agg_bigint("v", k).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    halves = micro.groupBy(
        "event_type", (F.col("event_id") % 2).alias("h")
    ).agg(F.kll_sketch_agg_bigint("v", k).alias("hsk"))
    merged = halves.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_bigint(
            F.kll_merge_agg_bigint("hsk", k), F.lit(0.5)
        ).alias("m50")
    )
    est = direct.select(
        "event_type",
        "n",
        F.kll_sketch_get_quantile_bigint("sk", F.lit(0.25)).alias("q25"),
        F.kll_sketch_get_quantile_bigint("sk", F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_bigint("sk", F.lit(0.75)).alias("q75"),
    ).join(merged, "event_type")

    ranked = micro.join(F.broadcast(est), "event_type").groupBy(
        "event_type"
    ).agg(
        *[
            (
                F.sum((F.col("v") <= F.col(c)).cast("long"))
                / F.count(F.lit(1))
            ).alias(f"r_{c}")
            for c in ("q25", "q50", "q75", "m50")
        ]
    )

    def ok(rank_c: str, p: float):
        return (F.abs(F.col(rank_c) - F.lit(p)) <= 0.04).cast("long")

    return est.join(ranked, "event_type").select(
        "event_type",
        "n",
        ok("r_q25", 0.25).alias("p25_ok"),
        ok("r_q50", 0.50).alias("p50_ok"),
        ok("r_q75", 0.75).alias("p75_ok"),
        ok("r_m50", 0.50).alias("merged_p50_ok"),
    )


# ---------------------------------------------------------------------------
# 4. approx_top_k two-phase pipeline (exact regime — hash-pinnable)

_TOPK_ORACLE = """
    SELECT event_type, CAST(user_id % 97 AS BIGINT) AS item,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type, user_id % 97
"""


@query("approx_top_k_surface", oracle=_TOPK_ORACLE)
def approx_top_k_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_TOP_K two-phase pipeline — Spark 4's
    ``approx_top_k_accumulate`` (partial sketches) →
    ``approx_top_k_combine`` (merge) → ``approx_top_k_estimate``
    (extract), the frequent-items sketch a 100-TB run uses for
    heavy-hitter reports (top URLs, top tokens) without a full
    GROUP BY materialization.

    Hash-pinnable, unlike HLL/KLL: the underlying frequent-items
    sketch maintains EXACT counts while tracked distinct items stay
    under ``maxItemsTracked`` — here 97 buckets vs 10,000 tracked, so
    every (item, count) is exact and deterministic at every SF, and
    the DuckDB oracle is a plain GROUP BY. The two-phase split is
    deliberately exercised across an extra shard key (4 partial
    sketches per group combined into one), pinning the merge path,
    and the estimate is EXPLODED and re-emitted as rows: the sketch's
    own top-k ordering breaks count ties arbitrarily, so a pipeline
    that needs deterministic output must sort on (count, item)
    itself — this query encodes that rule by returning the full
    item set and letting the differential hash do the order-free
    compare.

    Shape at 100 TB: partial sketches are KB-sized and combine
    associatively — the same daily-state rollup algebra as the HLL /
    theta / KLL anchors, here for frequencies."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    b = ev.select("event_type", (F.col("user_id") % 97).alias("bucket"))
    acc = b.groupBy(
        "event_type", (F.col("bucket") % 4).alias("shard")
    ).agg(F.expr("approx_top_k_accumulate(bucket, 10000)").alias("st"))
    comb = acc.groupBy("event_type").agg(
        F.expr("approx_top_k_combine(st)").alias("st")
    )
    est = comb.select(
        "event_type", F.expr("approx_top_k_estimate(st, 97)").alias("tk")
    )
    return est.select("event_type", F.explode("tk").alias("e")).select(
        "event_type",
        F.col("e.item").alias("item"),
        F.col("e.count").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# 5. state data source — a streaming checkpoint audited as a DataFrame

_STATESTORE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS s,
           'stateStoreSave' AS operator_name,
           CAST(1 AS BIGINT) AS multi_batch
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
"""


@query("statestore_reader_audit", oracle=_STATESTORE_ORACLE)
def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE DATA SOURCE — Spark 4's ``statestore`` / ``state-metadata``
    batch readers opened on a live streaming checkpoint: the state a
    streaming aggregation carries between micro-batches is itself a
    queryable table, which is how a production deployment AUDITS
    streaming state (skew across keys, stale entries, silent
    corruption) without stopping the stream or trusting the sink.

    The query runs a real multi-micro-batch aggregation
    (``maxFilesPerTrigger=2`` over 4 staged files → ≥ 2 batches) to a
    checkpoint, then reads it back COLD through the state source: the
    (count, sum) aggregation buffers per key must equal the batch
    recompute over the same input exactly — streaming state diverging
    from its batch twin is precisely the corruption this audit
    exists to catch. ``state-metadata`` contributes the contract
    columns: the operator must be ``stateStoreSave`` (a streaming agg,
    not some other stateful op) and ``maxBatchId >= 1`` proves the
    state survived at least one real inter-batch handoff — reading
    back a single batch's write would prove nothing about state
    persistence.

    Shape at 100 TB: the state source reads only the checkpoint's
    keyed state (KB per key), partition-parallel — auditing a
    million-key stream costs the state's size, never the stream's
    history."""
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_statestore_")
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    staged = ev.select("event_type", "value")
    staged.repartition(4).write.parquet(src)
    schema = as_nullable(staged.schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias("s"),
        )
    )
    # the state source reads numPartitions from checkpoint metadata
    run_available(
        spark,
        stream.writeStream.outputMode("complete").format("noop"),
        ckpt,
        spark.read.schema(schema).parquet(src),
    )

    meta = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .select(
            F.col("operatorName").alias("operator_name"),
            (F.col("maxBatchId") >= 1).cast("long").alias("multi_batch"),
        )
    )
    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
            F.col("value.sum").alias("s"),
        )
    )
    return state.join(F.broadcast(meta))


# ---------------------------------------------------------------------------
# 6. cogroup().applyInArrow — the Arrow-native cogroup twin

_ARROW_COGROUP_ORACLE = """
    WITH v AS (
        SELECT event_type, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ),
    a AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
        FROM v WHERE event_id % 2 = 0
    ),
    b AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
        FROM v WHERE event_id % 2 = 1
    )
    -- FULL JOIN + zero-COALESCE: the Arrow kernel deliberately emits a
    -- row for a key present on only ONE side (n/s = 0 for the empty
    -- side, rank_delta = 0 — pinned by
    -- test_arrow_cogroup_handles_one_sided_key); the oracle must share
    -- that convention or the two row sets diverge on exactly the edge
    -- case the kernel handles (r9 advice).
    SELECT event_type,
           CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
           CAST(COALESCE(s_a, 0) AS BIGINT) AS s_a,
           CAST(COALESCE(s_b, 0) AS BIGINT) AS s_b,
           COALESCE(d.rank_delta, 0) AS rank_delta
    FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_a,
                 CAST(SUM(v) AS BIGINT) AS s_a FROM a GROUP BY 1) a_agg
    FULL JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_b,
                 CAST(SUM(v) AS BIGINT) AS s_b FROM b GROUP BY 1) b_agg
      USING (event_type)
    LEFT JOIN (
        SELECT a.event_type, CAST(SUM(a.v - b.v) AS BIGINT) AS rank_delta
        FROM a JOIN b USING (event_type, rn) GROUP BY 1
    ) d USING (event_type)
"""


@query("cogroup_apply_in_arrow", oracle=_ARROW_COGROUP_ORACLE)
def cogroup_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUP ARROW surface — ``cogroup().applyInArrow`` (Spark 4),
    the SIXTH Python-worker shape and the Arrow-native twin of
    ``cogroup_asof_checkpoint``'s pandas kernel: both sides of one key
    co-shuffled into a single kernel that sees raw ``pyarrow.Table``s
    (no pandas Block consolidation in either direction).

    The kernel computes a rank-paired delta between the two sides'
    SORTED value multisets (operators/grouped.cogrouped_rank_delta_arrow)
    — a statistic that genuinely needs both whole sides per key (no
    algebraic decomposition) yet is tie-stable, hence cross-engine
    deterministic; the oracle replays it relationally as a
    row_number-paired self-join. Sides are the per-event_type even /
    odd event_id halves, so every key exercises a real two-sided
    merge.

    Shape at 100 TB: one co-shuffle on the key — the same exchange
    bill as a join; groups must fit one executor (grouped-map
    contract). Prefer built-in aggregates when the statistic
    decomposes; this surface is for when it doesn't."""
    from ..operators.grouped import cogrouped_rank_delta_arrow

    micro = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v"),
        )
    )
    left = micro.where(F.col("event_id") % 2 == 0).select("event_type", "v")
    right = micro.where(F.col("event_id") % 2 == 1).select("event_type", "v")
    return cogrouped_rank_delta_arrow(left, right, key="event_type", value="v")


# ---------------------------------------------------------------------------
# wave 2: SQL front-end surfaces (pipe syntax, listagg, session variables)

_PIPE_ORACLE = """
    WITH micro AS (
        SELECT event_type, user_id,
               CAST(floor(value * 1000000) AS BIGINT) AS m
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS s_micro,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS visitors
        FROM micro GROUP BY event_type
    )
    SELECT event_type, n, s_micro, visitors,
           CAST(s_micro // n AS BIGINT) AS mean_micro
    FROM agg WHERE n > 0
"""


@query("sql_pipe_syntax_surface", oracle=_PIPE_ORACLE)
def sql_pipe_syntax_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX — Spark 4's ``|>`` operator chain (SIGMOD '24
    "SQL Has Problems..." / GoogleSQL pipe syntax): the same logical
    plan the DataFrame API declares, but written as a linear SQL
    pipeline — FROM |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY |>
    EXTEND |> WHERE. Each stage consumes the previous stage's output
    top-to-bottom, so computed columns (micro) and aggregate aliases
    (s_micro, n) are referenced naturally downstream instead of
    through nested subqueries — and Catalyst sees the identical
    resolved plan either way: one scan, one partial/final aggregate
    pair, no extra shuffle for the post-aggregate EXTEND/WHERE. The
    oracle is the classic nested-CTE spelling; the hash proves pipe
    and nested forms are the same query.

    The front-end matters operationally: a 100-TB shop's analysts
    write staged transformations; pipe syntax keeps each stage
    individually runnable (prefix of the pipeline = valid query),
    which is how long ETL SQL gets debugged."""
    import uuid

    view = f"ev_pipe_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    return spark.sql(f"""
        FROM {view}
        |> WHERE user_id IS NOT NULL AND value IS NOT NULL
        |> EXTEND CAST(floor(value * 1000000) AS BIGINT) AS micro
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(micro) AS BIGINT) AS s_micro,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS visitors
           GROUP BY event_type
        |> EXTEND s_micro div n AS mean_micro
        |> WHERE n > 0
    """)


_LISTAGG_ORACLE = """
    SELECT event_type,
           md5(string_agg(CAST(event_id AS VARCHAR), ','
                          ORDER BY event_id)) AS ids_fp,
           string_agg(DISTINCT CAST(user_id % 7 AS VARCHAR), '|'
                      ORDER BY CAST(user_id % 7 AS VARCHAR)) AS res_list,
           CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS n_null_skipped
    FROM events
    GROUP BY event_type
"""


@query("listagg_surface", oracle=_LISTAGG_ORACLE)
def listagg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG — Spark 4's ordered string aggregation (ANSI
    ``WITHIN GROUP (ORDER BY ...)``), vs DuckDB's ``string_agg`` with
    an aggregate ORDER BY. Three rules pinned in one pass:

    - the ORDERED form is only deterministic WITH the WITHIN GROUP
      clause (an unordered listagg concatenates in partition arrival
      order — never put one in a differential pipeline); the ordered
      concat of ~2k event ids per group is fingerprinted through md5
      so the hash stays row-sized,
    - the DISTINCT form (Spark requires the order key to BE the
      distinct expression; both engines sort the deduplicated residue
      strings), emitted raw — a bounded 7-value list,
    - NULL inputs are SKIPPED, not emitted (n_null_skipped counts
      what both engines dropped).

    Shape at 100 TB: listagg is a full per-group materialization —
    string state grows with group size, unlike every sketch in this
    file. The md5-fingerprint idiom is the honest use (order-sensitive
    group checksums); shipping raw mega-strings to a sink is the
    anti-pattern, and the 7-value DISTINCT list shows the bounded
    alternative."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.md5(
            F.expr(
                "listagg(CAST(event_id AS STRING), ',') "
                "WITHIN GROUP (ORDER BY event_id)"
            ).cast("binary")
        ).alias("ids_fp"),
        F.expr(
            "listagg(DISTINCT CAST(user_id % 7 AS STRING), '|') "
            "WITHIN GROUP (ORDER BY CAST(user_id % 7 AS STRING))"
        ).alias("res_list"),
        (F.count(F.lit(1)) - F.count("user_id")).cast("long").alias(
            "n_null_skipped"
        ),
    )


_SESSION_VAR_ORACLE = """
    WITH micro AS (
        SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL
    ),
    c AS (SELECT CAST(SUM(m) AS BIGINT) // COUNT(*) AS cut FROM micro)
    SELECT event_type,
           CAST(SUM(CASE WHEN m >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           CAST(SUM(CASE WHEN m < cut THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           CAST(cut AS BIGINT) AS cutoff
    FROM micro, c
    GROUP BY event_type, cut
"""


@query("session_variable_binding", oracle=_SESSION_VAR_ORACLE)
def session_variable_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION VARIABLES + PARAMETERIZED SQL — the two Spark 4 binding
    front-ends a production job uses instead of f-string SQL
    injection: ``DECLARE VARIABLE`` / ``SET VAR`` carries a COMPUTED
    scalar (here the integer-mean micro cutoff, itself a query result)
    across statements server-side, and ``spark.sql(..., args=...)``
    binds literals (the micro scale) as named parameters the parser
    treats as constants (so constant folding still applies — no plan
    cache pollution, no quoting bugs).

    The two-statement flow — SET VAR from one aggregate, then a second
    aggregate referencing the variable — is the warehouse "compute
    threshold, then classify" idiom; the oracle collapses it into a
    CROSS JOIN with a one-row CTE, so the hash proves the staged
    binding equals the single-statement form. Variable names are
    uuid-suffixed: session variables are SESSION-scoped shared state,
    exactly like temp views (the bucketed-join naming rule applies).

    Scale note: the variable holds one scalar on the driver — this is
    control-plane state, not data motion; the cutoff broadcast rides
    the literal into every task's codegen."""
    import uuid

    u = uuid.uuid4().hex[:8]
    view = f"ev_var_{u}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    spark.sql(f"DECLARE OR REPLACE VARIABLE cut_{u} BIGINT")
    spark.sql(
        f"""SET VAR cut_{u} = (
            SELECT SUM(CAST(floor(value * :scale) AS BIGINT))
                   div COUNT(*)
            FROM {view} WHERE value IS NOT NULL)""",
        args={"scale": 1000000},
    )
    return spark.sql(
        f"""
        SELECT event_type,
               CAST(SUM(CASE WHEN CAST(floor(value * :scale) AS BIGINT)
                             >= cut_{u} THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
               CAST(SUM(CASE WHEN CAST(floor(value * :scale) AS BIGINT)
                             < cut_{u} THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
               cut_{u} AS cutoff
        FROM {view} WHERE value IS NOT NULL
        GROUP BY event_type
        """,
        args={"scale": 1000000},
    )


# ---------------------------------------------------------------------------
# wave 3: stream-stream join state + VARIANT table-valued function

_JOIN_STATE_ORACLE = """
    WITH v AS (
        SELECT user_id, epoch_us(ts) AS us FROM events
        WHERE user_id IS NOT NULL AND event_type = 'view'
    ),
    p AS (
        SELECT user_id, epoch_us(ts) AS us FROM events
        WHERE user_id IS NOT NULL AND event_type = 'purchase'
    )
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           CAST(COALESCE(n_view_state, 0) AS BIGINT) AS n_view_state,
           CAST(COALESCE(view_us_sum, 0) AS BIGINT) AS view_us_sum,
           CAST(COALESCE(n_purch_state, 0) AS BIGINT) AS n_purch_state,
           CAST(COALESCE(purch_us_sum, 0) AS BIGINT) AS purch_us_sum,
           'symmetricHashJoin' AS operator_name,
           CAST(1 AS BIGINT) AS multi_batch
    FROM (SELECT user_id, COUNT(*) AS n_view_state,
                 CAST(SUM(us) AS BIGINT) AS view_us_sum
          FROM v GROUP BY 1) v
    FULL JOIN (SELECT user_id, COUNT(*) AS n_purch_state,
                      CAST(SUM(us) AS BIGINT) AS purch_us_sum
               FROM p GROUP BY 1) p USING (user_id)
"""


@query("statestore_join_state_audit", oracle=_JOIN_STATE_ORACLE)
def statestore_join_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN STATE through the state source — the
    two-sided completion of ``statestore_reader_audit`` (which reads
    an AGGREGATION's buffers): a views⋈purchases interval join runs
    with a watermark DELAY BEYOND THE DATA HORIZON (3650 days), so the
    eviction clock never fires and the symmetric hash join must retain
    BOTH inputs in full. ``joinSide=left`` / ``joinSide=right`` then
    read the buffered rows back, and per user the retained (count,
    timestamp-micros sum) must equal the batch scan of the same
    inputs exactly — the state IS the data, row for row.

    Why the horizon trick: with a live watermark the retained set
    depends on per-batch watermark advancement (a trigger-boundary
    artifact), which no SQL oracle can replay; with the clock pinned
    past the horizon, retention semantics become exact set equality —
    the sharpest contract the join-state source can be held to. The
    output-side equivalence (streamed join == batch join) is the
    separate ``streaming_stream_join`` query's hash; together the two
    pin input state and output of the marquee two-sided operator.
    ``state-metadata`` contributes the operator identity
    (``symmetricHashJoin``) and a real inter-batch handoff
    (``maxBatchId >= 1`` via ``maxFilesPerTrigger=1`` over 2-file
    sides).

    Shape at 100 TB: state audits read only the checkpoint's buffered
    rows, partition-parallel; in production the same read with a LIVE
    watermark is how you inspect what the eviction clock is actually
    holding (state-skew per key, stuck watermarks) without stopping
    the stream.

    The stream runs at the state width ``run_available`` derives from
    both staged sides; the state source reads numPartitions from
    checkpoint metadata, so the audit is unaffected."""
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_join_state_")
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("vts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    vp, pp = os.path.join(root, "v"), os.path.join(root, "p")
    # name-ordered mtimes: the same files form the same micro-batches
    # on every run, so the job count does not move from run to run
    views.repartition(2).write.parquet(vp)
    purch.repartition(2).write.parquet(pp)
    stamp_name_order(vp)
    stamp_name_order(pp)
    v_src = spark.read.schema(as_nullable(views.schema)).parquet(vp)
    p_src = spark.read.schema(as_nullable(purch.schema)).parquet(pp)
    v_stream = (
        spark.readStream.schema(v_src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vp)
        .withWatermark("vts", "3650 days")
    )
    p_stream = (
        spark.readStream.schema(p_src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pp)
        .withWatermark("pts", "3650 days")
    )
    joined = v_stream.join(
        p_stream,
        F.expr(
            "v_user = p_user AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR"
        ),
        "inner",
    )
    ck = os.path.join(root, "ck")
    run_available(spark, joined.writeStream.format("noop"), ck, [v_src, p_src])

    meta = (
        spark.read.format("state-metadata")
        .load(ck)
        .select(
            F.col("operatorName").alias("operator_name"),
            (F.col("maxBatchId") >= 1).cast("long").alias("multi_batch"),
        )
        .limit(1)
    )
    left = (
        spark.read.format("statestore")
        .option("joinSide", "left")
        .load(ck)
        .groupBy(F.col("value.v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_view_state"),
            F.sum(F.unix_micros("value.vts")).alias("view_us_sum"),
        )
    )
    right = (
        spark.read.format("statestore")
        .option("joinSide", "right")
        .load(ck)
        .groupBy(F.col("value.p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_purch_state"),
            F.sum(F.unix_micros("value.pts")).alias("purch_us_sum"),
        )
    )
    both = (
        left.join(right, "user_id", "full")
        .select(
            "user_id",
            F.coalesce("n_view_state", F.lit(0)).alias("n_view_state"),
            F.coalesce("view_us_sum", F.lit(0)).alias("view_us_sum"),
            F.coalesce("n_purch_state", F.lit(0)).alias("n_purch_state"),
            F.coalesce("purch_us_sum", F.lit(0)).alias("purch_us_sum"),
        )
    )
    return both.join(F.broadcast(meta))


_VARIANT_EXPLODE_ORACLE = """
    WITH base AS (
        SELECT event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS v0,
               CAST(event_id % 7 AS BIGINT) AS v1,
               CAST(user_id % 13 AS BIGINT) AS v2
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    long_form AS (
        SELECT event_type, 0 AS pos, v0 AS elem FROM base
        UNION ALL SELECT event_type, 1, v1 FROM base
        UNION ALL SELECT event_type, 2, v2 FROM base
    )
    SELECT event_type, CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(elem) AS BIGINT) AS s
    FROM long_form GROUP BY event_type, pos
"""


@query("variant_explode_lateral", oracle=_VARIANT_EXPLODE_ORACLE)
def variant_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT TABLE-VALUED FUNCTION — ``variant_explode`` under a
    LATERAL correlate: each event's semi-structured JSON array (built
    deterministically from its own columns, the
    ``variant_array_paths`` construction) is shredded one-row-per-
    element with its position, then re-aggregated per (event_type,
    pos). Complements ``variant_array_paths`` (path EXTRACTION from
    variant) with the TVF side: full enumeration when the consumer
    doesn't know the paths — the schema-on-read shape a landing zone
    of heterogeneous vendor JSON actually needs.

    The oracle replays the construction relationally (UNION ALL long
    form), so the hash pins both the TVF's row fan-out (pos values,
    element order) and the VARIANT→BIGINT cast semantics.

    Shape at 100 TB: variant_explode is a generator — zero shuffle at
    the explode itself, WholeStageCodegen around it; the only exchange
    is the final group-by. Arrays here are fixed-width 3; real vendor
    payloads fan out variably and the plan is unchanged."""
    import uuid

    view = f"ev_vexp_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    return spark.sql(f"""
        WITH docs AS (
            SELECT event_type,
                   parse_json(concat(
                       '[', CAST(floor(value * 1000000) AS BIGINT),
                       ',', CAST(event_id % 7 AS BIGINT),
                       ',', CAST(user_id % 13 AS BIGINT), ']')) AS doc
            FROM {view}
            WHERE value IS NOT NULL AND user_id IS NOT NULL
        )
        SELECT event_type, CAST(e.pos AS BIGINT) AS pos,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(e.value AS BIGINT)) AS BIGINT) AS s
        FROM docs, LATERAL variant_explode(doc) AS e
        GROUP BY event_type, e.pos
    """)
