"""Runtime-filter plan demos, calibration, DTW, and the r5+ closing waves.

Mechanically split from the registry monolith in r8; see
``queries/_base.py`` for the registration contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.dedup import dedup_exact, dedup_latest_wins
from ..operators.rollup import daily_rollup
from ..schemas import as_nullable
from ..session import apply_runtime_confs, arrow_local_df, load_table
from ..streaming.pipeline import run_available
from ._base import query
from .q01_core_gold_silver import _DUP_CORPUS_SQL, _DUP_SHIFT, _NORM, _dup_corpus
from .q07_sketches_graph import _minhash_pairs_ctes
from .q08_timeseries_paths import _ACF_R, _LPA_ROUNDS, _lpa_round_sql

# Round-5 fifth session: runtime-filter plan demos, calibration, DTW
# --------------------------------------------------------------------------

@query(
    "bloom_filter_join_prune",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue,
           CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def bloom_filter_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER JOIN PRUNING — the row-level sibling of the
    AQE skew demo (``aqe_skew_join_rollup``) and of dynamic partition
    pruning: a selective dimension predicate (urgent orders, ~20% of
    the orders table) is turned by ``InjectRuntimeFilter`` into a
    ``bloom_filter_agg`` built on the creation side and a
    ``might_contain(xxhash64(l_orderkey))`` filter EVALUATED INSIDE THE
    FACT SCAN — the ~80% of lineitem rows whose order is not urgent are
    dropped before the shuffle instead of after it.
    ``tests/test_plans.py::test_bloom_filter_join_prunes_fact_scan``
    executes this plan and pins both halves (the filter on the lineitem
    side, the bloom aggregate on the orders side).

    Per-query conf overrides: the application-side size gate defaults
    to 10 GB — correct at 100 TB, where a bloom filter is only worth
    building against a scan big enough to amortize it, but unreachable
    at test SF, so the gate is lowered to 0 (RUNTIME_CONFS carries the
    default; the next query's apply_runtime_confs resets it — the
    aqe_skew leak-proofing pattern). Broadcast is disabled for THIS
    plan only: at 100 TB the urgent-orders side (billions of keys) is
    far beyond broadcast range and the join is a genuine shuffle join —
    which is exactly when the bloom filter pays: it is the scalable
    replacement for the broadcast-join's implicit row pruning. The
    rewrite is semantics-free (a bloom filter has false positives,
    never false negatives, and the exact join still runs behind it),
    so the plain-join oracle is the differential proof."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # After load_table (which re-applies the RUNTIME_CONFS defaults and
    # would clobber these — the aqe_skew conf-order lesson).
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    urgent = orders.where(
        F.col("o_orderpriority") == F.lit("1-URGENT")
    ).select("o_orderkey")
    joined = lineitem.join(
        urgent, lineitem.l_orderkey == urgent.o_orderkey
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).cast("decimal(25,6)")
        ).cast("double").alias("revenue"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


@query(
    "dpp_partition_prune_join",
    oracle="""
    SELECT CAST(ts AS DATE)      AS dt,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6)
                                 AS sum_value
    FROM events
    WHERE dayofweek(CAST(ts AS DATE)) = 1  -- DuckDB: 0=Sunday, 1=Monday
    GROUP BY 1
    """,
)
def dpp_partition_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the partition-level sibling of the
    bloom demo above, and the runtime completion of P3's static
    partition-predicate scan: the fact table is laid out
    ``partitionBy(dt)`` (the reference's own object-store layout,
    bronze.py:141's dt= prefix convention), the calendar dim carries a
    day-of-week attribute the fact layout knows nothing about, and
    filtering the DIM to Mondays prunes the FACT scan to ~1/7 of its
    partitions AT RUNTIME via the reused broadcast
    (``dynamicpruningexpression(dt IN dynamicpruning#N)`` inside the
    scan's PartitionFilters —
    ``tests/test_plans.py::test_dpp_prunes_fact_partitions`` executes
    the plan and pins it, plus the actual partitions-read count).

    This is THE pattern a 100 TB date-partitioned warehouse lives on:
    the dim predicate is not expressible as a static partition filter
    (the fact directory tree only knows dt values, not week structure),
    so without DPP the scan reads all partitions and the join discards
    6/7 of the bytes after IO. No conf overrides needed — DPP is on by
    default and the dim side broadcasts naturally; the demo's only
    stage-setting is the partitioned layout itself, built from the
    events table inside the query (uuid temp dir, same as the
    stream-staging queries). The oracle computes the same Monday
    rollup from the UNPARTITIONED source, so the hash also proves the
    partitioned layout round-trips every row (dates: Spark
    dayofweek 1=Sunday vs DuckDB 0=Sunday — aligned explicitly, the
    datetime_surface lesson)."""
    import os
    import tempfile

    events = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="wistia_dpp_")
    fact_path = os.path.join(root, "fact")
    dim_path = os.path.join(root, "dim")
    events.withColumn("dt", F.to_date("ts")).write.partitionBy(
        "dt"
    ).parquet(fact_path)
    # Calendar dim: one row per date with attributes the fact layout
    # does not encode. Written to disk (not constant-folded) so the
    # pruning genuinely happens at runtime against a file source.
    events.select(F.to_date("ts").alias("dt")).distinct().select(
        "dt", F.dayofweek("dt").alias("dow")  # Spark: 1=Sunday
    ).write.parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    mondays = spark.read.parquet(dim_path).where(
        F.col("dow") == F.lit(2)  # Spark Monday
    ).select("dt")
    return (
        fact.join(mondays, "dt")
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
    )


_ISO_ORACLE = """
    WITH bins AS (
        SELECT CAST(LEAST(63, CAST(floor(value / 8.0) AS BIGINT)) AS BIGINT)
                   AS score_bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS n_pos
        FROM events GROUP BY 1
    ),
    pre AS (
        SELECT score_bin, n, n_pos,
               CAST(SUM(n) OVER (ORDER BY score_bin) AS BIGINT)     AS cw,
               CAST(SUM(n_pos) OVER (ORDER BY score_bin) AS BIGINT) AS cy
        FROM bins
    ),
    intervals AS (
        SELECT j.score_bin AS jb, k.score_bin AS kb,
               CAST(k.cy - (j.cy - j.n_pos) AS DOUBLE)
                   / CAST(k.cw - (j.cw - j.n) AS DOUBLE) AS avg_rate
        FROM pre j JOIN pre k ON j.score_bin <= k.score_bin
    ),
    minimax AS (
        SELECT i.score_bin,
               MAX(mn.m) AS g
        FROM pre i JOIN (
            SELECT iv.jb, i2.score_bin AS ib, MIN(iv.avg_rate) AS m
            FROM pre i2
            JOIN intervals iv
              ON iv.jb <= i2.score_bin AND iv.kb >= i2.score_bin
            GROUP BY iv.jb, i2.score_bin
        ) mn ON mn.ib = i.score_bin
        GROUP BY i.score_bin
    )
    SELECT b.score_bin, b.n, b.n_pos,
           CAST(b.n_pos * 1000000 // b.n AS BIGINT) AS rate_micro,
           CAST(floor(m.g * 1000000) AS BIGINT)     AS iso_micro
    FROM bins b JOIN minimax m ON m.score_bin = b.score_bin
"""


@query("isotonic_calibration", oracle=_ISO_ORACLE)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION (PAVA-equivalent) score calibration — the
    monotone upgrade of ``quality_score_calibration``'s reliability
    diagram: raw per-bin purchase rates over 64 engagement-value bins
    are NOT monotone (the label is noisy), and the isotonic fit is the
    maximum-likelihood monotone curve, computed here through the exact
    MINIMAX characterization g(i) = max_{j<=i} min_{k>=i} avg(y[j..k])
    (Robertson/Wright/Dykstra 1988, eq. 1.9–1.13) instead of the
    sequential pool-adjacent-violators sweep — PAVA is inherently
    serial, the minimax form is a relational join over interval
    averages, which is the distributable shape.
    ``tests/test_selection.py::test_isotonic_matches_pava_and_is_monotone``
    proves the equivalence against a pure-Python PAVA replica and pins
    monotonicity.

    Exactness: interval averages are BIGINT/BIGINT divisions — one
    IEEE-754 op per pair, bit-identical cross-engine (the per-row
    double rule from the registry header); max-of-min over identical
    double SETS is engine-independent even when distinct rationals
    collide in double space (max/min of VALUES, not argmax). The final
    micro floors are then exact.

    Shape at 100 TB: ONE corpus-sized hash aggregate reduces the event
    stream to <=64 (bin, n, n_pos) rows; everything after — prefix
    sums, the 2k-row interval self-join, the minimax — is model-sized
    driver-adjacent work (the single-partition window is over 64 rows
    by construction, the token_budget_selection bounded-window
    pattern). Calibrating a trillion events costs exactly the one
    scan."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    bins = events.groupBy(
        F.least(F.lit(63), F.floor(F.col("value") / F.lit(8.0)))
        .cast("long")
        .alias("score_bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.col("event_type") == F.lit("purchase"), F.lit(1))
        ).alias("n_pos"),
    )
    w = Window.orderBy("score_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = bins.select(
        "score_bin",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("long").alias("cw"),
        F.sum("n_pos").over(w).cast("long").alias("cy"),
    ).localCheckpoint(eager=False)
    j = pre.select(
        F.col("score_bin").alias("jb"),
        (F.col("cy") - F.col("n_pos")).alias("jy0"),
        (F.col("cw") - F.col("n")).alias("jw0"),
    )
    k = pre.select(
        F.col("score_bin").alias("kb"),
        F.col("cy").alias("ky"),
        F.col("cw").alias("kw"),
    )
    intervals = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("ky") - F.col("jy0")).cast("double")
            / (F.col("kw") - F.col("jw0")).cast("double")
        ).alias("avg_rate"),
    )
    ibins = pre.select(F.col("score_bin").alias("ib"))
    inner = (
        ibins.join(
            intervals,
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("jb", "ib")
        .agg(F.min("avg_rate").alias("m"))
    )
    g = inner.groupBy(F.col("ib").alias("score_bin")).agg(
        F.max("m").alias("g")
    )
    return bins.join(g, "score_bin").select(
        "score_bin",
        "n",
        "n_pos",
        F.expr("CAST(n_pos * 1000000 div n AS BIGINT)").alias("rate_micro"),
        F.floor(F.col("g") * F.lit(1000000)).cast("long").alias("iso_micro"),
    )


_DTW_T = 28      # Jan 1-28 — present at every SF (TESTDATA.md span)
_DTW_BAND = 3    # Sakoe-Chiba band half-width


_DTW_ORACLE = f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, CAST(ts AS DATE) AS dt FROM events
        WHERE CAST(ts AS DATE)
              BETWEEN DATE '2024-01-01' AND DATE '2024-01-{_DTW_T:02d}'
    ),
    cnt AS MATERIALIZED (
        SELECT user_id,
               CAST(date_diff('day', DATE '2024-01-01', dt) + 1 AS BIGINT)
                   AS i,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM ev GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM cnt GROUP BY 1
    ),
    days AS (SELECT unnest(range(1, {_DTW_T} + 1)) AS i),
    ushare AS MATERIALIZED (
        SELECT t.user_id, d.i, COALESCE(c.c, 0) * 1000 // t.total AS av
        FROM tot t CROSS JOIN days d
        LEFT JOIN cnt c ON c.user_id = t.user_id AND c.i = d.i
    ),
    rshare AS MATERIALIZED (
        SELECT d.i AS j,
               COALESCE(g.gc, 0) * 1000
                   // (SELECT CAST(SUM(c) AS BIGINT) FROM cnt) AS bv
        FROM days d
        LEFT JOIN (SELECT i, CAST(SUM(c) AS BIGINT) AS gc
                   FROM cnt GROUP BY i) g
          ON g.i = d.i
    ),
    cost AS MATERIALIZED (
        SELECT u.user_id, u.i, r.j, ABS(u.av - r.bv) AS d
        FROM ushare u JOIN rshare r ON ABS(u.i - r.j) <= {_DTW_BAND}
    ),
    -- Wavefront recursion over anti-diagonals: DuckDB's recursive
    -- working table holds ONLY the last step's rows and may be
    -- referenced once, but cell (i,j) needs diagonals t-1 AND t-2 —
    -- so every fresh diagonal is re-emitted once more as fresh=false
    -- (rows live exactly two steps), and a VALUES role table fans the
    -- single working-table scan into the three DP moves + the carry.
    dp AS (
        SELECT c.user_id, c.i, c.j, c.d AS cost, true AS fresh
        FROM cost c WHERE c.i = 1 AND c.j = 1
        UNION ALL
        SELECT s.user_id, s.i, s.j, s.cost, s.fresh FROM (
            WITH raw AS (
                SELECT w.user_id, w.i, w.j, w.cost, r.kind, r.di, r.dj
                FROM dp w JOIN (VALUES ('m', 1, 0, true), ('m', 0, 1, true),
                                       ('m', 1, 1, false), ('c', 0, 0, true))
                     r(kind, di, dj, needfresh) ON w.fresh = r.needfresh
            ),
            moved AS (
                SELECT user_id, i + di AS i, j + dj AS j, MIN(cost) AS best
                FROM raw
                WHERE kind = 'm' AND i + di <= {_DTW_T}
                  AND j + dj <= {_DTW_T}
                  AND ABS((i + di) - (j + dj)) <= {_DTW_BAND}
                GROUP BY 1, 2, 3
            ),
            newcells AS (
                SELECT m.user_id, m.i, m.j, m.best + c.d AS cost,
                       true AS fresh
                FROM moved m JOIN cost c
                  ON c.user_id = m.user_id AND c.i = m.i AND c.j = m.j
            ),
            carried AS (
                SELECT user_id, i, j, cost, false AS fresh
                FROM raw WHERE kind = 'c' AND i + j <= 2 * {_DTW_T} - 1
            )
            SELECT * FROM newcells UNION ALL SELECT * FROM carried
        ) s
    )
    SELECT t.user_id, t.n_active, t.total, d.cost AS dtw_cost
    FROM tot t JOIN dp d ON d.user_id = t.user_id
    WHERE d.i = {_DTW_T} AND d.j = {_DTW_T} AND d.fresh
"""


@query("dtw_activity_profile", oracle=_DTW_ORACLE)
def dtw_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING activity-shape distance — the sequence
    operator Spark lacks (a sequential DP no built-in expresses),
    implemented as the brief's category-(b) path: per-user daily
    activity over a FIXED 28-day calendar window is reduced to an
    integer per-mille share series in plain aggregates, then an
    Arrow-batched ``mapInPandas`` kernel (functions/dtw.py) runs the
    Sakoe-Chiba banded DP (band 3) against the global mean profile —
    "which users' activity RHYTHM deviates from the corpus, allowing
    small temporal shifts" — the elastic upgrade of
    ``user_activity_trend``'s rigid per-day comparison (a user who
    does everything one day late is near-identical under DTW but far
    under Euclidean).

    Exactness: shares are floor-div per-mille BIGINTs, costs are
    |int - int| sums — both engines replay the identical recurrence;
    the oracle's wavefront recursive CTE (comment inline above) is a
    faithful re-execution of the DP, so the hash proves the kernel
    cell-for-cell. ``tests/test_dtw.py`` pins the kernel against a
    pure-Python replica, shift-tolerance (lag-1 series beats a
    same-energy scramble), and band unreachability.

    Shape at 100 TB: one (user, day) hash aggregate is the only
    corpus-sized shuffle; the series assembly is map_from_entries +
    a 28-element transform (scan-local); the reference profile is a
    28-int literal (k-means-centroid pattern, never a join); the DP
    stage is O(T·band) per user over Arrow batches — linear in users,
    partition-parallel, no shuffle of its own. A billion users cost a
    billion tiny DPs, not a billion² alignment."""
    from ..functions.dtw import banded_dtw

    t, band = _DTW_T, _DTW_BAND
    events = load_table(spark, sf_dir, "events")
    win = events.select(
        "user_id", F.to_date("ts").alias("dt")
    ).where(
        (F.col("dt") >= F.lit("2024-01-01"))
        & (F.col("dt") <= F.lit(f"2024-01-{t:02d}"))
    )
    cnt = win.groupBy(
        "user_id",
        (F.datediff("dt", F.lit("2024-01-01")) + F.lit(1)).alias("i"),
    ).agg(F.count(F.lit(1)).alias("c"))
    # Global reference profile: 28 per-mille ints — model-sized collect.
    grows = (
        cnt.groupBy("i").agg(F.sum("c").alias("gc")).collect()
    )
    gmap = {int(r.i): int(r.gc) for r in grows}
    gtot = sum(gmap.values())
    ref = [(gmap.get(i, 0) * 1000) // gtot for i in range(1, t + 1)]
    user = cnt.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("i"), F.col("c")))
        ).alias("m"),
    )
    series = user.select(
        "user_id",
        "n_active",
        "total",
        F.expr(
            f"transform(sequence(1, {t}),"
            f" d -> CAST(coalesce(element_at(m, d), 0L) * 1000"
            f" div total AS BIGINT))"
        ).alias("shares"),
    )
    return banded_dtw(series, "shares", ref, band=band).select(
        "user_id", "n_active", "total", "dtw_cost"
    )


_RANKSUM_ORACLE = """
    WITH census AS (
        SELECT value,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                    AS BIGINT) AS ca,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM events
        WHERE event_type IN ('view', 'click')
        GROUP BY value
    ),
    ranked AS (
        SELECT ca, m,
               CAST(COALESCE(SUM(m) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS s
        FROM census
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS BIGINT)                    AS n_a,
               CAST(SUM(m - ca) AS BIGINT)                AS n_b,
               CAST(SUM(ca * (2 * s + m + 1)) AS BIGINT)  AS r2_a,
               CAST(SUM(m * (m * m - 1)) AS BIGINT)       AS tie_m3_sum
        FROM ranked
    )
    SELECT n_a, n_b, r2_a, tie_m3_sum,
           CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           CAST((n_a * n_b - (r2_a - n_a * (n_a + 1)))
                * 1000000 // (n_a * n_b) AS BIGINT) AS rank_biserial_micro
    FROM agg
"""


@query("rank_sum_ab_test", oracle=_RANKSUM_ORACLE)
def rank_sum_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY RANK-SUM A/B TEST — the nonparametric sibling of
    ``experiment_ab_chisq`` (rates) and ``experiment_cuped_adjustment``
    (means): does the engagement-value DISTRIBUTION differ between the
    'view' and 'click' arms, via ranks — robust to the heavy tail that
    makes the mean tests fragile. Everything is exact integers on the
    DOUBLED-rank grid: tied blocks share average rank (S + (m+1)/2),
    so 2·avg_rank = 2S + m + 1 is a BIGINT; emitted are the doubled
    rank sum R2_A, the doubled U statistic U2_A = R2_A − n_A(n_A+1),
    the tie-correction term Σ m(m²−1) (the variance numerator piece a
    z-test consumer needs — kept as the exact integer, no sqrt crosses
    an engine), and the rank-biserial effect size in floored micro
    (rb = 1 − U2/(n_a·n_b)).

    The scale design is the census-selection idiom
    (``trimmed_mean_census`` / ``exact_median_two_pass``): NO
    corpus-sized rank window — one hash aggregate reduces the stream
    to the VALUE DOMAIN (grouped by the double's exact bit pattern;
    parquet doubles group/order identically cross-engine), the
    cumulative-count window runs over that domain-bounded census, and
    one final reduction emits a single row. Ranking a trillion events
    costs one scan + one census-sized window."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    census = (
        events.where(F.col("event_type").isin("view", "click"))
        .groupBy("value")
        .agg(
            F.count(
                F.when(F.col("event_type") == F.lit("view"), F.lit(1))
            ).alias("ca"),
            F.count(F.lit(1)).alias("m"),
        )
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = census.select(
        "ca",
        "m",
        F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long").alias("s"),
    )
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("m") - F.col("ca")).cast("long").alias("n_b"),
        F.sum(
            F.col("ca") * (F.lit(2) * F.col("s") + F.col("m") + F.lit(1))
        )
        .cast("long")
        .alias("r2_a"),
        F.sum(F.col("m") * (F.col("m") * F.col("m") - F.lit(1)))
        .cast("long")
        .alias("tie_m3_sum"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "r2_a",
        "tie_m3_sum",
        (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + F.lit(1)))
        .cast("long")
        .alias("u2_a"),
        F.expr(
            "CAST((n_a * n_b - (r2_a - n_a * (n_a + 1)))"
            " * 1000000 div (n_a * n_b) AS BIGINT)"
        ).alias("rank_biserial_micro"),
    )


@query(
    "txlog_delete_user",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events
    WHERE user_id < 30 OR user_id > 59
    GROUP BY event_type
    """,
)
def txlog_delete_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL DELETE on the ACID table — the right-to-be-forgotten
    path the txlog family was missing (overwrite/append/merge/partition
    backfill/compact existed; GDPR erasure is the remaining production
    verb): the events table is laid out range-partitioned + sorted on
    user_id with per-file min/max in the manifest (``stats_cols``), and
    ``TxLogTable.delete`` prunes at the FILE level — only files whose
    recorded range can contain users 30–59 are read and rewritten;
    every other file is carried into the new manifest byte-identical
    (``tests/test_txlog.py::test_delete_prunes_and_carries_files`` pins
    carried-file identity, pruning counts, NULL preservation, the
    no-op fast path, and read_changes' rewrite semantics).

    At 100 TB this is the difference between an erasure request
    costing a table rewrite and costing a few file rewrites: a layout
    sorted on the key (1-D skipping, applied to the log's add-file
    stats exactly as Delta does) localizes any key range to few files. The oracle computes the surviving rollup from
    the raw events table, so the hash proves the delete removed
    EXACTLY the predicate rows across the rewrite+carry seam."""
    import tempfile

    from ..sources.txlog import TxLogTable

    events = load_table(spark, sf_dir, "events")
    table = TxLogTable(
        tempfile.mkdtemp(prefix="wistia_del_") + "/tbl",
        stats_cols=("user_id",),
    )
    laid = (
        events.select("user_id", "event_type", "value")
        .repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
    )
    table.overwrite(laid)
    table.delete(spark, ("user_id", 30, 59))
    out = table.read(spark)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
        ).alias("sum_value"),
    )


_SCENE_FRAMES = 24   # frames per synthesized clip
_SCENE_TAU = 680     # byte-L1 cut threshold (see docstring)

_SCENE_ORACLE = f"""
    WITH fr AS (
        SELECT doc_id, unnest(range(0, {_SCENE_FRAMES})) AS f FROM documents
    ),
    flags AS (
        SELECT doc_id, f,
               CASE WHEN f = 0 THEN 1
                    WHEN ('0x' || substr(md5('cut_' || doc_id || '_' || f),
                                         1, 1))::BIGINT < 4
                    THEN 1 ELSE 0 END AS is_new
        FROM fr
    ),
    scenes AS (
        SELECT doc_id, f, is_new,
               CAST(SUM(is_new) OVER (
                   PARTITION BY doc_id ORDER BY f) AS BIGINT) - 1 AS s
        FROM flags
    ),
    bytes AS (
        SELECT doc_id, f,
               [CASE WHEN i < 12
                     THEN ('0x' || substr(md5('scene_' || doc_id || '_' || s),
                                          2 * i + 1, 2))::BIGINT
                     ELSE ('0x' || substr(md5('noise_' || doc_id || '_' || f),
                                          2 * i + 1, 2))::BIGINT END
                for i in range(0, 16)] AS b
        FROM scenes
    ),
    diffs AS (
        SELECT doc_id, f,
               list_sum([abs(b[i + 1] - p[i + 1]) for i in range(0, 16)])
                   AS d1
        FROM (SELECT doc_id, f, b,
                     lag(b) OVER (PARTITION BY doc_id ORDER BY f) AS p
              FROM bytes)
        WHERE f > 0
    ),
    det AS (SELECT doc_id, f FROM diffs WHERE d1 > {_SCENE_TAU}),
    agg AS (
        SELECT tr.doc_id,
               CAST(SUM(tr.is_new) AS BIGINT) AS n_true_cuts,
               CAST(COUNT(de.f) AS BIGINT)    AS n_detected,
               CAST(SUM(CASE WHEN de.f IS NOT NULL AND tr.is_new = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
               CAST(COALESCE(SUM(de.f), 0) AS BIGINT)      AS det_pos_sum
        FROM (SELECT doc_id, f, is_new FROM flags WHERE f > 0) tr
        LEFT JOIN det de ON de.doc_id = tr.doc_id AND de.f = tr.f
        GROUP BY tr.doc_id
    )
    SELECT 'd' || doc_id AS media_id,
           CAST({_SCENE_FRAMES} AS BIGINT) AS n_frames,
           n_true_cuts, n_detected, n_matched, det_pos_sum
    FROM agg
"""


@query("multimodal_scene_cuts", oracle=_SCENE_ORACLE)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO SCENE-CHANGE DETECTION + its own evaluation — completes
    the multimodal triad (image headers: decode_stats; audio:
    audio_rms/silence_segments; video: this). Each document becomes a
    24-frame clip of 16-byte raw frame buffers with PLANTED scene
    structure (~25% cut probability per frame off the md5 keystream):
    frames share 12 scene-keyed bytes within a scene and carry 4
    frame-keyed noise bytes, so within-scene inter-frame L1 distance
    centers near 340 and cross-scene near 1360 — threshold 680 splits
    them imperfectly BY DESIGN (both tails cross it), which is what
    makes the emitted per-clip precision/recall ingredients
    (n_true_cuts / n_detected / n_matched) a real detector evaluation
    rather than a tautology. Detection runs in the Arrow-batched
    ``multimodal.frame_cut_positions`` kernel (binary buffers never
    leave the executor); ground truth is re-derived RELATIONALLY from
    the same keystream via JVM md5 + conv, and the eval is a plain
    left join — kernel for bytes, Catalyst for everything after.

    The oracle rebuilds frames hex-pair-by-hex-pair in SQL and replays
    diff, threshold, and eval, so the hash pins byte layout, the L1,
    the threshold compare, and the join — cell-exact. Shape at 100 TB:
    synth+detect are one linear mapInPandas pass (no shuffle); truth
    explode is frames-sized; one (media-grain) join + aggregate."""
    import hashlib

    import pandas as pd

    from ..functions.multimodal import frame_cut_positions

    docs = load_table(spark, sf_dir, "documents")
    tau, nf = _SCENE_TAU, _SCENE_FRAMES

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                frames, s = [], -1
                for f in range(nf):
                    new = (
                        f == 0
                        or hashlib.md5(
                            f"cut_{d}_{f}".encode()
                        ).digest()[0] >> 4
                        < 4
                    )
                    if new:
                        s += 1
                    scene_b = hashlib.md5(
                        f"scene_{d}_{s}".encode()
                    ).digest()[:12]
                    noise_b = hashlib.md5(
                        f"noise_{d}_{f}".encode()
                    ).digest()[12:16]
                    frames.append(scene_b + noise_b)
                ids.append(f"d{d}")
                payloads.append(b"".join(frames))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="object"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    clips = docs.select("doc_id").mapInPandas(
        synth, "media_id string, payload binary"
    )
    detected = frame_cut_positions(
        clips, frame_bytes=16, threshold=tau
    ).select(
        "media_id", F.explode_outer("cuts").alias("fd")
    )
    truth = docs.select(
        "doc_id", F.explode(F.expr(f"sequence(1, {nf} - 1)")).alias("f")
    ).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias(
            "media_id"
        ),
        "f",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cut_"),
                            F.col("doc_id").cast("string"),
                            F.lit("_"),
                            F.col("f").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("long")
            < 4,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    joined = truth.join(
        detected,
        (truth.media_id == detected.media_id) & (truth.f == detected.fd),
        "left",
    ).select(truth.media_id, "f", "is_new", "fd")
    return joined.groupBy("media_id").agg(
        F.lit(nf).cast("long").alias("n_frames"),
        F.sum("is_new").cast("long").alias("n_true_cuts"),
        F.count("fd").cast("long").alias("n_detected"),
        F.sum(
            F.when(F.col("fd").isNotNull() & (F.col("is_new") == 1), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
        F.coalesce(F.sum("fd"), F.lit(0)).cast("long").alias("det_pos_sum"),
    )


_ASSOC_ORACLE = """
    WITH b AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM b),
    items AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS ia, c.item AS ib, CAST(COUNT(*) AS BIGINT) AS cab
        FROM b a JOIN b c ON a.ok = c.ok AND a.item < c.item
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT ia AS antecedent, ib AS consequent, cab FROM pairs
        UNION ALL
        SELECT ib AS antecedent, ia AS consequent, cab FROM pairs
    )
    SELECT r.antecedent, r.consequent,
           r.cab AS support_cnt,
           CAST(r.cab * 1000000 // ca.c AS BIGINT) AS conf_micro,
           CAST(r.cab * n.n_baskets * 1000000 // (ca.c * cc.c) AS BIGINT)
               AS lift_micro
    FROM rules r
    JOIN items ca ON ca.item = r.antecedent
    JOIN items cc ON cc.item = r.consequent
    CROSS JOIN n
    WHERE r.cab >= 20
    ORDER BY conf_micro DESC, antecedent, consequent
    LIMIT 40
"""


@query("assoc_rules_brands", oracle=_ASSOC_ORACLE)
def assoc_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET ASSOCIATION RULES (Agrawal & Srikant's A-priori
    setting, restricted to size-2 itemsets — the level that needs no
    candidate generation): baskets are orders, items are the part
    brands they contain; emitted rules A=>B carry exact-integer
    support, confidence (supp(AB)*10^6 div supp(A) — directional) and
    lift (supp(AB)*N*10^6 div (supp(A)*supp(B)) — the
    independence-normalized version both directions share); top-40 by
    confidence with full lexicographic tiebreak (the deterministic
    top-k rule). Directional confidence is what
    ``item_cooccurrence_topk``'s symmetric Jaccard cannot express —
    "urgent orders that contain Brand#12 usually contain Brand#34"
    and its converse are different statements with different supports.

    Shape at 100 TB: the pair expansion is the within-basket self-join
    — fanout bounded by basket size squared (TPC-H baskets hold <= 7
    lines; a retail-scale basket needs the per-basket cap exactly as
    the item-item query documents); the pair aggregate has at most
    |brands|^2 keys, the item-count side is a broadcast, N is a 1-row
    broadcast, and the minsup filter prunes before the rule join.
    TakeOrderedAndProject keeps the top-k sort partial."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = (
        lineitem.join(
            part.select("p_partkey", "p_brand"),
            lineitem.l_partkey == part.p_partkey,
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = b.agg(F.count_distinct("ok").alias("n_baskets"))
    items = b.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    right = b.select(F.col("ok").alias("ok2"), F.col("item").alias("ib"))
    pairs = (
        b.join(
            right,
            (F.col("ok") == F.col("ok2")) & (F.col("item") < F.col("ib")),
        )
        .groupBy(F.col("item").alias("ia"), "ib")
        .agg(F.count(F.lit(1)).alias("cab"))
        .where(F.col("cab") >= 20)
    )
    rules = pairs.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "cab",
    ).unionByName(
        pairs.select(
            F.col("ib").alias("antecedent"),
            F.col("ia").alias("consequent"),
            "cab",
        )
    )
    ca = items.select(F.col("item").alias("antecedent"), F.col("c").alias("c_a"))
    cc = items.select(F.col("item").alias("consequent"), F.col("c").alias("c_c"))
    scored = (
        rules.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cc), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("cab").alias("support_cnt"),
            F.expr("CAST(cab * 1000000 div c_a AS BIGINT)").alias(
                "conf_micro"
            ),
            F.expr(
                "CAST(cab * n_baskets * 1000000 div (c_a * c_c) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )
    return scored.orderBy(
        F.desc("conf_micro"), "antecedent", "consequent"
    ).limit(40)


@query(
    "txlog_zorder_optimize",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def txlog_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY on the ACID table — the maintenance verb
    that keeps manifest-level data skipping effective as appends
    accumulate unclustered batches (Delta's OPTIMIZE ZORDER, on the
    from-scratch log): the events table lands round-robin (per-file
    user_id/value stats span the whole domain — skipping dead), then
    ``TxLogTable.optimize_zorder`` rewrites the snapshot
    range-partitioned + sorted on the Morton key of (user_id, value),
    making BOTH columns' per-file ranges tight at once —
    ``tests/test_txlog.py::test_optimize_zorder_tightens_both_columns``
    pins files_scanned dropping on each dimension (and staying full
    before), plus rewrite semantics for read_changes.

    This composes the Morton key (``writers.zorder_value``) with the
    txlog's add-file stats into the production loop: cluster → stats
    tighten → reads
    AND deletes (``txlog_delete_user``'s file pruning) get cheap on
    every clustered column. The oracle is the plain rollup over the
    raw events table, so the hash proves the relayout round-trips
    every row — OPTIMIZE must be a no-op on data."""
    import tempfile

    from ..sources.txlog import TxLogTable

    events = load_table(spark, sf_dir, "events")
    table = TxLogTable(
        tempfile.mkdtemp(prefix="wistia_zorder_") + "/tbl",
        stats_cols=("user_id", "value"),
    )
    table.overwrite(
        events.select("user_id", "event_type", "value").repartition(8)
    )
    table.optimize_zorder(spark, ["user_id", "value"], target_files=8)
    out = table.read(spark)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
        ).alias("sum_value"),
    )


_KS_ORACLE = """
    WITH census AS (
        SELECT value,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                    AS BIGINT) AS ca,
               CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                    AS BIGINT) AS cb
        FROM events
        WHERE event_type IN ('view', 'error')
        GROUP BY value
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b
        FROM census
    ),
    cum AS (
        SELECT value,
               CAST(SUM(ca) OVER (ORDER BY value) AS BIGINT) AS fa,
               CAST(SUM(cb) OVER (ORDER BY value) AS BIGINT) AS fb
        FROM census
    ),
    d AS (
        SELECT c.value, ABS(c.fa * t.n_b - c.fb * t.n_a) AS d_num
        FROM cum c CROSS JOIN tot t
    ),
    mx AS (SELECT MAX(d_num) AS d_max FROM d)
    SELECT t.n_a, t.n_b,
           CAST(m.d_max AS BIGINT) AS d_num,
           CAST(m.d_max * 1000000 // (t.n_a * t.n_b) AS BIGINT) AS ks_micro,
           (SELECT MIN(value) FROM d WHERE d_num = m.d_max) AS v_at_max
    FROM tot t CROSS JOIN mx m
"""


@query("ks_value_drift", oracle=_KS_ORACLE)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KOLMOGOROV-SMIRNOV two-sample statistic — the distribution-SHAPE
    member of the comparison family (rank_sum_ab_test tests location,
    chi-square tests rates; KS bounds the largest CDF gap anywhere, the
    standard drift gate between a reference and a candidate feature
    distribution): D = max_v |F_a(v) - F_b(v)|, computed entirely on
    the cross-multiplied integer grid |Fa_cum*n_b - Fb_cum*n_a| so no
    fraction is ever materialized; reported with the floored micro
    statistic and the SMALLEST value attaining the max (deterministic
    argmax under ties). Same census-selection scale shape as the
    rank-sum test: one hash aggregate to the value domain, a
    domain-bounded cumulative window, two scalar reductions — a
    trillion events cost one scan."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    census = (
        events.where(F.col("event_type").isin("view", "error"))
        .groupBy("value")
        .agg(
            F.count(
                F.when(F.col("event_type") == F.lit("view"), F.lit(1))
            ).alias("ca"),
            F.count(
                F.when(F.col("event_type") == F.lit("error"), F.lit(1))
            ).alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    tot = census.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = census.select(
        "value",
        F.sum("ca").over(w).cast("long").alias("fa"),
        F.sum("cb").over(w).cast("long").alias("fb"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        "n_a",
        "n_b",
        F.abs(
            F.col("fa") * F.col("n_b") - F.col("fb") * F.col("n_a")
        ).alias("d_num"),
    ).localCheckpoint(eager=False)
    mx = d.agg(F.max("d_num").alias("d_max"))
    arg = (
        d.join(F.broadcast(mx), F.col("d_num") == F.col("d_max"))
        .agg(F.min("value").alias("v_at_max"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(arg))
        .select(
            "n_a",
            "n_b",
            F.col("d_max").cast("long").alias("d_num"),
            F.expr(
                "CAST(d_max * 1000000 div (n_a * n_b) AS BIGINT)"
            ).alias("ks_micro"),
            "v_at_max",
        )
    )


_GINI_ORACLE = """
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    census AS (
        SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM rev GROUP BY cents
    ),
    cum AS (
        SELECT v, c,
               CAST(COALESCE(SUM(c) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS s
        FROM census
    ),
    agg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(v * c) AS BIGINT) AS total,
               CAST(SUM(v * (2 * c * s + c * (c + 1))) AS BIGINT) AS rank2
        FROM cum
    )
    SELECT n AS n_customers, total AS total_cents,
           -- numer * 1e6 exceeds int64 from ~sf0.01 up: route the
           -- product through HUGEINT (engine: DECIMAL(38,0) — the
           -- abc_revenue_classification overflow lesson)
           CAST(CAST(rank2 - (n + 1) * total AS HUGEINT) * 1000000
                // (n * total) AS BIGINT) AS gini_micro
    FROM agg
"""


@query("revenue_gini_concentration", oracle=_GINI_ORACLE)
def revenue_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer revenue — the inequality summary
    behind the ABC classification (abc_revenue_classification finds the
    Pareto class BOUNDARIES; Gini is the single-number concentration
    the dashboard tracks over time): with per-customer cents totals
    collapsed to a value census (v, c) and S = customers below the tie
    block, the doubled tie-averaged rank sum is sum v*(2cS + c(c+1))
    and G = (rank2 - (n+1)*total) / (n*total) — the textbook
    2*sum(i*x_i) formula with tie blocks closed-form, all exact BIGINT,
    floored micro at the end. (Gini-SIMPSON in token_diversity_gini is
    a different statistic — diversity, not inequality.)

    Scale shape: one customer-grain aggregate (key-bounded), one
    census collapse, a census-sized cumulative window, one scalar
    reduction. No per-row global rank over raw orders anywhere."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100)).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    census = rev.groupBy(F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = census.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("s"),
    )
    agg = cum.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("total"),
        F.sum(
            F.col("v")
            * (
                F.lit(2) * F.col("c") * F.col("s")
                + F.col("c") * (F.col("c") + F.lit(1))
            )
        )
        .cast("long")
        .alias("rank2"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.expr(
            # numer * 1e6 > int64 from ~sf0.01 up (ANSI
            # ARITHMETIC_OVERFLOW, caught by the local check): stay
            # exact in DECIMAL(38,0); div truncation == floor for the
            # non-negative numerator (Gini >= 0)
            "CAST(CAST(rank2 - (n + 1) * total AS DECIMAL(38,0))"
            " * 1000000 div (n * total) AS BIGINT)"
        ).alias("gini_micro"),
    )


_MODULARITY_ORACLE = f"""
    WITH {_minhash_pairs_ctes(_DUP_CORPUS_SQL)},
    sym AS MATERIALIZED (SELECT src, dst FROM edges),
    l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM sym
    ),
    {','.join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))},
    lab AS MATERIALIZED (
        SELECT node, CAST(label AS BIGINT) AS community FROM l{_LPA_ROUNDS}
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src
    ),
    m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym),
    intra AS (
        SELECT la.community, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM pairs p
        JOIN lab la ON la.node = p.a_id
        JOIN lab lb ON lb.node = p.b_id AND lb.community = la.community
        GROUP BY la.community
    ),
    comm AS (
        SELECT l.community,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d.d) AS BIGINT) AS degree_sum
        FROM lab l JOIN deg d ON d.node = l.node
        GROUP BY l.community
    ),
    contrib AS (
        SELECT c.community, c.n_nodes,
               CAST(COALESCE(i.e_c, 0) AS BIGINT) AS intra_edges,
               c.degree_sum,
               2 * m2.m2 * COALESCE(i.e_c, 0)
                   - c.degree_sum * c.degree_sum AS q_num_c
        FROM comm c
        LEFT JOIN intra i ON i.community = c.community
        CROSS JOIN m2
    ),
    q AS (SELECT CAST(SUM(q_num_c) AS BIGINT) AS q_num FROM contrib)
    SELECT c.community, c.n_nodes, c.intra_edges, c.degree_sum,
           q.q_num AS q_num_total,
           CAST(CASE WHEN q.q_num >= 0
                     THEN q.q_num * 1000000 // (m2.m2 * m2.m2)
                     ELSE -((-q.q_num) * 1000000 // (m2.m2 * m2.m2))
                END AS BIGINT) AS q_micro
    FROM contrib c CROSS JOIN q CROSS JOIN m2
    ORDER BY c.n_nodes DESC, c.community
    LIMIT 20
"""


@query("community_modularity_eval", oracle=_MODULARITY_ORACLE)
def community_modularity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY of the LPA communities — the community-family member
    of the evaluation suite (silhouette scores clusters, NDCG scores
    rankings, this scores partitions; Newman 2004): with m2 = 2m
    symmetric edge endpoints, Q·m2² = Σ_c (2·m2·e_c − d_c²) — exact
    BIGINTs, no fraction until one final SIGN-SPLIT floor division
    (contributions can be negative for sparse communities, and Spark
    div truncates where DuckDB // floors — the Holt/STL rule: spell
    the identical expression on both engines). Output: the 20 largest
    communities with their raw ingredients (n_nodes, intra edges,
    degree mass) plus the GLOBAL Q — the "did label propagation find
    real structure" gate before acting on dup communities (Q near 0 =
    partition no better than random given the degree sequence).

    The edge list, LPA rounds, and tie rules are byte-shared with
    label_propagation_communities (same `_lpa_round_sql` unroll in the
    oracle, same functions/graph.label_propagation in the engine), so
    this also re-proves the partition it scores. One lazy checkpoint
    on the mined pairs feeds LPA, the intra join, and the degree count
    without re-mining (the triangle-count fan-out lesson). All
    aggregates are community- or node-grain; m2 and Q ride 1-row
    broadcasts."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import label_propagation

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = (
        minhash_near_dup_pairs(
            corpus, "doc_id", "text",
            num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
        )
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    lab = label_propagation(
        pairs, rounds=_LPA_ROUNDS, src="a_id", dst="b_id"
    ).select("node", F.col("community").cast("long").alias("community"))
    sym = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    m2 = sym.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    la = lab.select(F.col("node").alias("a_id"), F.col("community"))
    lb = lab.select(
        F.col("node").alias("b_id"), F.col("community").alias("community_b")
    )
    intra = (
        pairs.join(la, "a_id")
        .join(lb, "b_id")
        .where(F.col("community") == F.col("community_b"))
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    comm = (
        lab.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    contrib = (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("e_c"), F.lit(0))
            .cast("long")
            .alias("intra_edges"),
            "degree_sum",
            (
                F.lit(2) * F.col("m2") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            ).alias("q_num_c"),
            "m2",
        )
        .localCheckpoint(eager=False)
    )
    q = contrib.agg(F.sum("q_num_c").cast("long").alias("q_num"))
    return (
        contrib.crossJoin(F.broadcast(q))
        .select(
            "community",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            F.col("q_num").alias("q_num_total"),
            F.expr(
                "CAST(CASE WHEN q_num >= 0"
                " THEN q_num * 1000000 div (m2 * m2)"
                " ELSE -((-q_num) * 1000000 div (m2 * m2)) END AS BIGINT)"
            ).alias("q_micro"),
        )
        .orderBy(F.desc("n_nodes"), "community")
        .limit(20)
    )


_SHARD_ORACLE = """
    WITH h AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h60,
               [{'h': md5(CAST(doc_id AS VARCHAR) || '_' || s), 's': s}
                for s in range(0, 9)] AS cand
        FROM documents
    ),
    assigned AS (
        SELECT doc_id,
               h60 % 8 AS mod_before,
               h60 % 9 AS mod_after,
               list_max(cand[1:8]).s AS rdv_before,
               list_max(cand).s      AS rdv_after
        FROM h
    )
    SELECT scheme, n_docs, n_moved,
           CAST(n_moved * 1000000 // n_docs AS BIGINT) AS moved_micro
    FROM (
        SELECT 'mod_n' AS scheme,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN mod_before <> mod_after THEN 1 END)
                    AS BIGINT) AS n_moved
        FROM assigned
        UNION ALL
        SELECT 'rendezvous' AS scheme,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN rdv_before <> rdv_after THEN 1 END)
                    AS BIGINT) AS n_moved
        FROM assigned
    )
"""


@query("shard_rebalance_audit", oracle=_SHARD_ORACLE)
def shard_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD-ASSIGNMENT REBALANCE AUDIT — the data-movement cost of
    growing a sharded corpus 8 → 9 shards under two assignment
    schemes: naive mod-N (moves ~N/(N+1) ≈ 89% of documents — nearly
    a full reshuffle) vs RENDEZVOUS hashing (highest-random-weight,
    Thaler & Ravishankar 1996: shard = argmax_s md5(doc, s), which
    moves EXACTLY the docs whose argmax is the new shard, ~1/(N+1) ≈
    11%). This is the decision behind every re-partitionable artifact
    in the engine (txlog layouts, bucketed tables, IVF lists): minimal
    movement on topology change. Both schemes computed scan-locally —
    the rendezvous argmax is an array_max over a 9-struct literal
    lambda (unique md5 keys make the max tie-free), no explode, no
    shuffle except the 2-row final aggregate; the oracle replays byte-
    identical hashes, so the 89%-vs-11% contrast itself rides the
    hash."""
    docs = load_table(spark, sf_dir, "documents")
    cand = (
        "transform(sequence(0, 8), s -> struct("
        "md5(cast(concat(cast(doc_id as string), '_',"
        " cast(s as string)) as binary)) as h, s as s))"
    )
    assigned = docs.select(
        F.expr(
            "cast(conv(substr(md5(cast(cast(doc_id as string) as binary)),"
            " 1, 15), 16, 10) as bigint)"
        ).alias("h60"),
        F.expr(f"array_max(slice({cand}, 1, 8)).s").alias("rdv_before"),
        F.expr(f"array_max({cand}).s").alias("rdv_after"),
    ).select(
        (F.col("h60") % 8).alias("mod_before"),
        (F.col("h60") % 9).alias("mod_after"),
        "rdv_before",
        "rdv_after",
    )
    mod = assigned.agg(
        F.lit("mod_n").alias("scheme"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(
            F.when(F.col("mod_before") != F.col("mod_after"), F.lit(1))
        )
        .cast("long")
        .alias("n_moved"),
    )
    rdv = assigned.agg(
        F.lit("rendezvous").alias("scheme"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(
            F.when(F.col("rdv_before") != F.col("rdv_after"), F.lit(1))
        )
        .cast("long")
        .alias("n_moved"),
    )
    return mod.unionByName(rdv).select(
        "scheme",
        "n_docs",
        "n_moved",
        F.expr("CAST(n_moved * 1000000 div n_docs AS BIGINT)").alias(
            "moved_micro"
        ),
    )


_GOLDEN_ORACLE = """
    WITH mode_t AS (
        SELECT user_id, event_type AS modal_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY COUNT(*) DESC, event_type
                   ) AS rn
            FROM events GROUP BY user_id, event_type
        ) WHERE rn = 1
    ),
    latest AS (
        SELECT user_id, value AS last_value FROM (
            SELECT user_id, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    span AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(CAST(ts AS DATE))    AS first_day,
               MAX(CAST(ts AS DATE))    AS last_day
        FROM events GROUP BY user_id
    )
    SELECT s.user_id, s.n_events, s.first_day, s.last_day,
           m.modal_type, l.last_value
    FROM span s
    JOIN mode_t m ON m.user_id = s.user_id
    JOIN latest l ON l.user_id = s.user_id
"""


@query("golden_record_users", oracle=_GOLDEN_ORACLE)
def golden_record_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD SURVIVORSHIP — the entity-consolidation verb of a
    master-data pipeline (fuzzy_match_doc_titles finds the duplicate
    records; THIS decides what the surviving row says): one row per
    user combining three survivorship rules in one pass — MOST
    FREQUENT value for the categorical attribute (modal event_type,
    count-then-name tie order: the deterministic mode), MOST RECENT
    for the volatile attribute (last value by the unique (ts,
    event_id) order — the argmax_latest rule), and lifecycle facts
    (first/last day, event count). Each rule is a per-key window or
    aggregate — key-grain bounded, partitioned on the entity id, no
    global window anywhere; the three frames join back on the id.
    At 100 TB: three shuffles on the same key (AQE-coalesced), output
    one row per entity."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    mode_w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), "event_type"
    )
    mode_t = (
        events.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(mode_w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"))
    )
    last_w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        events.withColumn("rn", F.row_number().over(last_w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("value").alias("last_value"))
    )
    span = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    return (
        span.join(mode_t, "user_id")
        .join(latest, "user_id")
        .select(
            "user_id", "n_events", "first_day", "last_day",
            "modal_type", "last_value",
        )
    )


_CSPLIT_ORACLE = rf"""
    WITH RECURSIVE {_minhash_pairs_ctes(_DUP_CORPUS_SQL)},
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    assign AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    s AS (
        SELECT c.doc_id, md5({_NORM}) AS fp, a.cluster_id,
               CASE WHEN ('0x' || substr(md5('wistia-split:'
                              || CAST(c.doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 1000 < 100
                    THEN 'test' ELSE 'train' END AS split_doc,
               CASE WHEN ('0x' || substr(md5('wistia-split:'
                              || CAST(a.cluster_id AS VARCHAR)), 1, 15))::BIGINT
                         % 1000 < 100
                    THEN 'test' ELSE 'train' END AS split_cluster
        FROM corpus c JOIN assign a ON a.doc_id = c.doc_id
    ),
    schemes AS (
        SELECT 'by_doc' AS scheme, fp, split_doc AS split FROM s
        UNION ALL
        SELECT 'by_cluster' AS scheme, fp, split_cluster AS split FROM s
    ),
    g AS (
        SELECT scheme, fp,
               COUNT(*) FILTER (split = 'train') AS n_train,
               COUNT(*) FILTER (split = 'test') AS n_test
        FROM schemes GROUP BY scheme, fp
    )
    SELECT scheme,
           CAST(SUM(n_train) AS BIGINT) AS n_train_docs,
           CAST(SUM(n_test) AS BIGINT)  AS n_test_docs,
           CAST(COUNT(*) FILTER (n_train > 0 AND n_test > 0) AS BIGINT)
               AS leaked_contents,
           CAST(COUNT(*) AS BIGINT) AS distinct_contents
    FROM g GROUP BY scheme
"""


@query("cluster_aware_split", oracle=_CSPLIT_ORACLE)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-AWARE DATASET SPLITTING — the FIX for what
    ``split_leakage_audit`` diagnoses: splitting by hashed doc_id lets
    duplicated content draw its side independently per copy (~18% of
    duplicated contents leak across the boundary), while splitting by
    the DUP-CLUSTER canonical id moves whole near-dup clusters as a
    unit — leaked_contents is ZERO by construction (exact copies share
    all shingles, hence MinHash signatures, hence a component). Both
    schemes run side by side on the injected-dup corpus and the
    contrast itself rides the hash (by_doc leaks > 0 at every SF,
    by_cluster = 0 — the split family's τ-lesson: a zero the data
    can't distinguish from 'rule never fired' would prove nothing,
    so the leaking scheme is kept in the output as the live control).

    Composition of proven parts: the shared MinHash pair miner, the
    large/small-star components (vs the oracle's independent recursive
    closure), fingerprint_md5, and dataset_split applied to the
    CLUSTER id instead of the doc id — the one-line change that fixes
    eval contamination. Shape at 100 TB: the CC assignment is the only
    iterative piece (O(log n) rounds); splits are scan-local md5
    expressions; the leak check is one fp-grain hash aggregate."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import dup_clusters as _clusters
    from ..functions.text import dataset_split, fingerprint_md5

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select("a_id", "b_id")
    assign = _clusters(pairs, universe=corpus)
    base = corpus.join(assign, "doc_id").select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp"),
        "cluster_id",
    )
    by_doc = dataset_split(base, "doc_id").select(
        F.lit("by_doc").alias("scheme"), "fp", "split"
    )
    by_cluster = dataset_split(base, "cluster_id").select(
        F.lit("by_cluster").alias("scheme"), "fp", "split"
    )
    g = (
        by_doc.unionByName(by_cluster)
        .groupBy("scheme", "fp")
        .agg(
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
            F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
        )
    )
    both = (F.col("n_train") > 0) & (F.col("n_test") > 0)
    return g.groupBy("scheme").agg(
        F.sum("n_train").cast("long").alias("n_train_docs"),
        F.sum("n_test").cast("long").alias("n_test_docs"),
        F.count(F.when(both, 1)).cast("long").alias("leaked_contents"),
        F.count(F.lit(1)).cast("long").alias("distinct_contents"),
    )


_MANIFEST_ORACLE = rf"""
    WITH d AS (
        SELECT doc_id,
               md5({_NORM}) AS fp,
               length(text) AS chars,
               ('0x' || substr(md5({_NORM}), 1, 15))::BIGINT AS h60
        FROM documents
    ),
    sharded AS (
        SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 8 AS shard,
               doc_id, chars, h60
        FROM d
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor(h60) AS BIGINT) AS content_xor60
    FROM sharded GROUP BY shard
"""


@query("dataset_release_manifest", oracle=_MANIFEST_ORACLE)
def dataset_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPRODUCIBLE-RELEASE MANIFEST — the dataset-card table a corpus
    ships with: documents hash-assigned to 8 shards, each shard row
    carrying doc count, byte mass, id range, and an ORDER-INDEPENDENT
    content checksum (bit_xor of the 60-bit content fingerprints — XOR
    is the commutative/associative digest that any re-partitioning,
    re-ordering, or re-computation of the shard must reproduce
    bit-for-bit; a single flipped document flips the checksum). This
    is how a 100 TB training-data release is verified after transport:
    re-derive the manifest on the consumer side and diff six integers
    per shard instead of re-hashing pairwise. All scan-local
    expressions + one shard-grain aggregate; the shard hash is salted
    separately from the split/signature families so assignments stay
    independent."""
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    d = docs.select(
        "doc_id",
        F.length("text").alias("chars"),
        F.expr(
            "cast(conv(substr(md5(cast(concat('shard:',"
            " cast(doc_id as string)) as binary)), 1, 15), 16, 10)"
            " as bigint) % 8"
        ).alias("shard"),
        F.conv(F.substring(F.md5(nt.cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h60"),
    )
    return d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.expr("CAST(bit_xor(h60) AS BIGINT)").alias("content_xor60"),
    )


def _tau_reach_sql(tag: str, num: int, den: int) -> str:
    """Recursive component closure over candidate pairs verified at
    jaccard >= num/den (compared as len_i * den >= num * len_u — the
    exact integer form, no double anywhere)."""
    return f"""edges{tag} AS (
        SELECT a_id AS src, b_id AS dst FROM cand
        WHERE li * {den} >= {num} * lu
        UNION
        SELECT b_id AS src, a_id AS dst FROM cand
        WHERE li * {den} >= {num} * lu
    ),
    reach{tag}(a, b) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT r.a, e.dst FROM reach{tag} r JOIN edges{tag} e ON r.b = e.src
    ),
    assign{tag} AS (
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach{tag} GROUP BY a
    ),
    stats{tag} AS (
        SELECT CAST({num} * 100 / {den} AS BIGINT) AS tau_centi,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand
                WHERE li * {den} >= {num} * lu) AS n_pairs,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(MAX(sz) AS BIGINT) AS largest_cluster,
               CAST(COUNT(*) - COUNT(DISTINCT cluster_id) AS BIGINT)
                   AS n_dropped
        FROM (SELECT doc_id, cluster_id,
                     COUNT(*) OVER (PARTITION BY cluster_id) AS sz
              FROM assign{tag})
    )"""


_TAU_SENS_ORACLE = rf"""
    WITH RECURSIVE rawt AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_DUP_SHIFT} AS doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {2 * _DUP_SHIFT} AS doc_id,
               array_to_string(
                   t[1:greatest(1, (3 * len(t)) // 5)], ' ') AS text
        FROM rawt
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t
        FROM corpus
    ),
    base AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+1], ' ')
                              for i in range(1, len(t))]) AS sh
        FROM toks
    ),
    sigs AS (
        SELECT doc_id, sh,
               [list_min([md5(s || ':' || i) for s in sh])
                for i in range(0, 16)] AS sig
        FROM base
    ),
    banded AS (
        SELECT doc_id, sh, b,
               md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS key
        FROM sigs, range(0, 4) t(b)
    ),
    cand AS MATERIALIZED (
        SELECT a_id, b_id,
               len(list_intersect(a_sh, b_sh)) AS li,
               len(list_distinct(a_sh || b_sh)) AS lu
        FROM (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
                   l.sh AS a_sh, r.sh AS b_sh
            FROM banded l
            JOIN banded r ON l.b = r.b AND l.key = r.key
                         AND l.doc_id < r.doc_id
        )
    ),
    {_tau_reach_sql('50', 1, 2)},
    {_tau_reach_sql('80', 4, 5)},
    {_tau_reach_sql('95', 19, 20)}
    SELECT * FROM stats50
    UNION ALL SELECT * FROM stats80
    UNION ALL SELECT * FROM stats95
"""


@query("dedup_threshold_sensitivity", oracle=_TAU_SENS_ORACLE)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-THRESHOLD SENSITIVITY CURVE — the tuning table behind
    every MinHash deployment decision ("what does moving τ actually do
    to my corpus?"): the banded candidate set is mined ONCE (with its
    exact shingle-overlap integers), then verified at τ ∈ {0.50, 0.80,
    0.95} and all cuts closed by ONE closure — per τ: surviving
    pairs, cluster count, largest cluster, docs a keep-canonical dedup
    would drop. The corpus plants all three regimes deliberately:
    exact copies (J=1), LSH-chain near-dups (~0.8+), and a 60%-PREFIX
    MUTANT per document (J = (0.6n-1)/(n-1) ~ 0.6 — added because the
    plain dup corpus measured FLAT across τ: every injected pair sat
    above 0.8, so the first draft's τ=0.50 and τ=0.80 rows were
    identical and proved nothing — the τ-lesson, caught live again).
    τ=0.50 merges the mutants, τ=0.80 does not, τ=0.95 keeps only the
    exact copies; the moving pair/cluster/drop counts ride the hash.

    Exactness: verification compares len_intersect * den >= num *
    len_union — the INTEGER cross-multiplied form of jaccard >= τ (no
    double ever compared to a threshold; the miner's rounded-double
    path is bypassed via jaccard_threshold=None + exact re-derivation
    of the same shingle counts).

    One closure, three cuts: each candidate pair is kept once per level
    ``lvl`` (0, 1, 2 for τ = .50, .80, .95) whose cut it passes, its
    endpoints tagged ``id * 3 + lvl``, over a universe of every document
    at every level. No edge joins two levels, so the components of this
    disjoint union are exactly the per-level components; within a level
    the tag is strictly increasing in the id, so a component's minimum
    tag is ``min id * 3 + lvl`` (its level is ``pmod(tag, 3)``) and the
    per-level sizes, counts and maxima are unchanged. ``id * 3``
    overflows only for ids above ~3·10¹⁸, where ANSI mode raises.

    Shape at 100 TB: ONE banding self-join feeds all three cuts (one
    checkpoint — the fan-out lesson); the closure is the O(log n)
    star-contraction; everything else is cluster-grain."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import dup_clusters as _clusters
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), r"\s+").alias("t")
    )
    mutant = t.select(
        (F.col("doc_id") + F.lit(2 * _DUP_SHIFT)).alias("doc_id"),
        F.expr(
            "array_join(slice(t, 1, greatest(1, (3 * size(t)) div 5)), ' ')"
        ).alias("text"),
    )
    corpus = _dup_corpus(docs).unionByName(mutant)
    # Candidate pairs WITH their exact integer overlap sizes, mined
    # once from the miner's cached shingle frame (r6: re-deriving the
    # shingles through uncached joins took 71 s of a 99 s query at sf1).
    # EAGER: a lazy cut nested under the closure's own lazy cut is
    # never truncated (only the outermost marked RDD of a job is), so
    # every later job re-lists the miner's stages — one job fewer but
    # some nine stages more per sf0.1 sample, at equal time.
    cand = (
        minhash_near_dup_pairs(
            corpus, "doc_id", "text",
            num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=None,
            return_counts=True,
        )
        .select("a_id", "b_id", "li", "lu")
        .localCheckpoint(eager=True)
    )
    taus = ((1, 2), (4, 5), (19, 20))
    n = len(taus)
    cuts = [F.col("li") * den >= num * F.col("lu") for num, den in taus]
    n_pairs = cand.agg(F.array(*[F.count_if(c) for c in cuts]).alias("n_pairs"))
    levels = F.broadcast(spark.createDataFrame(
        [(lvl, num * 100 // den) for lvl, (num, den) in enumerate(taus)],
        "lvl long, tau_centi long",
    ))
    tagged = (
        cand.select(
            "a_id", "b_id",
            F.explode(F.array(*[F.when(c, lvl) for lvl, c in enumerate(cuts)])).alias("lvl"),
        )
        .where(F.col("lvl").isNotNull())
        .select(*[(F.col(c) * n + F.col("lvl")).alias(c) for c in ("a_id", "b_id")])
    )
    universe = corpus.crossJoin(levels).select(
        (F.col("doc_id") * n + F.col("lvl")).alias("doc_id")
    )
    sizes = _clusters(tagged, universe=universe).groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    stats = sizes.groupBy(F.pmod("cluster_id", F.lit(n)).alias("lvl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.max("sz").cast("long").alias("largest_cluster"),
        (F.sum("sz") - F.count(F.lit(1))).cast("long").alias("n_dropped"),
    )
    return stats.join(levels, "lvl").crossJoin(F.broadcast(n_pairs)).select(
        "tau_centi",
        F.col("n_pairs")[F.col("lvl")].cast("long").alias("n_pairs"),
        "n_clusters", "largest_cluster", "n_dropped",
    )


_HEAPS_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id // 50 AS b,
               regexp_split_to_array({_NORM}, '\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT b, u.g
        FROM toks, unnest([array_to_string(t[i:i+2], ' ')
                           for i in range(1, len(t) - 1)]) AS u(g)
    ),
    first AS (SELECT g, MIN(b) AS fb FROM grams GROUP BY g),
    occ AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS o FROM grams GROUP BY b),
    newt AS (SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS v
             FROM first GROUP BY fb),
    curve AS (
        SELECT o.b,
               CAST(SUM(o.o) OVER (ORDER BY o.b) AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(n.v, 0)) OVER (ORDER BY o.b) AS BIGINT)
                   AS cum_types
        FROM occ o LEFT JOIN newt n ON n.b = o.b
    ),
    pts AS (
        SELECT length(bin(cum_tokens)) - 1 AS x,
               length(bin(cum_types)) - 1 AS y
        FROM curve
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT c.b AS batch, c.cum_tokens, c.cum_types,
           CAST(CASE WHEN s.n * s.sxx - s.sx * s.sx = 0 THEN 0
                     ELSE (s.n * s.sxy - s.sx * s.sy) * 1000000
                          // (s.n * s.sxx - s.sx * s.sx) END AS BIGINT)
               AS beta_micro
    FROM curve c CROSS JOIN s
"""


@query("heaps_vocab_growth", oracle=_HEAPS_ORACLE)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW VOCABULARY GROWTH — the companion corpus law to
    zipf_fit_tokens (Zipf profiles the frequency head; Heaps V(N) ~
    N^beta profiles how fast NEW types keep arriving — the curve that
    says when scraping more of the same source stops buying novelty,
    and the sizing model behind BPE vocab budgets and ngram-novelty
    expectations): documents in ingest-order batches of 50, cumulative
    token occurrences N_b vs cumulative distinct TRIGRAM types V_b
    (word trigrams, because the synthetic corpus saturates unigrams
    after one batch — 31 types — and bigrams after two (~916); probed
    before building, the tau lesson), beta fitted by OLS on the
    floor-log2 grid (bit-length logs — the zipf/HLL no-libm rule).
    First-seen batch per type (MIN over a hash aggregate) replaces any
    running-distinct window, so the curve costs one gram aggregate +
    one |batches|-bounded cumulative — never per-row distinct state.
    Every curve row plus the fitted slope rides the hash."""
    from pyspark.sql import Window
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") / F.lit(50)).cast("long").alias("b"),
        F.split(normalize_text(F.col("text")), r"\s+").alias("t"),
    )
    grams = toks.select(
        "b",
        F.explode(
            # guard: Spark sequence(1, 0) yields DESCENDING [1, 0], so
            # an unguarded short doc would emit bogus null-grams — the
            # CASE keeps <3-token docs gram-free (DuckDB's range(1, 1)
            # is empty and needs no guard)
            F.expr(
                "CASE WHEN size(t) >= 3 THEN"
                " transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("b").alias("fb"))
    occ = grams.groupBy("b").agg(F.count(F.lit(1)).alias("o"))
    newt = first.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).alias("v")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        occ.join(newt, "b", "left")
        .select(
            "b",
            F.sum("o").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_types"),
        )
        .localCheckpoint(eager=False)
    )
    pts = curve.select(
        (F.length(F.bin("cum_tokens")) - 1).alias("x"),
        (F.length(F.bin("cum_types")) - 1).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return curve.crossJoin(F.broadcast(s)).select(
        F.col("b").alias("batch"),
        "cum_tokens",
        "cum_types",
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            " ELSE (n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx) END AS BIGINT)"
        ).alias("beta_micro"),
    )


def _bleu_gram_sql(src: str, n: int) -> str:
    """DuckDB n-gram list over token array column ``t`` of ``src``."""
    return (
        f"SELECT doc_id, u.g FROM {src}, "
        f"unnest([array_to_string(t[i:i+{n - 1}], ' ') "
        f"for i in range(1, len(t) - {n - 2})]) AS u(g)"
    )


_BLEU_ORACLE = rf"""
    WITH ref AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t
        FROM documents
    ),
    hyp AS (
        SELECT doc_id,
               [CASE WHEN i % 5 = 0 THEN 'zzq' ELSE t[i] END
                for i in range(1, len(t) + 1)] AS t
        FROM ref
    ),
    {','.join(
        f'''h{n} AS (
            SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS h
            FROM ({_bleu_gram_sql('hyp', n)}) GROUP BY doc_id, g
        ),
        r{n} AS (
            SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS r
            FROM ({_bleu_gram_sql('ref', n)}) GROUP BY doc_id, g
        ),
        p{n} AS (
            SELECT CAST({n} AS BIGINT) AS n,
                   CAST(SUM(h.h) AS BIGINT) AS total_hyp,
                   CAST(SUM(LEAST(h.h, COALESCE(r.r, 0))) AS BIGINT)
                       AS clipped
            FROM h{n} h
            LEFT JOIN r{n} r ON r.doc_id = h.doc_id AND r.g = h.g
        )''' for n in (1, 2, 3, 4)
    )}
    SELECT n, total_hyp, clipped,
           CAST(clipped * 1000000 // total_hyp AS BIGINT) AS p_micro
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
          UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
"""


@query("ngram_overlap_eval", oracle=_BLEU_ORACLE)
def ngram_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-OVERLAP EVALUATION (the BLEU core — Papineni 2002's
    modified n-gram precision, n=1..4, corpus level): a synthetic
    hypothesis corpus (every 5th token of each reference replaced —
    chosen so all four orders carry signal: p1=4/5, p2=3/5, p3=2/5,
    p4=1/5 by construction; an every-3rd draft zeroed p3/p4 and the
    rows proved nothing — the tau lesson at design time) is scored
    against the reference with CLIPPED per-document gram counts
    (min(count_hyp, count_ref) — the modification that stops a
    repeated gram from farming credit), summed corpus-wide, floored
    micro. The geometric mean + brevity penalty are deliberately NOT
    combined (exp/log cross-engine — the HLL rule; here hyp and ref
    lengths are equal by construction, so BP = 1 and the four
    precisions are the whole signal; a consumer combines them
    downstream in whatever float discipline it likes).

    Shape at 100 TB: per order one (doc, gram) hash aggregate per side
    and one doc+gram equi join — gram-grain, map-side combinable, no
    windows; four orders union into one 4-row frame. Spark 2-param
    lambdas receive (element, 0-BASED index) — aligned against
    DuckDB's 1-based comprehension explicitly."""
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), r"\s+").alias("t")
    ).localCheckpoint(eager=False)
    hyp = ref.select(
        "doc_id",
        F.expr(
            "transform(t, (x, i) ->"
            " CASE WHEN (i + 1) % 5 = 0 THEN 'zzq' ELSE x END)"
        ).alias("t"),
    ).localCheckpoint(eager=False)

    def grams(frame: DataFrame, n: int) -> DataFrame:
        parts = ", ".join(f"t[i + {k}]" for k in range(n))
        return frame.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(t) >= {n} THEN"
                    f" transform(sequence(0, size(t) - {n}),"
                    f" i -> concat_ws(' ', {parts}))"
                    " ELSE array() END"
                )
            ).alias("g"),
        )

    outs = []
    for n in (1, 2, 3, 4):
        h = grams(hyp, n).groupBy("doc_id", "g").agg(
            F.count(F.lit(1)).alias("h")
        )
        r = grams(ref, n).groupBy("doc_id", "g").agg(
            F.count(F.lit(1)).alias("r")
        )
        joined = h.join(r, ["doc_id", "g"], "left")
        outs.append(
            joined.agg(
                F.lit(n).cast("long").alias("n"),
                F.sum("h").cast("long").alias("total_hyp"),
                F.sum(
                    F.least(F.col("h"), F.coalesce(F.col("r"), F.lit(0)))
                )
                .cast("long")
                .alias("clipped"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "n",
        "total_hyp",
        "clipped",
        F.expr("CAST(clipped * 1000000 div total_hyp AS BIGINT)").alias(
            "p_micro"
        ),
    )


_TCLOSE_ORACLE = """
    WITH c AS (
        SELECT c_nationkey AS nk,
               (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 1000 AS sens
        FROM customer
    ),
    bands AS (SELECT DISTINCT sens FROM c),
    nations AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_c FROM c GROUP BY nk
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    cls AS (
        SELECT nk, sens, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY nk, sens
    ),
    gdist AS (
        SELECT sens, CAST(COUNT(*) AS BIGINT) AS gcnt FROM c GROUP BY sens
    ),
    grid AS (
        SELECT n.nk, b.sens, n.n_c,
               COALESCE(cl.cnt, 0) AS cnt, g.gcnt
        FROM nations n CROSS JOIN bands b
        JOIN gdist g ON g.sens = b.sens
        LEFT JOIN cls cl ON cl.nk = n.nk AND cl.sens = b.sens
    ),
    cum AS (
        SELECT nk, n_c,
               CAST(SUM(cnt) OVER (
                   PARTITION BY nk ORDER BY sens) AS BIGINT) AS cum_c,
               CAST(SUM(gcnt) OVER (
                   PARTITION BY nk ORDER BY sens) AS BIGINT) AS cum_g,
               sens
        FROM grid
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bands)
    SELECT c.nk AS nationkey, c.n_c,
           CAST(SUM(ABS(c.cum_c * t.n - c.cum_g * c.n_c)) * 1000000
                // (c.n_c * t.n * (m.m - 1)) AS BIGINT) AS emd_micro,
           CAST(CASE WHEN SUM(ABS(c.cum_c * t.n - c.cum_g * c.n_c))
                          * 20 > 3 * (c.n_c * t.n * (m.m - 1))
                     THEN 1 ELSE 0 END AS BIGINT) AS violates_t015
    FROM cum c CROSS JOIN tot t CROSS JOIN m
    GROUP BY c.nk, c.n_c, t.n, m.m
"""


@query("t_closeness_audit", oracle=_TCLOSE_ORACLE)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS — completes the privacy-governance trio
    (k_anonymity_audit: class sizes; its l-diversity flag: distinct
    sensitive values; THIS: Li/Li/Venkatasubramanian 2007's
    distributional requirement — a class whose sensitive-attribute
    DISTRIBUTION diverges from the global one leaks even when large
    and diverse, e.g. a nation whose customers are uniformly
    top-band). Divergence is the 1-D earth-mover's distance over the
    ordered balance bands (the same banding as the k-anonymity audit):
    EMD = sum_i |CumP_class(i) - CumP_global(i)| / (m-1), kept exact
    by cross-multiplying the CDFs onto the integer grid
    |cum_c*N - cum_g*n_c| and flooring once into micro units; the
    t=0.15 violation flag compares 20*sum > 3*den — no fraction
    anywhere. Zero-filled dense band grid per class (a class missing a
    band still steps the CDF — the LEFT JOIN the naive per-class
    census forgets).

    Shape at 100 TB: one (class, band) hash aggregate; the grid is
    |classes| x |bands| (bounded by governance design — QI classes and
    band domains are policy-sized); cumulative windows run per class
    over that bounded grid."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    c = customer.select(
        F.col("c_nationkey").alias("nk"),
        F.expr(
            "CAST((CAST(floor(c_acctbal) AS BIGINT) + 1000)"
            " div 1000 AS BIGINT)"
        ).alias("sens"),
    )
    bands = c.select("sens").distinct()
    nations = c.groupBy("nk").agg(F.count(F.lit(1)).alias("n_c"))
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cls = c.groupBy("nk", "sens").agg(F.count(F.lit(1)).alias("cnt"))
    glob = c.groupBy("sens").agg(F.count(F.lit(1)).alias("gcnt"))
    m = bands.agg(F.count(F.lit(1)).cast("long").alias("m"))
    grid = (
        nations.crossJoin(F.broadcast(bands))
        .join(F.broadcast(glob), "sens")
        .join(cls, ["nk", "sens"], "left")
        .select(
            "nk",
            "sens",
            "n_c",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            "gcnt",
        )
    )
    w = Window.partitionBy("nk").orderBy("sens").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "nk",
        "n_c",
        "sens",
        F.sum("cnt").over(w).cast("long").alias("cum_c"),
        F.sum("gcnt").over(w).cast("long").alias("cum_g"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(m))
        .groupBy(F.col("nk").alias("nationkey"), "n_c", "n", "m")
        .agg(
            F.sum(
                F.abs(F.col("cum_c") * F.col("n") - F.col("cum_g") * F.col("n_c"))
            ).alias("s")
        )
        .select(
            "nationkey",
            F.col("n_c").cast("long").alias("n_c"),
            F.expr(
                "CAST(s * 1000000 div (n_c * n * (m - 1)) AS BIGINT)"
            ).alias("emd_micro"),
            F.expr(
                "CAST(CASE WHEN s * 20 > 3 * (n_c * n * (m - 1))"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("violates_t015"),
        )
    )


_MCNEMAR_ORACLE = """
    WITH paired AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) <= DATE '2024-01-15'
                   THEN 1 ELSE 0 END) AS h1,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) > DATE '2024-01-15'
                   THEN 1 ELSE 0 END) AS h2
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 END)
                    AS BIGINT) AS n_00,
               CAST(COUNT(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 END)
                    AS BIGINT) AS n_01,
               CAST(COUNT(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 END)
                    AS BIGINT) AS n_10,
               CAST(COUNT(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 END)
                    AS BIGINT) AS n_11
        FROM paired
    )
    SELECT n_users, n_00, n_01, n_10, n_11,
           CAST(CASE WHEN n_01 + n_10 = 0 THEN 0
                ELSE (n_10 - n_01) * (n_10 - n_01) * 1000000
                     // (n_01 + n_10) END AS BIGINT) AS mcnemar_micro,
           CAST(CASE WHEN n_01 + n_10 = 0 THEN 0
                ELSE (ABS(n_10 - n_01) - 1) * (ABS(n_10 - n_01) - 1)
                     * 1000000 // (n_01 + n_10) END AS BIGINT)
               AS mcnemar_cc_micro
    FROM cells
"""


@query("mcnemar_paired_test", oracle=_MCNEMAR_ORACLE)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST — the PAIRED member of the hypothesis-testing
    family (experiment_ab_chisq compares independent groups; rank-sum
    compares distributions; McNemar 1947 compares the SAME subjects
    before/after — the within-user design that removes between-user
    variance entirely): each user's purchase indicator in the first
    vs second half of the observation window forms a 2x2 concordance
    table, and only the DISCORDANT cells carry information —
    chi2 = (n_10 - n_01)^2 / (n_01 + n_10), emitted in exact floored
    micro with the Edwards continuity-corrected variant alongside
    (both guard the all-concordant n_01+n_10=0 case to 0). All four
    cells ride the hash, so the concordant mass — the whole point of
    pairing — is verified too.

    Shape at 100 TB: one user-grain aggregate with two conditional
    MAX flags, one 1-row reduction. Nothing else."""
    events = load_table(spark, sf_dir, "events")
    paired = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") <= F.lit("2024-01-15")),
                1,
            ).otherwise(0)
        ).alias("h1"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") > F.lit("2024-01-15")),
                1,
            ).otherwise(0)
        ).alias("h2"),
    )
    cells = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count(F.when((F.col("h1") == 0) & (F.col("h2") == 0), 1))
        .cast("long")
        .alias("n_00"),
        F.count(F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1))
        .cast("long")
        .alias("n_01"),
        F.count(F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1))
        .cast("long")
        .alias("n_10"),
        F.count(F.when((F.col("h1") == 1) & (F.col("h2") == 1), 1))
        .cast("long")
        .alias("n_11"),
    )
    return cells.select(
        "n_users", "n_00", "n_01", "n_10", "n_11",
        F.expr(
            "CAST(CASE WHEN n_01 + n_10 = 0 THEN 0"
            " ELSE (n_10 - n_01) * (n_10 - n_01) * 1000000"
            " div (n_01 + n_10) END AS BIGINT)"
        ).alias("mcnemar_micro"),
        F.expr(
            "CAST(CASE WHEN n_01 + n_10 = 0 THEN 0"
            " ELSE (ABS(n_10 - n_01) - 1) * (ABS(n_10 - n_01) - 1)"
            " * 1000000 div (n_01 + n_10) END AS BIGINT)"
        ).alias("mcnemar_cc_micro"),
    )


_SHAPLEY_ORACLE = """
    WITH firstp AS (
        SELECT user_id, MIN(ts) AS pts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    masks AS (
        SELECT f.user_id,
               COALESCE(bit_or(CASE e.event_type
                   WHEN 'click' THEN 1 WHEN 'error' THEN 2
                   WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                   ELSE 0 END), 0) AS m
        FROM firstp f
        LEFT JOIN events e
          ON e.user_id = f.user_id AND e.ts < f.pts
             AND e.event_type <> 'purchase'
        GROUP BY f.user_id
    ),
    cm AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM masks GROUP BY m),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
        SELECT s.s, CAST(COALESCE(SUM(cm.c), 0) AS BIGINT) AS v
        FROM subsets s LEFT JOIN cm ON (cm.m & ~s.s) = 0
        GROUP BY s.s
    ),
    channels AS (
        SELECT * FROM (VALUES ('click', 1), ('error', 2),
                              ('signup', 4), ('view', 8)) ch(name, bit)
    ),
    contrib AS (
        SELECT ch.name,
               CAST(SUM(CASE bit_count(v0.s)
                        WHEN 0 THEN 6 WHEN 1 THEN 2
                        WHEN 2 THEN 2 WHEN 3 THEN 6 END
                        * (v1.v - v0.v)) AS BIGINT) AS shapley_x24
        FROM channels ch
        JOIN v v0 ON (v0.s & ch.bit) = 0
        JOIN v v1 ON v1.s = (v0.s | ch.bit)
        GROUP BY ch.name
    )
    SELECT c.name AS channel,
           c.shapley_x24,
           CAST(c.shapley_x24 * 1000000 // 24 AS BIGINT) AS shapley_micro,
           (SELECT v FROM v WHERE s = 0)  AS v_empty,
           (SELECT v FROM v WHERE s = 15) AS v_full
    FROM contrib c
"""


@query("shapley_channel_attribution", oracle=_SHAPLEY_ORACLE)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE ATTRIBUTION (Shapley 1953 applied to
    marketing journeys — the game-theoretic upgrade of
    attribution_position_weighted's heuristic credit): each converting
    user's pre-purchase touchset becomes a 4-bit channel mask, the
    characteristic function v(S) = converters reachable with channels
    ⊆ S materializes for all 16 coalitions by one subset join over the
    16-row mask census, and each channel's Shapley value is the
    closed-form weighted sum of its marginal contributions — kept
    EXACT as 24·φ (weights s!(3-s)! ∈ {6,2,2,6} — no factorial
    fraction ever divides; micro floors once at the end). v(∅)
    (baseline conversions with no prior touch) and v(full) ride along,
    so the efficiency axiom Σφ = v(full) − v(∅) is checkable from the
    output (``tests/test_sketch_ab.py::test_shapley_efficiency_axiom``
    pins it, plus a brute-force over-all-orderings replica).

    Shape at 100 TB: one first-purchase aggregate, one mask bit_or
    aggregate (user-grain), then EVERYTHING is 16-row algebra — the
    power-set join is constant-sized because the channel set is (4
    channels = 16 coalitions); ten channels would make it 1024 rows,
    still model-sized. The exactness story is the point: Shapley is
    usually Monte-Carlo'd; over a small channel vocabulary it is a
    closed-form relational query."""
    events = load_table(spark, sf_dir, "events")
    firstp = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    touches = events.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", bit.alias("b")
    )
    masks = (
        firstp.join(
            touches,
            (firstp.user_id == touches.user_id)
            & (touches.ts < firstp.pts),
            "left",
        )
        .groupBy(firstp.user_id)
        .agg(
            F.coalesce(F.expr("bit_or(b)"), F.lit(0)).alias("m")
        )
    )
    cm = masks.groupBy("m").agg(F.count(F.lit(1)).alias("c"))
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(cm),
            F.expr("(m & ~s) = 0"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
        .localCheckpoint(eager=False)
    )
    channels = arrow_local_df(
        spark,
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "name string, bit int",
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("va"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("vb"))
    coef = F.expr(
        "CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2"
        " WHEN 2 THEN 2 WHEN 3 THEN 6 END"
    )
    contrib = (
        F.broadcast(channels)
        .join(v0, F.expr("(s0 & bit) = 0"))
        .join(v1, F.expr("s1 = (s0 | bit)"))
        .groupBy("name")
        .agg(
            F.sum(coef * (F.col("vb") - F.col("va")))
            .cast("long")
            .alias("shapley_x24")
        )
    )
    vmeta = (
        v.where(F.col("s") == 0)
        .select(F.col("v").alias("v_empty"))
        .crossJoin(v.where(F.col("s") == 15).select(F.col("v").alias("v_full")))
    )
    return contrib.crossJoin(F.broadcast(vmeta)).select(
        F.col("name").alias("channel"),
        "shapley_x24",
        F.expr("CAST(shapley_x24 * 1000000 div 24 AS BIGINT)").alias(
            "shapley_micro"
        ),
        "v_empty",
        "v_full",
    )


_XCORR_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS dt,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    lags AS (SELECT unnest(range(-7, 8)) AS k),
    pairs AS (
        SELECT l.k, a.cnt AS x, b.cnt AS y
        FROM (SELECT dt, cnt FROM daily WHERE event_type = 'view') a
        CROSS JOIN lags l
        JOIN (SELECT dt, cnt FROM daily WHERE event_type = 'purchase') b
          ON b.dt = a.dt + CAST(l.k AS INTEGER)
    ),
    suff AS (
        SELECT k, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag_k,
           CAST(n AS BIGINT) AS n_pairs,
           {_ACF_R} AS r_micro
    FROM suff
"""


@query("xcorr_lead_lag", oracle=_XCORR_ORACLE)
def xcorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION lead-lag analysis between two daily series —
    the two-series sibling of acf_daily_lags ("do views LEAD purchases,
    and by how many days?"): Pearson r between view counts at day t
    and purchase counts at day t+k for k in [-7, 7], negative lags
    covering the reverse direction, so the argmax over the output IS
    the estimated lead time. Identical exactness discipline to the ACF
    (five integer sufficient statistics per lag; the one sqrt runs in
    the shared _ACF_R IEEE-identical finisher; zero-variance guard).

    Shape at 100 TB: one reduction to the day grain per series, a
    15-row broadcast lag dim, one model-sized date equi join per lag —
    never a window over raw events, calendar gaps just drop pairs
    (n_pairs stays exact per lag)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("dt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    a = daily.where(F.col("event_type") == "view").select(
        "dt", F.col("cnt").alias("x")
    )
    b = daily.where(F.col("event_type") == "purchase").select(
        F.col("dt").alias("bdt"), F.col("cnt").alias("y")
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("k"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("bdt") == F.expr("date_add(dt, k)")
    ).select("k", F.col("x").cast("long").alias("x"),
             F.col("y").cast("long").alias("y"))
    suff = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return suff.select(
        F.col("k").cast("long").alias("lag_k"),
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(_ACF_R).alias("r_micro"),
    )


_SCRIPTING_ORACLE = """
    SELECT CAST(SUM(CASE (CAST(ts AS DATE) - DATE '2024-01-01') // 7 + 1
                    WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3 WHEN 4 THEN 4
                    ELSE 0 END) AS BIGINT) AS weighted_events,
           CAST(COUNT(CASE WHEN CAST(ts AS DATE)
                                < DATE '2024-01-29' THEN 1 END) AS BIGINT)
               AS window_events,
           CAST(4 AS BIGINT) AS n_weeks
    FROM events
"""


@query("sql_scripting_surface", oracle=_SCRIPTING_ORACLE)
def sql_scripting_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 procedural SQL) — the engine's answer to
    the reference's Redshift STORED PROCEDURES (SURVEY §2's upsert
    procs live in wistia_redshift_schemas.py): a BEGIN/DECLARE/WHILE
    script runs server-side over the registered events view, looping
    over the four January weeks and accumulating week-weighted event
    counts into declared variables — the recency-weighting loop a
    warehouse proc would write imperatively. The oracle is the
    closed-form CASE twin, so the hash proves the 4-iteration loop ==
    the declarative aggregate (loop-vs-set-logic equivalence, the
    txlog-IVM proof style applied to procedural SQL).

    Scale note: each iteration issues ONE scan-bounded aggregate; the
    script driver runs statements sequentially, so a loop over K
    windows costs K scans — fine for control-flow orchestration
    (retention loops, partition backfills), wrong for per-row logic —
    exactly the boundary the docstring of the reference's delete-then-
    insert procs needed too. Scripting is conf-gated
    (spark.sql.scripting.enabled, set per-call here; harmless
    elsewhere). The view name is uuid-suffixed (session-shared
    catalog, the bucketed-join rule)."""
    import uuid

    events = load_table(spark, sf_dir, "events")
    view = f"ev_script_{uuid.uuid4().hex[:8]}"
    events.createOrReplaceTempView(view)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(f"""
    BEGIN
      DECLARE weighted BIGINT = 0;
      DECLARE in_window BIGINT = 0;
      DECLARE wk INT = 1;
      WHILE wk <= 4 DO
        SET weighted = weighted + wk * (
          SELECT COUNT(*) FROM {view}
          WHERE to_date(ts) >= date_add(DATE'2024-01-01', (wk - 1) * 7)
            AND to_date(ts) <  date_add(DATE'2024-01-01', wk * 7)
        );
        SET in_window = in_window + (
          SELECT COUNT(*) FROM {view}
          WHERE to_date(ts) >= date_add(DATE'2024-01-01', (wk - 1) * 7)
            AND to_date(ts) <  date_add(DATE'2024-01-01', wk * 7)
        );
        SET wk = wk + 1;
      END WHILE;
      SELECT weighted AS weighted_events,
             in_window AS window_events,
             CAST(4 AS BIGINT) AS n_weeks;
    END
    """)


_COLLATION_ORACLE = """
    WITH mangled AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN upper(event_type)
                    ELSE event_type END AS name,
               value
        FROM events
    )
    SELECT lower(name) AS name_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT name) AS BIGINT) AS n_spellings,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6)
               AS sum_value
    FROM mangled GROUP BY lower(name)
"""


@query("collation_surface", oracle=_COLLATION_ORACLE)
def collation_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING COLLATIONS (Spark 4) — case-insensitive comparison
    semantics declared in the TYPE rather than smeared lower() calls:
    event types arrive with mixed casing (mangled deterministically
    here — every even user's rows upper-cased), and the rollup groups
    on the column CAST to ``string collate UTF8_LCASE`` — grouping,
    equality, and joins then honor the collation engine-side. The
    emitted key is normalized through lower() because a collated
    group's REPRESENTATIVE spelling is whichever value the engine saw
    first (nondeterministic across partitionings — found by design
    review, pinned away rather than discovered red); n_spellings
    counts the case variants folded into each group, proving the
    collation actually merged distinct binaries. The oracle is the
    classic lower()-everywhere twin — the differential shows the two
    idioms produce identical rollups while the collated plan keeps
    the original strings intact for output."""
    events = load_table(spark, sf_dir, "events")
    mangled = events.select(
        F.when(
            F.col("user_id") % 2 == 0, F.upper(F.col("event_type"))
        )
        .otherwise(F.col("event_type"))
        .alias("name"),
        "value",
    )
    ci = mangled.select(
        F.expr("CAST(name AS STRING COLLATE UTF8_LCASE)").alias("name_ci"),
        "name",
        "value",
    )
    return (
        ci.groupBy("name_ci")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("name").alias("n_spellings"),
            F.round(
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double"),
                6,
            ).alias("sum_value"),
        )
        .select(
            F.lower(F.col("name_ci").cast("string")).alias("name_ci"),
            "n",
            "n_spellings",
            "sum_value",
        )
    )


@query(
    "datasource_writer_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6)
               AS sum_value,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS manifest_rows
    FROM events
    GROUP BY event_type
    """,
)
def datasource_writer_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON DATASOURCE WRITER — the WRITE half of the DSv2 surface
    (``rest_datasource_ingest`` proved the batch/stream READERS): the
    events table flows through ``df.write.format("staged_json")`` into
    ``sources/staged_sink.py``'s two-phase-commit sink — per-task
    staging files + WriterCommitMessages (path, rows, XOR-of-md5
    checksum), driver-side rename-then-manifest commit, abort cleanup
    — the reference's S4 object-store sink re-expressed through the
    protocol Spark actually offers custom sinks, with the txlog's
    nothing-visible-before-commit discipline
    (``tests/test_datasource.py`` pins manifest counts, checksum
    re-derivation, and that an aborted write leaves NO manifest and NO
    committed parts).

    The query writes, then reads the committed files back with an
    explicit schema and rolls them up; the oracle is the same rollup
    over the ORIGINAL table plus a scalar manifest_rows twin — so the
    hash proves the custom writer round-trips every row and the
    manifest count equals the data. JSON value fidelity: doubles
    survive json.dumps/read exactly (shortest-roundtrip repr both
    ways); timestamps are projected to strings before the sink
    (serialization contract explicit, never implicit)."""
    import os
    import tempfile

    from ..sources.staged_sink import (
        StagedJsonDataSource,
        committed_files,
        read_manifest,
    )

    from ..functions.dedupe import fan_out

    spark.dataSource.register(StagedJsonDataSource)
    # fan_out: the Python writer json.dumps's every row inside the
    # task — over the one-split events scan that is ONE Python worker
    # encoding the whole table (r12 rule; no-op at real scale). The
    # sink's two-phase commit is per-task-file, so width only changes
    # the part-file count, which the manifest and read-back absorb.
    events = fan_out(load_table(spark, sf_dir, "events"), "event_id")
    out = tempfile.mkdtemp(prefix="wistia_sink_") + "/sink"
    os.makedirs(out, exist_ok=True)
    (
        events.select(
            "event_type",
            "user_id",
            "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
        .write.format("staged_json")
        .option("path", out)
        .mode("append")
        .save()
    )
    manifest_rows = int(read_manifest(out)["total_rows"])
    back = spark.read.schema(
        "event_type string, user_id long, value double, ts_str string"
    ).json(committed_files(out))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
        ).alias("sum_value"),
        F.lit(manifest_rows).cast("long").alias("manifest_rows"),
    )


@query(
    "streaming_datasource_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def streaming_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON DATASOURCE STREAM WRITER — the last DSv2 protocol slot
    (batch reader / partitioned + simple stream readers / batch writer
    all proven; this is ``writeStream.format("staged_json")``): the
    events stream replays through 4+ micro-batches into
    ``StagedJsonStreamWriter``, which lands one checksummed manifest
    PER EPOCH (same task-staging + rename-then-manifest discipline as
    the batch sink — a replayed epoch overwrites its own manifest id,
    so the sink composes with the offset log into exactly-once). The
    query reads back ONLY epoch files covered by a committed manifest
    and rolls them up; the oracle is the plain batch SQL over the
    source table, so the driver hash IS the stream==batch==sink
    round-trip proof across every epoch boundary.

    Shape at 100 TB: the sink's commit path is manifest-sized (counts
    + checksums, never data); per-epoch work is the micro-batch's own;
    nothing accumulates driver-side."""
    import os
    import tempfile

    from ..sources.staged_sink import StagedJsonDataSource, committed_files
    from ..streaming.staging import stage_time_ordered

    spark.dataSource.register(StagedJsonDataSource)
    root = tempfile.mkdtemp(prefix="wistia_dsink_")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    os.makedirs(out, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.col("ts"),
    )
    cuts = ["2024-01-08", "2024-01-15", "2024-01-22", "2100-01-01"]
    stage_time_ordered(events, "ts", src, cuts)
    schema = as_nullable(events.schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )
    run_available(
        spark,
        stream.writeStream.format("staged_json")
        .option("path", out)
        .outputMode("append"),
        os.path.join(root, "ckpt"),
        spark.read.schema(schema).parquet(src),
    )
    back = spark.read.schema(
        "event_type string, value double, ts_str string"
    ).json(committed_files(out))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
        ).alias("sum_value"),
    )
