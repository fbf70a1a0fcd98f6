"""Histogram quantiles, label propagation, seasonal/changepoint/ACF time series, event paths, funnels.

Mechanically split from the registry monolith in r8; see
``queries/_base.py`` for the registration contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.dedup import dedup_exact, dedup_latest_wins
from ..operators.rollup import daily_rollup
from ..session import apply_runtime_confs, arrow_local_df, load_table
from ._base import query
from .q01_core_gold_silver import (
    _DUP_CORPUS_SQL,
    _DUP_SHIFT,
    _NORM,
    _TOKS,
    _dup_corpus,
)
from .q07_sketches_graph import _minhash_pairs_ctes

_HISTQ_B = 256
_HISTQ_ORACLE = f"""
    WITH vals AS (
        SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
        FROM events
    ),
    bounds AS (
        SELECT MIN(v) AS lo, MAX(v) + 1 AS hi FROM vals
    ),
    hist AS (
        SELECT event_type, (v - lo) * {_HISTQ_B} // (hi - lo) AS bucket,
               COUNT(*) AS cnt
        FROM vals, bounds GROUP BY event_type, bucket, lo, hi
    ),
    cum AS (
        SELECT event_type, bucket, cnt,
               SUM(cnt) OVER (
                   PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_cnt,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    est AS (
        SELECT c.event_type, p.p,
               MIN(c.bucket) AS qbucket
        FROM cum c, (VALUES (50), (90), (99)) p(p)
        WHERE c.cum_cnt >= (p.p * c.n + 99) // 100
        GROUP BY c.event_type, p.p
    ),
    exact AS (
        SELECT event_type, p, v AS exact_v FROM (
            SELECT c.event_type, p.p, v.v,
                   row_number() OVER (
                       PARTITION BY c.event_type, p.p ORDER BY v.v
                   ) AS rn,
                   (p.p * c.n + 99) // 100 AS target
            FROM (SELECT DISTINCT event_type, n FROM cum) c
            JOIN vals v USING (event_type),
                 (VALUES (50), (90), (99)) p(p)
        ) WHERE rn = target
    )
    SELECT e.event_type, CAST(e.p AS BIGINT) AS p,
           CAST(b.lo + (e.qbucket + 1) * (b.hi - b.lo) // {_HISTQ_B}
                AS BIGINT) AS est_hi_millis,
           CAST(x.exact_v AS BIGINT) AS exact_millis,
           CAST((b.hi - b.lo + {_HISTQ_B} - 1) // {_HISTQ_B} AS BIGINT)
               AS bound_millis,
           CAST(CASE WHEN b.lo + (e.qbucket + 1) * (b.hi - b.lo) // {_HISTQ_B}
                          - x.exact_v
                     BETWEEN 0 AND (b.hi - b.lo + {_HISTQ_B} - 1) // {_HISTQ_B}
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM est e JOIN exact x ON x.event_type = e.event_type AND x.p = e.p,
         bounds b
"""


@query("histogram_quantile_estimate", oracle=_HISTQ_ORACLE)
def histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-HISTOGRAM QUANTILES — the bounded-state sketch every
    warehouse uses when exact percentiles stop fitting: one global
    (min, max) probe (1-row broadcast), values binned into 256 equal
    integer-millis buckets under ONE hash aggregate, and the p50/90/99
    estimate read off the cumulative bucket counts as the upper edge
    of the bucket containing rank ceil(p*n/100). The same query also
    computes the EXACT rank-statistic per group and emits estimate,
    exact, the a-priori error bound (one bucket width, rounded up),
    and a within-bound flag — so the differential hash certifies not
    just cross-engine agreement but that the sketch's error CONTRACT
    holds on real data (the flag is pinned to 1 in tests; upper edge
    means the signed error sits in [0, width]).

    Per-(event_type, bucket) state is at most 5*256 rows regardless of
    event count — the histogram merges associatively across partitions
    (map-side combine does it for free), which is why this family
    scales where sort-based exact quantiles do not; the exact column's
    per-group sort window is the AUDIT, priced accordingly.

    All arithmetic integer: millis = floor(value*1000) (bit-identical
    IEEE multiply per row on both engines), bucket and edge math in
    BIGINT floor-division."""
    from pyspark.sql import Window

    B = _HISTQ_B
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type", F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("v")
    )
    bounds = vals.agg(
        F.min("v").alias("lo"), (F.max("v") + 1).alias("hi")
    )
    hist = (
        vals.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.expr(f"(v - lo) * {B} div (hi - lo)").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type", "bucket",
        F.sum("cnt").over(w_cum).alias("cum_cnt"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    ps = spark.range(1).selectExpr("explode(array(50, 90, 99)) AS p")
    est = (
        cum.crossJoin(F.broadcast(ps))
        .where(F.expr("cum_cnt >= (p * n + 99) div 100"))
        .groupBy("event_type", "p")
        .agg(F.min("bucket").alias("qbucket"))
    )
    n_per = cum.select("event_type", "n").distinct()
    w_rank = Window.partitionBy("event_type", "p").orderBy("v")
    exact = (
        vals.join(n_per, "event_type")
        .crossJoin(F.broadcast(ps))
        .select(
            "event_type", "p", "v",
            F.row_number().over(w_rank).alias("rn"),
            F.expr("(p * n + 99) div 100").alias("target"),
        )
        .where(F.col("rn") == F.col("target"))
        .select("event_type", "p", F.col("v").alias("exact_v"))
    )
    return (
        est.join(exact, ["event_type", "p"])
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.col("p").cast("long").alias("p"),
            F.expr(f"lo + (qbucket + 1) * (hi - lo) div {B}")
            .cast("long").alias("est_hi_millis"),
            F.col("exact_v").cast("long").alias("exact_millis"),
            F.expr(f"(hi - lo + {B} - 1) div {B}").cast("long").alias(
                "bound_millis"
            ),
            F.expr(
                f"CAST(CASE WHEN lo + (qbucket + 1) * (hi - lo) div {B}"
                f" - exact_v BETWEEN 0 AND (hi - lo + {B} - 1) div {B}"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("within_bound"),
        )
    )


_LPA_ROUNDS = 4


def _lpa_round_sql(r: int) -> str:
    return f"""l{r} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT v.node, v.label,
                   row_number() OVER (
                       PARTITION BY v.node
                       ORDER BY COUNT(*) DESC, v.label
                   ) AS rn
            FROM (
                SELECT s.src AS node, l.label
                FROM sym s JOIN l{r - 1} l ON l.node = s.dst
                UNION ALL
                SELECT node, label FROM l{r - 1}
            ) v
            GROUP BY v.node, v.label
        ) WHERE rn = 1
    )"""


_LPA_ORACLE = f"""
    WITH {_minhash_pairs_ctes(_DUP_CORPUS_SQL)},
    sym AS MATERIALIZED (SELECT src, dst FROM edges),
    l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM sym
    ),
    {','.join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))}
    SELECT node, CAST(label AS BIGINT) AS community
    FROM l{_LPA_ROUNDS}
"""


@query("label_propagation_communities", oracle=_LPA_ORACLE)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by deterministic synchronous label
    propagation (functions/graph.label_propagation) over the same
    MinHash near-dup edge set every graph-family query shares. Where
    connected components answers "which docs are transitively linked",
    LPA answers the finer question inside big mixed components — which
    DENSE cores exist — the template-farm fingerprint quality
    pipelines act on. Four fixed rounds, (count DESC, label ASC) tie
    order; the oracle unrolls the identical rounds so the differential
    hash proves round-for-round label equality, convergence or not.

    Shape at 100 TB: per round one edge-label join + one (node, label)
    count + one per-node top-1 window, all partitioned on node ids;
    no frontier shrinkage needed because work is edge-bounded, not
    iteration-accumulating (labels checkpoint per round)."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import label_propagation

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select("a_id", "b_id")
    return label_propagation(
        pairs, rounds=_LPA_ROUNDS, src="a_id", dst="b_id"
    ).select(F.col("node"), F.col("community").cast("long").alias("community"))


_SEASONAL_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS dt, COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    grid AS (
        SELECT t.event_type, g.dt, COALESCE(d.n, 0) AS n
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (
            SELECT unnest(generate_series(MIN(dt), MAX(dt),
                                          INTERVAL 1 DAY))::DATE AS dt
            FROM daily
        ) g
        LEFT JOIN daily d ON d.event_type = t.event_type AND d.dt = g.dt
    ),
    scored AS (
        SELECT event_type, dt, n,
               lag(n, 7) OVER (
                   PARTITION BY event_type ORDER BY dt
               ) AS f
        FROM grid
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(abs(f - n) * 1000000 // (f + n)) // COUNT(*)
                AS BIGINT) AS smape_micro,
           CAST(SUM(abs(f - n)) * 1000000 // COUNT(*) AS BIGINT)
               AS mae_micro
    FROM scored WHERE f IS NOT NULL AND f + n > 0
    GROUP BY event_type
"""


@query("seasonal_forecast_backtest", oracle=_SEASONAL_ORACLE)
def seasonal_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE FORECAST BACKTEST — the baseline every real
    forecaster must beat: predict each day's event count with the
    count seven days earlier and score sMAPE + MAE per event type in
    exact integer micro units (per-day ratios floor-divided, then
    floor-averaged — both engines reproduce the sums bit-for-bit,
    where a float mean would be summation-order fragile).

    The calendar is DENSIFIED first (sequence over the min..max day
    range, missing days as 0) so lag(7) is truly "same weekday last
    week" — over observed days only, a gap silently shifts the season
    and the backtest scores the wrong baseline; the zero-filled grid
    is the honest contract (days where forecast+actual are both 0 are
    excluded from scoring, documented, none at test SFs).

    Shape at 100 TB: one hash aggregate to day grain, a |types x days|
    bounded grid, one per-type lag window — forecast-grain state,
    never event-grain."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.count(F.lit(1)).alias("n"))
    span = daily.agg(F.min("dt").alias("d0"), F.max("dt").alias("d1"))
    days = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("dt")
    )
    grid = (
        daily.select("event_type").distinct()
        .crossJoin(F.broadcast(days))
        .join(daily, ["event_type", "dt"], "left")
        .select("event_type", "dt", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("dt")
    scored = grid.withColumn("f", F.lag("n", 7).over(w)).where(
        F.col("f").isNotNull() & (F.col("f") + F.col("n") > 0)
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.expr(
            "CAST(SUM(abs(f - n) * 1000000 div (f + n)) div COUNT(*)"
            " AS BIGINT)"
        ).alias("smape_micro"),
        F.expr(
            "CAST(SUM(abs(f - n)) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("mae_micro"),
    )


_NOVELTY_BATCH = 25

_NOVELTY_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id // {_NOVELTY_BATCH} AS batch, {_TOKS} AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT batch, g
        FROM toks, unnest(
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       for i in range(1, len(t) - 1)]
                 ELSE [] END
        ) AS u(g)
    ),
    first_seen AS (
        SELECT g, MIN(batch) AS fb FROM grams GROUP BY g
    )
    SELECT g.batch,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE f.fb = g.batch) AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (WHERE f.fb = g.batch) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM grams g JOIN first_seen f ON f.g = g.g
    GROUP BY g.batch
"""


@query("ngram_novelty_by_batch", oracle=_NOVELTY_ORACLE)
def ngram_novelty_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS NOVELTY DECAY — the freshness metric crawl pipelines
    watch to decide when another scrape of a source stops paying for
    itself: documents arrive in fixed-width doc_id batches, and each
    batch reports how many of its distinct token trigrams were never
    seen in ANY earlier batch (novelty = new/total, exact micro
    units). A collapsing curve means the source is re-serving the
    same material; a flat one means it still yields training signal.

    Two hash aggregates end to end: distinct (batch, gram) — map-side
    combine absorbs within-doc repeats — then gram -> min(batch)
    (the first-seen index), joined back on the gram key. No windows,
    no ordering; the gram key is a uniform string hash so both
    shuffles shard evenly at any corpus size.

    Trigram extraction is guarded for short docs (< 3 tokens yields
    no grams, not a sequence() error — Spark's sequence(1, n) runs
    DESCENDING for n < 1, a silent corruption, not a crash)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            F.expr(f"doc_id div {_NOVELTY_BATCH}").alias("batch"),
            tokens(F.col("text")).alias("t"),
        )
        .select(
            "batch",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN"
                    " transform(sequence(1, size(t) - 2),"
                    "           i -> array_join(slice(t, i, 3), ' '))"
                    " ELSE array() END"
                )
            ).alias("g"),
        )
        .distinct()
    )
    first_seen = grams.groupBy("g").agg(F.min("batch").alias("fb"))
    return (
        grams.join(first_seen, "g")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.expr("CASE WHEN fb = batch THEN 1 ELSE 0 END"))
            .cast("long").alias("n_new"),
            F.expr(
                "CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END)"
                " * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("novelty_micro"),
        )
    )


_FUNNEL_W = 43_200  # 12 h, chosen by measurement: every level populated
                    # AND discriminating at the sf0.01 gate (150/136/36);
                    # 1 h gives level3 = 0 at every SF (the tau trap),
                    # 24 h saturates level2 at 147/150.

_FUNNEL_ORACLE = f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) // 1000000 AS t
        FROM events WHERE user_id IS NOT NULL
    ),
    v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
    c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
    l1 AS (SELECT DISTINCT user_id FROM v),
    l2 AS (
        SELECT DISTINCT v.user_id
        FROM v JOIN c ON c.user_id = v.user_id
         AND c.t > v.t AND c.t <= v.t + {_FUNNEL_W}
    ),
    l3 AS (
        SELECT DISTINCT v.user_id
        FROM v
        JOIN c ON c.user_id = v.user_id
         AND c.t > v.t AND c.t <= v.t + {_FUNNEL_W}
        JOIN p ON p.user_id = v.user_id
         AND p.t > c.t AND p.t <= v.t + {_FUNNEL_W}
    )
    SELECT l1.user_id,
           CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                     WHEN l2.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS funnel_level
    FROM l1
    LEFT JOIN l2 ON l2.user_id = l1.user_id
    LEFT JOIN l3 ON l3.user_id = l1.user_id
"""


@query("window_funnel_levels", oracle=_FUNNEL_ORACLE)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOW FUNNEL (ClickHouse windowFunnel semantics): per user, the
    deepest prefix of view -> click -> purchase completed with every
    step inside a 12 h window ANCHORED AT THE VIEW — strictly
    increasing timestamps, later steps may not outrun the anchor's
    window. Distinct from funnel_view_to_purchase (unordered lifetime
    conversion): here ORDER and PROXIMITY are the conditions, which is
    what makes it the attribution-grade funnel.

    Level tests are EXISTS semantics (left-semi joins after an equi
    join on user_id plus range predicates), so the intermediate
    (view, click) pair frame is bounded by per-user activity within
    one window — rate x window, not activity², and never leaves the
    user's hash partition. The window constant is a measured choice
    (see _FUNNEL_W) so every level discriminates at the gate SF.

    Shape at 100 TB: three equi-joins on the natural user key; no
    global ordering, no per-user windows, no state beyond the pair
    frame."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    e = ev.select(
        "user_id", "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("t"),
    )
    v = e.where(F.col("event_type") == "view").select("user_id", F.col("t").alias("tv"))
    c = e.where(F.col("event_type") == "click").select("user_id", F.col("t").alias("tc"))
    p = e.where(F.col("event_type") == "purchase").select("user_id", F.col("t").alias("tp"))
    l1 = v.select("user_id").distinct()
    vc = v.join(c, "user_id").where(
        (F.col("tc") > F.col("tv"))
        & (F.col("tc") <= F.col("tv") + _FUNNEL_W)
    )
    l2 = vc.select("user_id").distinct()
    l3 = (
        vc.join(p, "user_id")
        .where(
            (F.col("tp") > F.col("tc"))
            & (F.col("tp") <= F.col("tv") + _FUNNEL_W)
        )
        .select("user_id")
        .distinct()
    )
    return (
        l1.join(l2.withColumn("is2", F.lit(1)), "user_id", "left")
        .join(l3.withColumn("is3", F.lit(1)), "user_id", "left")
        .select(
            "user_id",
            F.expr(
                "CAST(CASE WHEN is3 = 1 THEN 3 WHEN is2 = 1 THEN 2"
                " ELSE 1 END AS BIGINT)"
            ).alias("funnel_level"),
        )
    )


_PATHS_ORACLE = """
    WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS dt, event_type,
               row_number() OVER (
                   PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts, event_id
               ) AS rn
        FROM events WHERE user_id IS NOT NULL
    ),
    paths AS (
        SELECT user_id, dt,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id, dt
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
    FROM paths GROUP BY path
"""


@query("top_event_paths", oracle=_PATHS_ORACLE)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-JOURNEY PATH MINING — the product-analytics staple: the
    first three events of every user-day, concatenated in arrival
    order into a path string ('view>click>purchase'), counted across
    all user-days. Arrival order is made a total order by (ts,
    event_id) so tied timestamps cannot flip path strings between
    engines or between runs — path strings are join keys downstream,
    and a nondeterministic key silently fragments the count.

    Shape at 100 TB: the rank window and the path aggregation are both
    partitioned by (user_id, day) — the natural high-cardinality key —
    then one uniform hash aggregate on the path string (alphabet^3
    distinct values at most). No global ordering anywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id", "dt").orderBy("ts", "event_id")
    ranked = (
        ev.select(
            "user_id", F.to_date("ts").alias("dt"), "event_type", "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )
    paths = ranked.groupBy("user_id", "dt").agg(
        F.concat_ws(
            ">", F.expr("transform(sort_array(collect_list(struct(rn, event_type))), s -> s.event_type)")
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days")
    )


_SYSSAMPLE_ORACLE = """
    WITH exact AS (
        SELECT event_type, COUNT(*) AS n_exact,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_exact
        FROM events GROUP BY event_type
    ),
    sample AS (
        SELECT event_type, COUNT(*) * 10 AS n_est,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) * 10 AS BIGINT)
                   AS cents_est
        FROM events WHERE event_id % 10 = 0
        GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(s.n_est AS BIGINT) AS n_est,
           CAST(abs(s.n_est - e.n_exact) * 1000000 // e.n_exact AS BIGINT)
               AS n_err_micro,
           e.cents_exact, s.cents_est,
           CAST(abs(s.cents_est - e.cents_exact) * 1000000
                // e.cents_exact AS BIGINT) AS cents_err_micro
    FROM exact e JOIN sample s ON s.event_type = e.event_type
"""


@query("systematic_sample_estimate", oracle=_SYSSAMPLE_ORACLE)
def systematic_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED QUERY PROCESSING (BlinkDB-shaped, arXiv published as
    Agarwal et al., EuroSys 2013): a 10% SYSTEMATIC sample (event_id %
    10 — deterministic, reproducible, and co-located with the data,
    unlike Bernoulli rand() which no differential oracle can check)
    answers the per-type count and revenue rollup at a tenth of the
    scan cost; the same query computes the exact answers and emits
    the relative error in micro units, so the differential hash
    certifies the ESTIMATOR'S accuracy on real data, not just engine
    agreement. The audit columns are the expensive full-scan path; a
    production deployment keeps only the sample branch (documented
    asymmetry, same shape as histogram_quantile_estimate).

    Error observed at the sf0.01 gate: 0-8% on counts — consistent
    with 1/sqrt(n) ~ 7% for per-type sample sizes of ~200, and the
    error itself rides the hash so a silently biased sample fails the
    gate.

    Shape at 100 TB: the sample predicate pushes to the scan (modulo
    on a stored column) — the 10x scan saving is real, not post-scan
    filtering theater; both branches are one hash aggregate each."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("cents").alias("cents_exact"),
    )
    sample = (
        ev.where(F.col("event_id") % 10 == 0)
        .groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) * 10).alias("n_est"),
            (F.sum("cents") * 10).alias("cents_est"),
        )
    )
    return exact.join(sample, "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_est").cast("long").alias("n_est"),
        F.expr(
            "CAST(abs(n_est - n_exact) * 1000000 div n_exact AS BIGINT)"
        ).alias("n_err_micro"),
        F.col("cents_exact").cast("long").alias("cents_exact"),
        F.col("cents_est").cast("long").alias("cents_est"),
        F.expr(
            "CAST(abs(cents_est - cents_exact) * 1000000 div cents_exact"
            " AS BIGINT)"
        ).alias("cents_err_micro"),
    )


_CUSUM_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS dt, COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS s, COUNT(*) AS nd
        FROM daily GROUP BY event_type
    ),
    cum AS (
        SELECT d.event_type, d.dt,
               row_number() OVER (
                   PARTITION BY d.event_type ORDER BY d.dt
               ) AS i,
               CAST(SUM(d.n) OVER (
                   PARTITION BY d.event_type ORDER BY d.dt
               ) AS BIGINT) AS p,
               t.s, t.nd
        FROM daily d JOIN tot t ON t.event_type = d.event_type
    ),
    stat AS (
        SELECT event_type, dt, abs(nd * p - i * s) AS c_abs, nd, s
        FROM cum
    )
    SELECT event_type, dt AS change_dt,
           CAST(c_abs AS BIGINT) AS cusum_abs,
           CAST(nd AS BIGINT) AS n_days,
           s AS total_events
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY c_abs DESC, dt
        ) AS rn FROM stat
    ) WHERE rn = 1
"""


@query("cusum_changepoint_days", oracle=_CUSUM_ORACLE)
def cusum_changepoint_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection: for each event type's daily-count
    series, the most likely changepoint is the day maximising the
    centered cumulative sum |C_i| = |N*P_i - i*S| (P_i = prefix sum,
    S = total, N = #days) -- the classic offline CUSUM statistic with
    the mean CLEARED of its denominator, so every quantity stays an
    exact integer (the anomaly_days_zscore denominator-clearing trick
    applied to a sequential statistic). Ties break to the earliest
    day, so the argmax row is deterministic.

    Shape at 100 TB: the raw scan reduces to the (type x day) grain in
    one hash aggregate with map-side combine; both windows (prefix sum
    and argmax rank) run per-type over that model-sized frame -- a
    day-count-bounded partition, never a data-sized sort (the
    token_budget_selection bounded-global-window budget). Totals join
    back by broadcast. C_i fits int64 out to ~10 years of 1e12
    events/day (nd*p ~ 3.6e3 * 1e15)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("dt"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("s"), F.count(F.lit(1)).alias("nd")
    )
    w = Window.partitionBy("event_type").orderBy("dt")
    cum = (
        daily.withColumn("i", F.row_number().over(w))
        .withColumn("p", F.sum("n").over(w))
        .join(F.broadcast(tot), "event_type")
        .withColumn("c_abs", F.abs(F.col("nd") * F.col("p") - F.col("i") * F.col("s")))
    )
    top = Window.partitionBy("event_type").orderBy(
        F.col("c_abs").desc(), F.col("dt")
    )
    return (
        cum.withColumn("rn", F.row_number().over(top))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dt").alias("change_dt"),
            F.col("c_abs").cast("long").alias("cusum_abs"),
            F.col("nd").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("total_events"),
        )
    )


_ACF_RNUM = (
    "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
)
_ACF_VX = (
    "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
)
_ACF_VY = (
    "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
)
_ACF_R = (
    f"CAST(CASE WHEN ({_ACF_VX}) * ({_ACF_VY}) <= 0 THEN 0"
    f" ELSE floor((1000000.0 * ({_ACF_RNUM}))"
    f" / sqrt(({_ACF_VX}) * ({_ACF_VY}))) END AS BIGINT)"
)

_ACF_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS dt, COUNT(*) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lags AS (SELECT unnest(range(1, 8)) AS k),
    pairs AS (
        SELECT a.event_type, l.k,
               CAST(a.cnt AS BIGINT) AS x, CAST(b.cnt AS BIGINT) AS y
        FROM daily a CROSS JOIN lags l
        JOIN daily b ON b.event_type = a.event_type
                    AND b.dt = a.dt + CAST(l.k AS INTEGER)
    ),
    suff AS (
        SELECT event_type, k, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY event_type, k
    )
    SELECT event_type, CAST(k AS BIGINT) AS lag_k,
           CAST(n AS BIGINT) AS n_pairs,
           {_ACF_R} AS r_micro
    FROM suff
"""


@query("acf_daily_lags", oracle=_ACF_ORACLE)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION function at calendar lags 1..7 of each type's
    daily-count series -- the seasonality diagnostic that motivates
    seasonal_forecast_backtest's weekly period. Pearson r over the
    (day, day+k) pairs from five integer sufficient statistics (the
    user_activity_trend OLS pattern); the final r needs a sqrt, so the
    last step runs in DOUBLE -- safe cross-engine because every input
    is an exactly-summed integer and the identical IEEE expression
    tree (cast, *, -, /, sqrt, floor) is bit-deterministic on both
    engines; only SUM ORDER is engine-unstable for doubles, and there
    are no double sums here. Zero-variance series guard to 0.

    Shape at 100 TB: the scan reduces to the (type x day) grain once;
    the lag pairing is a self-equi-join of that model-sized frame on
    (type, dt+k) fanned by a 7-row broadcast lag dim -- never a
    window over the raw events, and gaps in the calendar simply drop
    pairs (no fill needed, n_pairs is per-lag exact)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("dt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("bt"),
        F.col("dt").alias("bdt"),
        F.col("cnt").alias("y"),
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("bt") == F.col("a.event_type"))
        & (F.col("bdt") == F.expr("date_add(a.dt, k)")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        "k",
        F.col("a.cnt").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    suff = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return suff.select(
        "event_type",
        F.col("k").cast("long").alias("lag_k"),
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(_ACF_R).alias("r_micro"),
    )


_DRIFT_ORACLE = rf"""
    WITH tok AS (
        SELECT doc_id % 2 AS half, tok
        FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    cnt AS (
        SELECT half, tok, COUNT(*) AS c FROM tok GROUP BY half, tok
    ),
    ranked AS (
        SELECT half, tok, c,
               row_number() OVER (
                   PARTITION BY half ORDER BY c DESC, tok
               ) AS rnk
        FROM cnt
    )
    SELECT a.tok,
           CAST(a.c AS BIGINT) AS count_a,
           CAST(b.c AS BIGINT) AS count_b,
           CAST(a.rnk AS BIGINT) AS rank_a,
           CAST(b.rnk AS BIGINT) AS rank_b,
           CAST(abs(a.rnk - b.rnk) AS BIGINT) AS footrule
    FROM ranked a
    JOIN ranked b ON b.tok = a.tok AND a.half = 0 AND b.half = 1
"""


@query("vocab_rank_drift", oracle=_DRIFT_ORACLE)
def vocab_rank_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION DRIFT by rank comparison: token frequency RANKS in
    two corpus halves (doc_id parity split), joined per token with the
    Spearman-footrule contribution |rank_a - rank_b| -- the rank-based
    train/serving-skew diagnostic that, unlike the PSI/KL family,
    needs no logarithms, so every output is an exact integer and the
    drift signal is robust to absolute-volume differences between the
    windows (source_tv_divergence measures mass drift; this measures
    ORDER drift). Rank ties break (count DESC, token ASC) -- the
    NOTES_r2 deterministic-top-k rule. Inner join: a token scoring in
    only one half has no rank pair (none at this vocabulary, where
    both halves see all 31 tokens).

    Shape at 100 TB: explode -> one hash aggregate to the
    (half, token) grain with map-side combine absorbing the zipf head;
    the rank windows partition BY HALF but run over vocabulary-sized
    rows (the model-sized-window budget), and the final join is
    vocab x vocab tiny."""
    from pyspark.sql import Window
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("half", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("half").orderBy(F.col("c").desc(), F.col("tok"))
    ranked = cnt.withColumn("rnk", F.row_number().over(w))
    a = ranked.where(F.col("half") == 0).select(
        "tok", F.col("c").alias("count_a"), F.col("rnk").alias("rank_a")
    )
    b = ranked.where(F.col("half") == 1).select(
        "tok", F.col("c").alias("count_b"), F.col("rnk").alias("rank_b")
    )
    return a.join(b, "tok").select(
        "tok",
        F.col("count_a").cast("long").alias("count_a"),
        F.col("count_b").cast("long").alias("count_b"),
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        F.abs(F.col("rank_a") - F.col("rank_b"))
        .cast("long")
        .alias("footrule"),
    )


_GINI_ORACLE = rf"""
    WITH tok AS (
        SELECT source, tok FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    cnt AS (
        SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
    ),
    agg AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n,
               COUNT(*) AS v,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS s,
               CAST(MAX(c) AS BIGINT) AS cmax
        FROM cnt GROUP BY source
    )
    SELECT source,
           n AS n_tokens,
           CAST(v AS BIGINT) AS n_distinct,
           CAST(v * 1000000 // n AS BIGINT) AS ttr_micro,
           CAST(CASE WHEN n <= 1 THEN 0 ELSE
               floor(1000000.0 * (1.0 - CAST(s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
           END AS BIGINT) AS simpson_micro,
           CAST(floor((1000000.0 * CAST(cmax AS DOUBLE))
               / CAST(n AS DOUBLE)) AS BIGINT) AS dominance_micro
    FROM agg
"""


@query("token_diversity_gini", oracle=_GINI_ORACLE)
def token_diversity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per source: unbiased Gini-Simpson index
    1 - sum c(c-1)/(n(n-1)) -- the collision-probability diversity
    measure that (unlike Shannon entropy) needs NO logarithm, so the
    heavy lifting stays in exact integers; plus type-token ratio and
    Berger-Parker dominance (top-token share). A data-mixing signal:
    a source whose diversity collapses is boilerplate/templated text
    (the text_repetition_stats signal at corpus rather than document
    grain). Final ratios in micro via the identical-IEEE-expression
    rule (integer inputs, per-row double math, no double sums).

    Shape at 100 TB: explode -> (source, token) hash aggregate with
    map-side combine -> source-grain reduce; all model-sized after
    the first aggregate. n(n-1) would overflow int64 scaled by 1e6 at
    n ~ 1e7, hence the double path rather than integer div."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("s"),
        F.max("c").alias("cmax"),
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("n_distinct"),
        F.expr("CAST(v * 1000000 div n AS BIGINT)").alias("ttr_micro"),
        F.expr(
            "CAST(CASE WHEN n <= 1 THEN 0 ELSE"
            " floor(1000000.0 * (1.0 - CAST(s AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))"
            " END AS BIGINT)"
        ).alias("simpson_micro"),
        F.expr(
            "CAST(floor((1000000.0 * CAST(cmax AS DOUBLE))"
            " / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("dominance_micro"),
    )


_MG_K = 8
_MG_KEY = (
    "CASE WHEN event_id % 4 = 0 THEN 'hot_a'"
    " WHEN event_id % 4 = 1 THEN 'hot_b'"
    " ELSE concat('u', CAST(coalesce(user_id % 500, -1) AS STRING)) END"
)
_MG_KEY_SQL = (
    "CASE WHEN event_id % 4 = 0 THEN 'hot_a'"
    " WHEN event_id % 4 = 1 THEN 'hot_b'"
    " ELSE 'u' || CAST(COALESCE(user_id % 500, -1) AS VARCHAR) END"
)

_MG_ORACLE = f"""
    WITH keyed AS (
        SELECT {_MG_KEY_SQL} AS item FROM events
    ),
    tot AS (SELECT COUNT(*) AS n FROM keyed),
    exact AS (SELECT item, COUNT(*) AS c FROM keyed GROUP BY item)
    SELECT e.item, CAST(e.c AS BIGINT) AS exact_n,
           CAST(1 AS BIGINT) AS found,
           CAST(1 AS BIGINT) AS no_overcount,
           CAST(1 AS BIGINT) AS within_bound
    FROM exact e, tot t WHERE e.c * {_MG_K + 1} > t.n
"""


@query("heavy_hitters_mg", oracle=_MG_ORACLE)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED MISRA-GRIES heavy hitters with the mergeable-
    summaries contract CERTIFIED by the differential hash (Agarwal et
    al., PODS 2012): per-partition MG(k) automata (O(k) state, no
    shuffle — `functions/sketches.py`) merge into one MG(k) summary;
    the query emits, for every TRUE heavy hitter (exact > n/(k+1)),
    the three theorem facts — found (total recall), no_overcount
    (est <= exact), within_bound ((exact-est)·(k+1) <= n). The MG
    estimates themselves are arrival-order-dependent and so excluded
    from the verified columns; the FLAGS are order-independent
    theorems, so a broken automaton (wrong eviction mass, bad merge
    decrement) flips a flag and fails the hash. Exact counts are the
    audit branch (systematic_sample_estimate asymmetry — production
    keeps only the sketch).

    The item stream derives a deterministically SKEWED key (two 25%
    hot keys over a ~500-key tail) because the corpus vocabulary is
    near-uniform (max share 3.6% — no true heavy hitter exists to
    certify; the CMS fire-the-rule lesson), and |keys| >> k keeps the
    eviction path constantly exercised.

    Shape at 100 TB: the sketch branch is scan-local fold + a
    model-sized (P·k rows) merge; CMS answers point queries with
    overcounts, MG returns exactly the candidate set with
    undercounts — together they bracket the truth."""
    from ..functions.sketches import misra_gries_merge, misra_gries_partition

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(F.expr(_MG_KEY).alias("item")).localCheckpoint(
        eager=False
    )
    mg = misra_gries_merge(
        misra_gries_partition(keyed, "item", _MG_K), _MG_K
    )
    exact = keyed.groupBy("item").agg(F.count(F.lit(1)).alias("exact_n"))
    tot = keyed.agg(F.count(F.lit(1)).alias("n"))
    hh = exact.crossJoin(F.broadcast(tot)).where(
        F.col("exact_n") * (_MG_K + 1) > F.col("n")
    )
    return hh.join(mg, "item", "left").select(
        "item",
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("est").isNotNull().cast("long").alias("found"),
        F.coalesce(F.col("est") <= F.col("exact_n"), F.lit(False))
        .cast("long")
        .alias("no_overcount"),
        F.coalesce(
            (F.col("exact_n") - F.col("est")) * (_MG_K + 1) <= F.col("n"),
            F.lit(False),
        )
        .cast("long")
        .alias("within_bound"),
    )


_MEDIAN_BUCKET = 65536

_MEDIAN_ORACLE = f"""
    WITH c AS (
        SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    r AS (
        SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
               COUNT(*) OVER () AS n
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(cents AS BIGINT) AS median_cents,
           CAST(cents // {_MEDIAN_BUCKET} AS BIGINT) AS median_bucket,
           (SELECT CAST(COUNT(DISTINCT cents // {_MEDIAN_BUCKET}) AS BIGINT)
            FROM c) AS n_buckets
    FROM r WHERE rn = (n + 1) // 2
"""


@query("exact_median_two_pass", oracle=_MEDIAN_ORACLE)
def exact_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median WITHOUT a global sort — the distributed
    selection algorithm: pass 1 histograms the value domain into
    65536-cent buckets (one hash aggregate; bucket count is bounded by
    the VALUE DOMAIN, not the row count — ~161 buckets on this price
    range at any SF), the driver locates the bucket containing rank
    (n+1) div 2 from the model-sized bucket counts; pass 2 counts each
    distinct value inside that single bucket (<= 65536 groups by
    construction) and the driver reads the value at the residual
    offset. Two scans, two bounded collects, zero sorts — the oracle
    is the naive global ROW_NUMBER selection, so the hash proves the
    two-pass selection exact, same proof shape as contiguous_doc_ids.
    The lower-median convention (n+1) div 2 matches the engine-pinned
    rank selection family (customer_rfm_boundaries, mad_robust_
    outliers).

    Shape at 100 TB: a global sort of 10^12 rows is the worst plan in
    the book; this is 2 map-side-combined aggregates whose outputs are
    domain-bounded. Pathological skew (every row in one bucket) would
    recurse on the bucket — one extra level per 65536x concentration,
    noted, not needed on any realistic value domain."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
        ).alias("cents")
    )
    cents = li.localCheckpoint(eager=False)
    buckets = (
        cents.groupBy(
            F.expr(f"cents div {_MEDIAN_BUCKET}").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    buckets = sorted(
        ((r["b"], r["cnt"]) for r in buckets), key=lambda t: t[0]
    )
    n = sum(cnt for _, cnt in buckets)
    rank = (n + 1) // 2
    cum = 0
    med_bucket, offset = None, 0
    for b, cnt in buckets:
        if cum + cnt >= rank:
            med_bucket, offset = b, rank - cum
            break
        cum += cnt
    inner = (
        cents.where(
            F.expr(f"cents div {_MEDIAN_BUCKET}") == med_bucket
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    cum = 0
    median = None
    for v, cnt in sorted((r["cents"], r["cnt"]) for r in inner):
        cum += cnt
        if cum >= offset:
            median = v
            break
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_rows"),
        F.lit(median).cast("long").alias("median_cents"),
        F.lit(med_bucket).cast("long").alias("median_bucket"),
        F.lit(len(buckets)).cast("long").alias("n_buckets"),
    )


_OOF_ORACLE = """
    WITH base AS (
        SELECT c.c_nationkey AS nationkey,
               o.o_orderkey % 5 AS fold,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    pf AS (
        SELECT nationkey, fold, COUNT(*) AS n_fold,
               CAST(SUM(cents) AS BIGINT) AS s_fold
        FROM base GROUP BY nationkey, fold
    ),
    tot AS (
        SELECT nationkey, CAST(SUM(n_fold) AS BIGINT) AS n,
               CAST(SUM(s_fold) AS BIGINT) AS s
        FROM pf GROUP BY nationkey
    )
    SELECT p.nationkey, CAST(p.fold AS BIGINT) AS fold,
           CAST(p.n_fold AS BIGINT) AS n_fold,
           CAST(CASE WHEN t.n > p.n_fold THEN
               (t.s - p.s_fold) // (t.n - p.n_fold)
           END AS BIGINT) AS oof_mean_cents
    FROM pf p JOIN tot t ON t.nationkey = p.nationkey
"""


@query("target_encoding_oof", oracle=_OOF_ORACLE)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE TARGET ENCODING — the K-fold out-of-fold mean that
    feature pipelines substitute for high-cardinality categoricals:
    rows in fold f receive their group's target mean computed WITHOUT
    fold f ((S_g - S_gf) / (n_g - n_gf)), so no row's own target
    leaks into its feature (the training-side twin of
    split_leakage_audit's eval-side check). Folds are deterministic
    (o_orderkey % 5 — co-located, reproducible, the dataset_split
    hash-draw rule); means are exact integer floor-division on cents.
    A group confined to one fold encodes NULL (guarded in both
    engines) — the correct answer, not an error: there is no
    out-of-fold evidence.

    Shape at 100 TB: one fact-dim equi-join (AQE picks broadcast
    when customer fits, shuffle join when SF-scaled — the star-join
    rule), then two nested hash aggregates on the model-sized
    (group x fold) grain; the encodings broadcast back to rows at
    apply time as a |groups|·K table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, c["c_custkey"] == o["o_custkey"]).select(
        F.col("c_nationkey").alias("nationkey"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    pf = base.groupBy("nationkey", "fold").agg(
        F.count(F.lit(1)).alias("n_fold"), F.sum("cents").alias("s_fold")
    )
    tot = pf.groupBy("nationkey").agg(
        F.sum("n_fold").alias("n"), F.sum("s_fold").alias("s")
    )
    return pf.join(tot, "nationkey").select(
        "nationkey",
        F.col("fold").cast("long").alias("fold"),
        F.col("n_fold").cast("long").alias("n_fold"),
        F.expr(
            "CAST(CASE WHEN n > n_fold THEN"
            " (s - s_fold) div (n - n_fold) END AS BIGINT)"
        ).alias("oof_mean_cents"),
    )


_SPAN_N = 5

_SPANRM_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    ),
    spans AS (
        SELECT doc_id, p,
               md5(array_to_string(t[p+1:p+{_SPAN_N}], ' ')) AS fp
        FROM toks,
             unnest(range(0, greatest(len(t) - {_SPAN_N - 1}, 0))) AS u(p)
    ),
    grp AS (
        SELECT fp, MIN(doc_id) AS keeper, COUNT(DISTINCT doc_id) AS nd
        FROM spans GROUP BY fp
    ),
    cover AS (
        SELECT DISTINCT s.doc_id, s.p + o AS cp
        FROM spans s
        JOIN grp g USING (fp), unnest(range(0, {_SPAN_N})) AS v(o)
        WHERE g.nd > 1 AND s.doc_id <> g.keeper
    ),
    pos AS (
        SELECT doc_id, q, t[q+1] AS tok
        FROM toks, unnest(range(0, len(t))) AS w(q)
    ),
    kept AS (
        SELECT p.doc_id,
               COUNT(*) AS n_kept,
               array_to_string(list(p.tok ORDER BY p.q), ' ') AS cleaned
        FROM pos p
        LEFT JOIN cover c ON c.doc_id = p.doc_id AND c.cp = p.q
        WHERE c.doc_id IS NULL
        GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(k.cleaned, '') AS cleaned
    FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
"""


@query("duplicate_span_removal", oracle=_SPANRM_ORACLE)
def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING DEDUP WITH TEXT SURGERY (the ExactSubstr
    operator of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022, re-expressed relationally): a
    token span occurring in more than one document is REMOVED from
    every document except the lowest-doc_id holder, and each
    document's text is REBUILT from its surviving token positions.
    This is removal, not flagging — the other dedup queries decide
    which documents to drop; this one edits documents in place, the
    within-corpus repeated-passage operation that suffix-array
    pipelines do with a giant sort. Span width 5 here (the paper's 50
    scaled to this corpus' ~100-token documents); on this vocabulary
    the birthday bound makes natural 5-gram collisions plentiful, so
    the removal path is exercised without an injected corpus.

    Relational decomposition: fingerprint every span start (scan-
    local), ONE hash aggregate per fingerprint for (keeper, ndocs),
    join back to mark losing occurrences, explode each to its covered
    positions, anti-join the position table, and re-assemble text with
    a per-document sort_array over position structs (partition-local,
    bounded by document length). Everything is exact integers/strings.

    Shape at 100 TB: the only shuffles are the fp aggregate + join
    (uniform 128-bit keys) and the doc_id re-assembly aggregate; no
    suffix array, no global sort, and driver state is zero. The
    cleaned text column makes the differential hash a byte-exact
    proof of the surgery."""
    from ..functions.dedupe import fan_out
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    # fan_out before tokenize+checkpoint: the sf-grain parquet is one
    # scan split, so the regex pass and every pre-shuffle reader of the
    # cached frame otherwise run on a single task (r12, the
    # containment_quote_match measurement).
    toks = fan_out(docs, "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).localCheckpoint(eager=False)
    spans = toks.selectExpr(
        "doc_id",
        f"""posexplode(
            CASE WHEN size(t) >= {_SPAN_N}
                 THEN transform(sequence(0, size(t) - {_SPAN_N}),
                      p -> md5(concat_ws(' ', slice(t, p + 1, {_SPAN_N}))))
                 ELSE array() END
        ) AS (p, fp)""",
    )
    grp = spans.groupBy("fp").agg(
        F.min("doc_id").alias("keeper"),
        F.count_distinct("doc_id").alias("nd"),
    )
    cover = (
        spans.join(grp, "fp")
        .where((F.col("nd") > 1) & (F.col("doc_id") != F.col("keeper")))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(p, p + {_SPAN_N - 1})")).alias("cp"),
        )
        .distinct()
    )
    pos = toks.selectExpr("doc_id", "posexplode(t) AS (q, tok)")
    kept = (
        pos.join(
            cover,
            (pos["doc_id"] == cover["doc_id"]) & (pos["q"] == cover["cp"]),
            "left_anti",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.expr(
                "concat_ws(' ', transform(sort_array(collect_list("
                "struct(q, tok))), s -> s.tok))"
            ).alias("cleaned"),
        )
    )
    return toks.join(kept, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
    )


_MAXCOV_K = 8


def _maxcov_oracle(k: int = _MAXCOV_K) -> str:
    """Unrolled greedy max-coverage rounds (the coreset_kcenter oracle
    idiom): each round picks the not-yet-selected doc with the largest
    count of uncovered bigrams (ties to the smaller doc_id), then
    accumulates its bigrams into the covered set."""
    parts = [
        r"""base AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([array_to_string(t[p+1:p+2], ' ')
                              for p in range(0, len(t) - 1)]) AS bgs
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents WHERE length(trim(text)) > 0)
    )""",
        "c0 AS MATERIALIZED (SELECT []::VARCHAR[] AS cov)",
    ]
    prev_sel = []
    for t in range(k):
        notin = (
            f" AND doc_id NOT IN ({', '.join(f'(SELECT doc_id FROM r{j})' for j in prev_sel)})"
            if prev_sel
            else ""
        )
        parts.append(
            f"r{t} AS MATERIALIZED (SELECT doc_id, bgs,"
            f" len(list_filter(bgs, x -> NOT list_contains(cov, x)))"
            f" AS gain FROM base, c{t} WHERE TRUE{notin}"
            f" ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        parts.append(
            f"c{t + 1} AS MATERIALIZED (SELECT list_distinct(c.cov || r.bgs) AS cov"
            f" FROM c{t} c, r{t} r)"
        )
        prev_sel.append(t)
    rounds = "\n        UNION ALL ".join(
        f"SELECT {t} AS round, r{t}.doc_id, r{t}.gain,"
        f" (SELECT len(cov) FROM c{t + 1}) AS covered_total FROM r{t}"
        for t in range(k)
    )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT CAST(round AS BIGINT) AS round, doc_id,
           CAST(gain AS BIGINT) AS gain,
           CAST(covered_total AS BIGINT) AS covered_total
    FROM ({rounds})
    """


@query("greedy_max_coverage_docs", oracle=_maxcov_oracle())
def greedy_max_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBMODULAR DATA SELECTION — greedy MAX-COVERAGE over bigram
    sets: pick k documents maximising the number of distinct bigrams
    covered, the facility-location-family objective behind
    diversity-driven corpus subset selection (greedy is the classic
    (1-1/e)-approximation; Nemhauser et al. 1978). The geometric
    sibling is coreset_kcenter_embeddings (max-min distance); this is
    the set-cover axis (max coverage), and the two select very
    different subsets. Bigrams, not unigrams: the 31-token vocabulary
    saturates after two documents (a rule the data must fire).

    Per round ONE aggregate job: gain = size(array_except(bgs,
    covered-literal)) folded through max(struct(gain, -doc_id, ...))
    — the (gain, -id) tie rule, an argmax without any sort; the
    covered set is DRIVER-state bounded by k x max-document-length
    bigrams (model-sized by construction — it is the union of the
    SELECTED docs' bigrams only), shipped each round as a literal
    array, exactly the k-center pattern. Oracle unrolls all k rounds
    in SQL and the differential hash pins every pick, gain, and
    coverage count.

    Shape at 100 TB: k scans with scan-local set arithmetic and a
    1-row aggregate each — no shuffle at all; the classic
    distributed-greedy refinement (GreeDi, Mirzasoleiman et al. 2013)
    would run per-partition greedy then re-greedy the union, trading
    exactness for one round — noted, not needed while k is small."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    from ..functions.dedupe import fan_out
    from ..functions.text import tokens

    # fan_out before the bigram projection: k greedy rounds each scan
    # the cached frame, and a 1-partition cache would run every
    # round's set arithmetic on one task (r12).
    base = (
        fan_out(docs, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.expr(
                "array_distinct(CASE WHEN size(t) >= 2 THEN"
                " transform(sequence(0, size(t) - 2),"
                " p -> concat_ws(' ', slice(t, p + 1, 2)))"
                " ELSE array() END)"
            ).alias("bgs"),
        )
        .localCheckpoint(eager=False)
    )
    covered: set[str] = set()
    selected: list[int] = []
    rows = []
    for r in range(_MAXCOV_K):
        cov_lit = (
            F.array(*[F.lit(x) for x in sorted(covered)])
            if covered
            else F.array().cast("array<string>")
        )
        cand = base
        if selected:
            cand = cand.where(~F.col("doc_id").isin(selected))
        top = cand.select(
            F.max(
                F.struct(
                    F.size(F.array_except(F.col("bgs"), cov_lit)).alias(
                        "gain"
                    ),
                    (-F.col("doc_id")).alias("neg_id"),
                    F.col("doc_id").alias("doc_id"),
                    F.col("bgs").alias("bgs"),
                )
            ).alias("s")
        ).first()["s"]
        covered.update(top["bgs"])
        selected.append(top["doc_id"])
        rows.append((r, top["doc_id"], top["gain"], len(covered)))
    return arrow_local_df(
        spark, rows, "round long, doc_id long, gain long, covered_total long"
    )


_LP_MIN_BIGRAMS = 32
_LP_THRESHOLD = 0.82

#: Base docs for the wedge graph, with their distinct-BIGRAM count nb.
#: Bigram shingles, not unigram: the 31-token vocabulary saturates
#: unigram shingle sets, making every doc a near-dup of every other —
#: the resulting graph is quadratic-DENSE and the wedge join filled
#: the disk at sf0.5 (measured, scale harness). Bigram sets (961-slot
#: space, ~n distinct per doc) have ZERO natural cross-doc edges at
#: this threshold (probed), so the graph is exactly the injected
#: stars + rare true near-dups: wedge output is LINEAR in docs.
_LP_BASE_SQL = rf"""
    SELECT doc_id, text, nb FROM (
        SELECT doc_id, text,
               len(list_distinct([array_to_string(t[i:i+1], ' ')
                                  for i in range(1, len(t))])) AS nb
        FROM (SELECT doc_id, text,
                     regexp_split_to_array({_NORM}, '\s+') AS t
              FROM documents
              WHERE doc_id % 5 = 0 AND length(trim(text)) > 0)
    ) WHERE nb >= {_LP_MIN_BIGRAMS}
"""

_LP_CORPUS_SQL = f"SELECT doc_id, text FROM ({_LP_BASE_SQL})"


def _lp_branch_sql(shift: int, prefix: str, j: int, parity: str = "") -> str:
    # salt count m = nb//8 + j scales with the doc so the Jaccard
    # bounds hold at every doc length >= the nb filter:
    #   J(branch, base) = nb/(nb+m)    >= 32/38  = .842 > tau
    #   J(branch_i, branch_j) = nb/(nb+m_i+m_j) <= 39/48 = .8125 < tau
    # (worst cases over nb >= 32; exact Jaccard is identical on both
    # engines, so the margins are data-constants, not luck).
    return f"""
        SELECT doc_id + {shift} AS doc_id,
               text || ' ' || array_to_string(
                   [('{prefix}_' || doc_id || '_' || i)
                    for i in range(1, nb // 8 + {j} + 1)], ' ') AS text
        FROM ({_LP_BASE_SQL}){parity}
"""


#: Shared CTE prefix: the wedge-injected minhash graph (corpus ->
#: pairs -> symmetric edges -> degrees). Used by link_prediction_ra
#: and graph_assortativity so both verify the SAME graph.
_LP_GRAPH_SQL = rf"""corpus AS (
        {_LP_CORPUS_SQL}
        UNION ALL {_lp_branch_sql(_DUP_SHIFT, 'lpa', 0)}
        UNION ALL {_lp_branch_sql(2 * _DUP_SHIFT, 'lpc', 1)}
        UNION ALL {_lp_branch_sql(3 * _DUP_SHIFT, 'lpd', 2, ' WHERE doc_id % 2 = 0')}
    ),
    base AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+1], ' ')
                              for i in range(1, len(t))]) AS sh
        FROM (SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t
              FROM corpus)
    ),
    sigs AS (
        SELECT doc_id, sh,
               [list_min([md5(s || ':' || i) for s in sh]) for i in range(0, 16)] AS sig
        FROM base
    ),
    banded AS (
        SELECT doc_id, sh, b,
               md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS key
        FROM sigs, range(0, 4) t(b)
    ),
    pairs AS MATERIALIZED (
        SELECT a_id, b_id FROM (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
                   ROUND(len(list_intersect(l.sh, r.sh))
                         / len(list_distinct(l.sh || r.sh)), 6) AS j
            FROM banded l
            JOIN banded r ON l.b = r.b AND l.key = r.key
                          AND l.doc_id < r.doc_id
        ) WHERE j >= {_LP_THRESHOLD}
    ),
    edges AS MATERIALIZED (
        SELECT a_id AS s, b_id AS d FROM pairs
        UNION
        SELECT b_id AS s, a_id AS d FROM pairs
    ),
    deg AS (SELECT s, COUNT(*) AS dg FROM edges GROUP BY s)"""

_LP_ORACLE = rf"""
    WITH {_LP_GRAPH_SQL},
    wed AS (
        SELECT e1.s AS a, e2.d AS b, e1.d AS z
        FROM edges e1 JOIN edges e2 ON e2.s = e1.d
        WHERE e1.s < e2.d
    ),
    cand AS (
        SELECT a, b, z FROM wed w
        WHERE NOT EXISTS (SELECT 1 FROM pairs p
                          WHERE p.a_id = w.a AND p.b_id = w.b)
    ),
    sc AS (
        SELECT c.a, c.b, COUNT(*) AS cn,
               CAST(SUM(1000000 // d.dg) AS BIGINT) AS ra
        FROM cand c JOIN deg d ON d.s = c.z
        GROUP BY c.a, c.b
    )
    SELECT a, b, CAST(cn AS BIGINT) AS common_neighbors,
           ra AS ra_micro, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY a ORDER BY ra DESC, b) AS rnk FROM sc)
    WHERE rnk <= 3
"""


def _lp_graph_frames(spark: SparkSession, sf_dir: str):
    """The wedge-injected minhash graph as (pairs, directed edges,
    degrees) — the Spark twin of _LP_GRAPH_SQL, shared by
    link_prediction_ra and graph_assortativity."""
    from ..functions.dedupe import minhash_near_dup_pairs, shingles
    from ..functions.text import normalize_text

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.where(
            (F.col("doc_id") % 5 == 0)
            & (F.length(F.trim(F.col("text"))) > 0)
        )
        .select(
            "doc_id",
            "text",
            F.size(
                F.array_distinct(
                    shingles(normalize_text(F.col("text")), k=2)
                )
            ).alias("nb"),
        )
        .where(F.col("nb") >= _LP_MIN_BIGRAMS)
        # All four corpus branches below derive from base, and each
        # re-evaluates its filter column nb — a full tokenize+shingle
        # pass per branch (4x) on every materialization of the corpus
        # without this cache (r12; same MEMORY_AND_DISK discipline as
        # the miner's staged frames).
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def branch(df: DataFrame, shift: int, prefix: str, j: int) -> DataFrame:
        return df.select(
            (F.col("doc_id") + shift).alias("doc_id"),
            F.expr(
                f"concat(text, ' ', concat_ws(' ',"
                f" transform(sequence(1, nb div 8 + {j}),"
                f" i -> concat('{prefix}_', doc_id, '_', i))))"
            ).alias("text"),
        )

    sel = base.select("doc_id", "text")
    corpus = (
        sel.unionByName(branch(base, _DUP_SHIFT, "lpa", 0))
        .unionByName(branch(base, 2 * _DUP_SHIFT, "lpc", 1))
        .unionByName(
            branch(
                base.where(F.col("doc_id") % 2 == 0),
                3 * _DUP_SHIFT,
                "lpd",
                2,
            )
        )
    )
    pairs = (
        minhash_near_dup_pairs(
            corpus, "doc_id", "text",
            num_hashes=16, bands=4, shingle_k=2,
            jaccard_threshold=_LP_THRESHOLD,
        )
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    e = pairs.select(
        F.col("a_id").alias("s"), F.col("b_id").alias("d")
    ).unionByName(
        pairs.select(F.col("b_id").alias("s"), F.col("a_id").alias("d"))
    ).localCheckpoint(eager=False)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    return pairs, e, deg


@query("link_prediction_ra", oracle=_LP_ORACLE)
def link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the near-dup graph by RESOURCE-ALLOCATION
    scoring (Zhou/Lu/Zhang 2009 — the 1/deg(z) cousin of Adamic-Adar
    that needs NO logarithm, so per-term 10^6 div deg floors are exact
    integers): for every open wedge a-z-b (2-hop non-edge), score
    sum_z 1/deg(z) and keep each node's top-3 predictions — the
    "these two documents are probably dups the LSH missed" candidate
    generator, and on interaction graphs the people-you-may-know
    primitive. Rank ties (score DESC, b ASC) — the deterministic
    top-k rule.

    Graph: MinHash (16 hashes, 4x4 bands, BIGRAM shingles, tau=0.82)
    over a WEDGE-INJECTED corpus — each sampled doc (>= 32 distinct
    bigrams) gets salt-extended branches of nb//8 + j unique tokens,
    making branch<->base Jaccard >= .842 > tau and branch<->branch
    <= .8125 < tau BY CONSTRUCTION at every doc length (bounds
    worked out at _lp_branch_sql; exact Jaccard is engine-identical,
    so the margins are data constants). The first draft used UNIGRAM
    shingles "for richer natural edges" — on this 31-token vocabulary
    unigram shingle sets saturate, every doc near-dups every other,
    and the wedge join went quadratic-dense: at sf0.5 its shuffle
    spill FILLED THE DISK (scale harness, measured). Bigram sets
    don't saturate (961 slots, ~n distinct per doc, zero natural
    cross-doc edges at tau — probed), so the graph is the injected
    stars + genuine near-dups and wedge output is LINEAR in docs.

    Shape at 100 TB: the wedge join is bounded by sum-of-deg^2 —
    linear here because degrees are construction-bounded; on organic
    graphs production caps per-node degree before wedging (drop
    hubs: a 10^6-degree node's wedges are noise), and the top-3 cut
    runs per-node, never a global sort."""
    from pyspark.sql import Window

    pairs, e, deg = _lp_graph_frames(spark, sf_dir)
    wed = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.d") == F.col("e2.s"))
        .where(F.col("e1.s") < F.col("e2.d"))
        .select(
            F.col("e1.s").alias("a"),
            F.col("e2.d").alias("b"),
            F.col("e1.d").alias("z"),
        )
    )
    cand = wed.join(
        pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    sc = (
        cand.join(deg.select(F.col("s").alias("z"), "dg"), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr("1000000 div dg")).alias("ra"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("ra").desc(), F.col("b"))
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "a",
            "b",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("ra").cast("long").alias("ra_micro"),
            F.col("rnk").cast("long").alias("rank"),
        )
    )


_JS_DEPTH = 4
_JS_WIDTH = 4096


def _js_bucket_sql(key: str, j: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({key} AS VARCHAR) || ':cms' || {j}),"
        f" 1, 15))::BIGINT % {_JS_WIDTH}"
    )


_JS_ORACLE = f"""
    WITH rows_j AS (SELECT unnest(range(0, {_JS_DEPTH})) AS j),
    a AS (
        SELECT j, {_js_bucket_sql('user_id', 'j')} AS w, COUNT(*) AS c
        FROM events, rows_j WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    b AS (
        SELECT j, {_js_bucket_sql('o_custkey', 'j')} AS w, COUNT(*) AS c
        FROM orders, rows_j GROUP BY 1, 2
    ),
    dots AS (
        SELECT a.j, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM a JOIN b ON b.j = a.j AND b.w = a.w GROUP BY a.j
    ),
    est AS (SELECT CAST(MIN(dot) AS BIGINT) AS cms_est FROM dots),
    ex AS (
        SELECT CAST(COALESCE(SUM(x.c * y.c), 0) AS BIGINT) AS exact_size
        FROM (SELECT user_id AS k, COUNT(*) AS c FROM events
              WHERE user_id IS NOT NULL GROUP BY user_id) x
        JOIN (SELECT o_custkey AS k, COUNT(*) AS c FROM orders
              GROUP BY o_custkey) y ON y.k = x.k
    )
    SELECT ex.exact_size, est.cms_est,
           CAST(CASE WHEN est.cms_est >= ex.exact_size THEN 1 ELSE 0 END
               AS BIGINT) AS no_undercount,
           CAST((est.cms_est - ex.exact_size) * 1000000 // ex.exact_size
               AS BIGINT) AS overcount_micro
    FROM ex, est
"""


@query("sketch_join_size_cms", oracle=_JS_ORACLE)
def sketch_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from two count-min sketches — the
    pre-join cardinality estimator (AMS/CMS inner-product theorem,
    Cormode & Muthukrishnan 2005): |A join B| = sum_k cA(k)·cB(k) is
    estimated by min_j <CMS_A[j], CMS_B[j]>, which NEVER undercounts
    (every row's dot product >= the true inner product since
    colliding keys only add cross terms) and overcounts by at most
    ~nA·nB/width per row. A planner consults this before choosing a
    join strategy; at 100 TB the sketches are the only thing that
    moves (depth x 4096 cells each), built in one map-side-combined
    aggregate per side — the join itself never runs. The exact
    inner-product branch here is the audit path (the
    systematic_sample_estimate asymmetry): its (key,count) join IS
    the expensive thing production avoids. The no_undercount flag is
    the theorem; the observed overcount (~width-bounded, measured
    0.4x at this width/SF) rides the hash so a broken bucket hash or
    a dropped row flips the output. Width 4096 keeps noise
    (~nA·nB/width) the same order as the true size, so the estimate
    is informative, not saturated (the CMS width-16 query makes the
    opposite choice to force collisions — both documented)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    od = load_table(spark, sf_dir, "orders")
    js = spark.range(_JS_DEPTH).select(F.col("id").cast("int").alias("j"))

    def cms(df: DataFrame, key: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(js))
            .select(
                "j",
                F.expr(
                    f"conv(substring(md5(concat(CAST({key} AS STRING),"
                    f" ':cms', j)), 1, 15), 16, 10) % {_JS_WIDTH}"
                ).cast("long").alias("w"),
            )
            .groupBy("j", "w")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    a, b = cms(ev, "user_id"), cms(od, "o_custkey")
    dots = (
        a.join(b.select("j", "w", F.col("c").alias("c2")), ["j", "w"])
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("long").alias("cms_est"))
    ex = (
        ev.groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .join(
            od.groupBy(F.col("o_custkey").alias("k")).agg(
                F.count(F.lit(1)).alias("c2")
            ),
            "k",
        )
        .agg(
            F.coalesce(F.sum(F.col("c") * F.col("c2")), F.lit(0))
            .cast("long")
            .alias("exact_size")
        )
    )
    return ex.crossJoin(F.broadcast(est)).select(
        "exact_size",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_size"))
        .cast("long")
        .alias("no_undercount"),
        F.expr(
            "CAST((cms_est - exact_size) * 1000000 div exact_size"
            " AS BIGINT)"
        ).alias("overcount_micro"),
    )


_SSSP_ROUNDS = 6


def _sssp_oracle(rounds: int = _SSSP_ROUNDS) -> str:
    """Unrolled Bellman-Ford relaxations (the kcenter/maxcov oracle
    idiom; MATERIALIZED — chained CTEs otherwise re-expand
    exponentially under inlining, the maxcov lesson)."""
    parts = [
        """e AS MATERIALIZED (
        SELECT s.s_nationkey AS sn, c.c_nationkey AS cn,
               MIN(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY s.s_nationkey, c.c_nationkey
    )""",
        "d0 AS MATERIALIZED (SELECT 0 AS node, CAST(0 AS BIGINT) AS dist)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{r - 1}
            UNION ALL
            SELECT e.cn AS node, d.dist + e.w AS dist
            FROM d{r - 1} d JOIN e ON e.sn = d.node
        ) GROUP BY node
    )"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT node, CAST(dist AS BIGINT) AS dist_cents
    FROM d{rounds}
"""


@query("sssp_nation_graph", oracle=_sssp_oracle())
def sssp_nation_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-SOURCE SHORTEST PATHS (Bellman-Ford) over the trade
    graph distilled from the fact tables: nations are nodes, an edge
    sn -> cn carries the MINIMUM line-item cost ever shipped from a
    supplier in sn to a customer in cn, and the query relaxes 6
    rounds from nation 0 — the weighted companion of
    bfs_customer_supplier_reach (hop counts) and the last missing
    classic of the graph family (components / PageRank / k-core /
    LPA / triangles / BFS / walks are all registered). MIN-relaxation
    is order-free, so results are deterministic however partitions
    arrive; all weights exact cents.

    Shape at 100 TB: the fact scan reduces to a nation-grain edge
    list in ONE aggregate (the 10^12-row join feeds a |V|^2-bounded
    frame); each relaxation is then a broadcast-join + hash-min over
    model-sized frontiers, with a lazy localCheckpoint per round
    pinning the frontier so round r+1's lineage doesn't re-run
    rounds 1..r (the pagerank persisted-frame discipline). Six
    rounds bound path length |V|-1 style for this diameter;
    production uses delta-stepping buckets when |V| is large."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(od, od["o_orderkey"] == li["l_orderkey"])
        .join(cu, cu["c_custkey"] == od["o_custkey"])
        .join(su, su["s_suppkey"] == li["l_suppkey"])
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("sn"),
            F.col("c_nationkey").alias("cn"),
        )
        .agg(
            F.min(
                F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
            ).alias("w")
        )
        .localCheckpoint(eager=False)
    )
    dist = spark.range(1).select(
        F.lit(0).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(_SSSP_ROUNDS):
        relaxed = dist.join(
            F.broadcast(edges), dist["node"] == edges["sn"]
        ).select(F.col("cn").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select("node", F.col("dist").cast("long").alias("dist_cents"))


_PATTERN_ORACLE = """
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS dt,
               array_to_string(list(substr(event_type, 1, 1)
                   ORDER BY ts, event_id), '') AS s
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    m AS (
        SELECT user_id, dt, s,
               len(regexp_extract_all(s, 'v[^ep]*p')) AS n_funnels,
               CASE WHEN regexp_matches(s, 'vc*p') THEN 1 ELSE 0 END
                   AS has_strict,
               len(regexp_extract_all(s, 'ee+')) AS n_error_bursts
        FROM seq
    )
    SELECT user_id, dt,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(n_funnels AS BIGINT) AS n_funnels,
           CAST(has_strict AS BIGINT) AS has_strict,
           CAST(n_error_bursts AS BIGINT) AS n_error_bursts
    FROM m
    WHERE n_funnels > 0 OR n_error_bursts > 0
"""


@query("event_pattern_match", oracle=_PATTERN_ORACLE)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE, relationally: per (user, day) the event
    stream collapses to an ordered initial-letter string (v/c/s/e/p
    for view/click/signup/error/purchase — first letters are distinct
    on this taxonomy) and row-pattern predicates become REGEXES over
    it: 'v[^ep]*p' counts error-free view->purchase funnels (the
    excluded-class form: a lazy 'v[^ep]*p' means the same but leans on
    cross-engine lazy-quantifier agreement; excluding p from the class
    pins first-p termination in pure leftmost semantics),
    'vc*p' tests the strict clicks-only path, 'ee+' counts error
    bursts. This is the SQL:2016 row-pattern operator the window
    funnels approximate with per-level MAX — regex backtracking
    expresses reluctant/greedy quantifiers those rollups cannot
    (window_funnel_levels counts level attainment; this counts
    non-overlapping full matches). Order ties break (ts, event_id) —
    the established total-order rule — and both engines' regex
    engines agree on these POSIX-safe patterns (no lookaround, no
    engine-specific classes).

    Shape at 100 TB: one hash aggregate to the (user, day) grain
    with a sort_array-ordered collect (partition-local, bounded by a
    user-day's events), then scan-local regex — no window over raw
    events, no cross-row state machine; the pattern library extends
    by adding columns, not operators."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    seq = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("dt"),
            F.struct("ts", "event_id", F.expr("substring(event_type, 1, 1)").alias("ch")).alias("o"),
        )
        .groupBy("user_id", "dt")
        .agg(
            F.expr(
                "concat_ws('', transform(sort_array(collect_list(o)),"
                " s -> s.ch))"
            ).alias("s")
        )
    )
    m = seq.select(
        "user_id",
        "dt",
        "s",
        F.expr("size(regexp_extract_all(s, 'v[^ep]*p', 0))").alias(
            "n_funnels"
        ),
        F.expr("CASE WHEN s RLIKE 'vc*p' THEN 1 ELSE 0 END").alias(
            "has_strict"
        ),
        F.expr("size(regexp_extract_all(s, 'ee+', 0))").alias(
            "n_error_bursts"
        ),
    )
    return m.where(
        (F.col("n_funnels") > 0) | (F.col("n_error_bursts") > 0)
    ).select(
        "user_id",
        "dt",
        F.length("s").cast("long").alias("n_events"),
        F.col("n_funnels").cast("long").alias("n_funnels"),
        F.col("has_strict").cast("long").alias("has_strict"),
        F.col("n_error_bursts").cast("long").alias("n_error_bursts"),
    )


