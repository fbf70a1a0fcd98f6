"""r8 growth waves: thirteen new engine surfaces, each with an exact
DuckDB oracle.

Wave 1 (planned in NOTES_r7 §"r8 planning"): variant arrays +
try_variant_get NULL paths, WITH RECURSIVE, CMS second moment, interval
endpoint semantics, HLL day-over-day delta. Wave 2: correlated LATERAL
join, DataFrame.observe(), the hidden _metadata column, temperature
mixture weights. Wave 3: mapInArrow (fifth Python-worker surface), CSV
corrupt-record isolation, XML round-trip. Wave 4: streaming
sketch-state maintenance via an idempotent-monoid sink.

Mechanically follows the chunk contract in ``queries/_base.py``;
semantic invariants pinned in ``tests/test_r8_growth.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..schemas import as_nullable
from ..session import apply_runtime_confs, arrow_local_df, load_table
from ..streaming.pipeline import run_available
from ._base import query

# ---------------------------------------------------------------------------
# VARIANT array paths + try_variant_get null semantics (Spark 4 VARIANT)

# One JSON doc per event, built identically on both engines:
#   {"vals": [<floor(value*1e6)>, <event_id % 7>], "tag": "<event_type>"}
# floor(value*1e6) is IEEE-deterministic (one multiply, one floor); the doc
# string is therefore byte-identical cross-engine.
_VARIANT_DOC_SQL = (
    "'{\"vals\":[' || CAST(floor(value * 1000000) AS BIGINT) || ',' || "
    "CAST(event_id % 7 AS BIGINT) || '],\"tag\":\"' || event_type || '\"}'"
)

_VARIANT_ARRAY_ORACLE = f"""
    WITH docs AS (
        SELECT event_type, {_VARIANT_DOC_SQL} AS doc
        FROM events WHERE value IS NOT NULL
    ),
    ext AS (
        SELECT event_type,
               CAST(json_extract(doc, '$.vals[1]') AS BIGINT) AS val1,
               CAST(json_extract(doc, '$.vals[5]') AS BIGINT) AS val_oob,
               TRY_CAST(json_extract_string(doc, '$.tag') AS BIGINT)
                   AS tag_as_int,
               json_extract_string(doc, '$.missing') AS missing_str
        FROM docs
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(val1) AS BIGINT) AS sum_val1,
           CAST(COUNT(*) - COUNT(val_oob) AS BIGINT) AS n_null_oob,
           CAST(COUNT(*) - COUNT(tag_as_int) AS BIGINT) AS n_null_cast,
           CAST(COUNT(*) - COUNT(missing_str) AS BIGINT) AS n_null_missing
    FROM ext
    GROUP BY event_type
"""


@query("variant_array_paths", oracle=_VARIANT_ARRAY_ORACLE)
def variant_array_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ARRAY PATHS + try_variant_get NULL SEMANTICS — the
    second half of the Spark 4 VARIANT surface (props_variant_extract
    covers scalar keys; this covers array indexing and every NULL
    path a shredded-JSON pipeline must define). Each event renders a
    JSON doc with a 2-element int array and a string tag; parse_json
    runs ONCE per row and four typed extractions share the variant:

    - ``variant_get($.vals[1])`` — in-bounds array index, typed hit;
    - ``try_variant_get($.vals[5])`` — OUT-OF-BOUNDS index: NULL,
      never an error (the "schema drifted under me" production case);
    - ``try_variant_get($.tag, bigint)`` — TYPE-MISMATCHED cast of a
      non-numeric string: NULL under try semantics;
    - ``try_variant_get($.missing)`` — absent key: NULL.

    The aggregate counts each NULL class per event_type, so a single
    wrongly-erroring or wrongly-non-NULL path flips the hash. The
    oracle replays the same doc construction and extraction through
    DuckDB's JSON functions (json_extract on a missing path is NULL;
    TRY_CAST models the try-cast path).

    Shape at 100 TB: parse_json once + N projections is the shredding
    idiom — the variant binary is columnar-cached, extractions are
    codegen'd, and NO Python touches the row. One narrow projection,
    one map-side-combinable hash aggregate keyed by event_type."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    doc = F.expr(
        "concat('{\"vals\":[', CAST(floor(value * 1000000) AS BIGINT),"
        " ',', CAST(event_id % 7 AS BIGINT), '],\"tag\":\"', event_type,"
        " '\"}')"
    )
    v = F.parse_json(doc)
    ext = events.select(
        "event_type",
        F.variant_get(v, "$.vals[1]", "bigint").alias("val1"),
        F.try_variant_get(v, "$.vals[5]", "bigint").alias("val_oob"),
        F.try_variant_get(v, "$.tag", "bigint").alias("tag_as_int"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_str"),
    )
    return ext.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("val1").cast("long").alias("sum_val1"),
        (F.count(F.lit(1)) - F.count("val_oob")).cast("long")
        .alias("n_null_oob"),
        (F.count(F.lit(1)) - F.count("tag_as_int")).cast("long")
        .alias("n_null_cast"),
        (F.count(F.lit(1)) - F.count("missing_str")).cast("long")
        .alias("n_null_missing"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE over the decimal-digit BOM tree (Spark 4 WITH RECURSIVE)

_RECURSIVE_BOM_ORACLE = """
    WITH RECURSIVE node AS (
        SELECT p_partkey + 1 AS id,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
    ),
    walk AS (
        SELECT id, cents AS path_cents, 1 AS depth
        FROM node WHERE id BETWEEN 1 AND 9
        UNION ALL
        SELECT n.id, w.path_cents + n.cents, w.depth + 1
        FROM node n JOIN walk w ON n.id // 10 = w.id
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(path_cents) AS BIGINT) AS sum_path_cents,
           CAST(MAX(path_cents) AS BIGINT) AS max_path_cents
    FROM walk
    GROUP BY depth
"""


@query("recursive_cte_bom", oracle=_RECURSIVE_BOM_ORACLE)
def recursive_cte_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE SQL — ``WITH RECURSIVE`` root-to-leaf walk over the
    decimal-digit part tree (parent(k) = k div 10, ids shifted +1;
    same hierarchy as bom_hierarchy_rollup, OPPOSITE traversal).
    bom_hierarchy_rollup aggregates each node's DESCENDANTS with an
    arithmetic ancestor explode — zero iteration, because the
    ancestor chain is computable. Root-to-leaf PATH SUMS (each node's
    cumulative price from its root) are the inverse problem: a node's
    path sum depends on its parent's, so the dependency chain runs
    DOWN the tree and genuinely needs iteration — the recursive CTE
    seeds the 9 roots and joins one level of children per round.

    This is the first recursive-CTE query in the registry (Spark 4's
    WITH RECURSIVE), and its semantics are pinned against DuckDB's
    native recursive CTE running the nearly-verbatim SQL: per-depth
    node counts, exact-integer path-sum totals, and the max path sum
    (a longest-root-to-node-price witness).

    Shape at 100 TB: rounds = tree DEPTH (log10 of the key space — 8
    here), never data-sized; each round is one equi-join of the next
    level against the frontier, partitioned on the join key. Frontier
    rows are (id, path_cents, depth) — no per-node history
    accumulates. Compare bfs_customer_supplier_reach: same bounded-
    rounds discipline, hand-rolled loop; here the ENGINE owns the
    loop (UnionLoop in the plan) and AQE sizes each round's join."""
    part = load_table(spark, sf_dir, "part")
    part.select(
        (F.col("p_partkey") + 1).alias("id"),
        F.expr("CAST(floor(p_retailprice * 100) AS BIGINT)").alias("cents"),
    ).createOrReplaceTempView("_bom_node")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT id, cents AS path_cents, 1 AS depth
            FROM _bom_node WHERE id BETWEEN 1 AND 9
            UNION ALL
            SELECT n.id, w.path_cents + n.cents, w.depth + 1
            FROM _bom_node n JOIN walk w ON n.id div 10 = w.id
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(path_cents) AS BIGINT) AS sum_path_cents,
               CAST(MAX(path_cents) AS BIGINT) AS max_path_cents
        FROM walk
        GROUP BY depth
        """
    )


# ---------------------------------------------------------------------------
# CMS self-inner-product: second frequency moment (F2) / self-join sizing

_F2_DEPTH = 4
_F2_WIDTH = 4096


def _f2_bucket_sql(key: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({key} AS VARCHAR) || ':f2' || j),"
        f" 1, 15))::BIGINT % {_F2_WIDTH}"
    )


_F2_ORACLE = f"""
    WITH rows_j AS (SELECT unnest(range(0, {_F2_DEPTH})) AS j),
    cms AS (
        SELECT j, {_f2_bucket_sql('user_id')} AS w, COUNT(*) AS c
        FROM events, rows_j WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    dots AS (SELECT j, CAST(SUM(c * c) AS BIGINT) AS dot FROM cms GROUP BY j),
    est AS (SELECT CAST(MIN(dot) AS BIGINT) AS f2_est FROM dots),
    ex AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact,
               CAST(MAX(c) AS BIGINT) AS max_freq,
               CAST(SUM(c) AS BIGINT) AS n_rows
        FROM (SELECT COUNT(*) AS c FROM events
              WHERE user_id IS NOT NULL GROUP BY user_id)
    )
    SELECT ex.f2_exact, est.f2_est, ex.max_freq, ex.n_rows,
           CAST(CASE WHEN est.f2_est >= ex.f2_exact THEN 1 ELSE 0 END
               AS BIGINT) AS no_undercount,
           CAST((est.f2_est - ex.f2_exact) * 1000000 // ex.f2_exact
               AS BIGINT) AS overcount_micro
    FROM ex, est
"""


@query("cms_self_join_f2", oracle=_F2_ORACLE)
def cms_self_join_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND FREQUENCY MOMENT (F2) from a count-min sketch — the
    skew detector. F2 = sum_k c(k)^2 is exactly the user-level
    SELF-join size: the number a planner needs before it dares
    ``events JOIN events ON user_id`` (sessionization pair analysis,
    co-visitation) and the canonical skew statistic (F2 >> n^2/|keys|
    means salting territory). The CMS estimates it by the self inner
    product min_j <CMS_j, CMS_j> — the j-th row's dot with ITSELF —
    which never undercounts (cross terms are non-negative) and
    overcounts by ~n^2/width per row (AMS/CMS inner-product theorem,
    Cormode & Muthukrishnan 2005). sketch_join_size_cms sizes an
    A-JOIN-B on one column pair; this is the second pair planned in
    NOTES_r7 — (events.user_id x events.user_id) — and the
    qualitatively different regime: self-products square the heavy
    keys, so collision noise concentrates where skew lives, and the
    estimate degrades EXACTLY when the answer matters most (the
    overcount_micro column measures that, riding the hash).

    max_freq is the exact heaviest-key witness (the l-infinity bound
    CMS point queries promise within eps*n), n_rows anchors both.

    Shape at 100 TB: the sketch is depth x 4096 cells built by one
    map-side-combined aggregate; the exact branch (per-key counts,
    then one sum of squares) is the audit path — a hash aggregate on
    the key, model-free, no join at all. Nothing driver-sized; the
    self-join itself NEVER runs."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    js = spark.range(_F2_DEPTH).select(F.col("id").cast("int").alias("j"))
    cms = (
        ev.crossJoin(F.broadcast(js))
        .select(
            "j",
            F.expr(
                f"conv(substring(md5(concat(CAST(user_id AS STRING),"
                f" ':f2', j)), 1, 15), 16, 10) % {_F2_WIDTH}"
            ).cast("long").alias("w"),
        )
        .groupBy("j", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = (
        cms.groupBy("j")
        .agg(F.sum(F.col("c") * F.col("c")).alias("dot"))
        .agg(F.min("dot").cast("long").alias("f2_est"))
    )
    ex = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
            F.max("c").cast("long").alias("max_freq"),
            F.sum("c").cast("long").alias("n_rows"),
        )
    )
    return ex.crossJoin(F.broadcast(est)).select(
        "f2_exact",
        "f2_est",
        "max_freq",
        "n_rows",
        (F.col("f2_est") >= F.col("f2_exact")).cast("long")
        .alias("no_undercount"),
        F.expr(
            "CAST((f2_est - f2_exact) * 1000000 div f2_exact AS BIGINT)"
        ).alias("overcount_micro"),
    )


# ---------------------------------------------------------------------------
# Interval endpoint semantics: closed / half-open / open overlap variants

_ENDPOINT_GAP_MIN = 60

_ENDPOINT_ORACLE = f"""
    WITH ev AS (
        SELECT user_id, ts,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               event_type
        FROM events WHERE user_id IS NOT NULL
    ),
    gaps AS (
        SELECT user_id, sec,
               CASE WHEN sec - LAG(sec) OVER w > {_ENDPOINT_GAP_MIN * 60}
                    OR LAG(sec) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY sec)
    ),
    sess AS (
        SELECT user_id, sec,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    ),
    ivl AS (
        SELECT user_id, sid, MIN(sec) AS s, MAX(sec) AS e
        FROM sess GROUP BY user_id, sid
    ),
    err AS (SELECT user_id, sec FROM ev WHERE event_type = 'error')
    SELECT
        CAST(SUM(CASE WHEN err.sec >= ivl.s AND err.sec <= ivl.e
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
        CAST(SUM(CASE WHEN err.sec >= ivl.s AND err.sec < ivl.e
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_half_open,
        CAST(SUM(CASE WHEN err.sec > ivl.s AND err.sec < ivl.e
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        CAST(SUM(CASE WHEN err.sec = ivl.s THEN 1 ELSE 0 END) AS BIGINT)
            AS n_start_ties,
        CAST(SUM(CASE WHEN err.sec = ivl.e THEN 1 ELSE 0 END) AS BIGINT)
            AS n_end_ties
    FROM err JOIN ivl ON ivl.user_id = err.user_id
    WHERE err.sec >= ivl.s - 1 AND err.sec <= ivl.e + 1
"""


@query("interval_endpoint_semantics", oracle=_ENDPOINT_ORACLE)
def interval_endpoint_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP ENDPOINT SEMANTICS — the same error-in-session
    range join computed under all three endpoint conventions at once:
    closed [s,e], half-open [s,e), open (s,e). Sessions are min/max
    second bounds of 60-minute-gap islands, so an error that STARTS
    or ENDS its own session ties an endpoint exactly — the rows on
    which the three conventions disagree. Every real range-join bug
    report is an endpoint bug (billing periods, validity intervals,
    watermark cutoffs); this query makes the divergence a FIRST-CLASS
    measured output instead of a footnote: n_closed - n_half_open
    must equal n_end_ties and n_half_open - n_open must equal
    n_start_ties minus start==end degenerates, and the hash pins all
    five counts. range_join_errors_in_sessions picks ONE convention
    and scales it; this one audits the choice.

    The candidate pass is a single equi-join on user_id with a +-1s
    residual band (sessions belong to their user, so the join never
    crosses users); all three conventions and both tie counts come
    from ONE pass over the joined rows — conditional aggregation, not
    three joins. Timestamps compare as floor-epoch whole seconds on
    both engines (determinism rule #11).

    Shape at 100 TB: sessionization is the windowed gaps-and-islands
    scan (one shuffle on user_id); the join is user-partitioned and
    the residual is scan-local; the output is ONE row — conditional
    aggregation makes endpoint auditing free relative to the join it
    audits."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 1000000").alias("sec"),
            "event_type",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("sec")
    sess = (
        ev.withColumn(
            "brk",
            F.when(
                F.col("sec") - F.lag("sec").over(w)
                > _ENDPOINT_GAP_MIN * 60,
                1,
            )
            .when(F.lag("sec").over(w).isNull(), 1)
            .otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("sec").alias("s"), F.max("sec").alias("e"))
    )
    err = ev.where(F.col("event_type") == "error").select("user_id", "sec")
    joined = err.join(sess, "user_id").where(
        (F.col("sec") >= F.col("s") - 1) & (F.col("sec") <= F.col("e") + 1)
    )
    return joined.agg(
        F.sum(
            ((F.col("sec") >= F.col("s")) & (F.col("sec") <= F.col("e")))
            .cast("long")
        ).cast("long").alias("n_closed"),
        F.sum(
            ((F.col("sec") >= F.col("s")) & (F.col("sec") < F.col("e")))
            .cast("long")
        ).cast("long").alias("n_half_open"),
        F.sum(
            ((F.col("sec") > F.col("s")) & (F.col("sec") < F.col("e")))
            .cast("long")
        ).cast("long").alias("n_open"),
        F.sum((F.col("sec") == F.col("s")).cast("long")).cast("long")
        .alias("n_start_ties"),
        F.sum((F.col("sec") == F.col("e")).cast("long")).cast("long")
        .alias("n_end_ties"),
    )


# ---------------------------------------------------------------------------
# HLL day-over-day NEW-visitor delta (register-level cumulative merge)

_HD_M = 64
_HD_SCALE_BITS = 30
_HD_NUM = 709 * _HD_M * _HD_M * (1 << _HD_SCALE_BITS)


def _hd_est_sql(m_col: str) -> str:
    """Estimate over a (d, bucket, m) grid group — NULL m = empty reg."""
    return (
        f"CAST({_HD_NUM} // (1000 * ("
        f"SUM(CASE WHEN {m_col} IS NULL OR {m_col} > {_HD_SCALE_BITS} THEN 0"
        f" ELSE (1::BIGINT << ({_HD_SCALE_BITS} - {m_col})) END)"
        f" + (COUNT(*) - COUNT({m_col}))"
        f" * (1::BIGINT << {_HD_SCALE_BITS}))) AS BIGINT)"
    )


_HLL_DELTA_ORACLE = f"""
    WITH h AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    daily AS (
        SELECT d, hv % {_HD_M} AS bucket,
               MAX(CASE WHEN hv // {_HD_M} = 0 THEN 55
                   ELSE 55 - length(bin(hv // {_HD_M})) END) AS m
        FROM h GROUP BY d, hv % {_HD_M}
    ),
    grid AS (
        SELECT days.d, b.bucket, daily.m
        FROM (SELECT DISTINCT d FROM daily) days
        CROSS JOIN (SELECT unnest(range(0, {_HD_M})) AS bucket) b
        LEFT JOIN daily ON daily.d = days.d AND daily.bucket = b.bucket
    ),
    cum AS (
        SELECT d, bucket,
               MAX(m) OVER (PARTITION BY bucket ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS m_incl,
               MAX(m) OVER (PARTITION BY bucket ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS m_excl
        FROM grid
    ),
    ests AS (
        SELECT d, {_hd_est_sql('m_incl')} AS est_incl,
               {_hd_est_sql('m_excl')} AS est_excl
        FROM cum GROUP BY d
    ),
    first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    exact_new AS (
        SELECT d0 AS d, COUNT(*) AS exact_new FROM first_seen GROUP BY d0
    )
    SELECT ests.d AS dt,
           CAST(ests.est_incl - ests.est_excl AS BIGINT) AS hll_new_est,
           CAST(COALESCE(exact_new.exact_new, 0) AS BIGINT) AS exact_new
    FROM ests LEFT JOIN exact_new ON exact_new.d = ests.d
    WHERE ests.d > (SELECT MIN(d) FROM daily)
"""


@query("hll_new_visitors_delta", oracle=_HLL_DELTA_ORACLE)
def hll_new_visitors_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL DAY-OVER-DAY DELTA — estimated NEW visitors per day as
    |HLL(days <= d)| - |HLL(days < d)|, computed entirely from stored
    daily register vectors. This is the question dashboards actually
    ask of cardinality state ("how many of today's visitors are
    new?"), and the only form a mergeable sketch can answer it in:
    HLLs union (register MAX) but never subtract, so "new" must be
    the DIFFERENCE OF TWO UNION ESTIMATES — each unbiased, their
    difference noisy at ~1.04/sqrt(64) of the PREFIX cardinality, not
    of the delta. The exact first-seen count per day rides alongside
    so the hash pins both the estimator and the honest caveat (the
    estimate can even go negative on a quiet day; sketches answer
    prefix questions well and delta questions only approximately —
    that measured gap IS the query's finding, the reason heavy-hitter
    days need the exact path).

    Register plumbing: per-(day, bucket) MAX-rho registers (the
    sketch_hll_merge_daily state), completed to a days x 64 GRID so
    buckets silent on a day still carry their prefix value, then a
    cumulative MAX window per bucket gives every day's inclusive and
    exclusive prefix registers in one pass — no day-at-a-time loop,
    no re-reading history. Empty/NULL registers contribute the
    2^scale zero-register term exactly like the merge-estimate
    formula (same integer pipeline as sketch_hll_visitors; first day
    excluded — its exclusive prefix is the empty sketch, raw-regime
    garbage by construction).

    Shape at 100 TB: daily register state is days x 64 ints per key —
    model-sized; the grid completion is |days| x 64 rows; windows
    partition by bucket (64 partitions of |days| rows). The events
    scan happens ONCE (register build); the exact branch is one
    (user, min-day) hash aggregate, the audit path a production run
    samples rather than pays in full."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    daily = (
        events.select(F.to_date("ts").alias("d"), h.alias("hv"))
        .select(
            "d",
            (F.col("hv") % _HD_M).alias("bucket"),
            F.when(F.expr(f"hv div {_HD_M}") == 0, F.lit(55))
            .otherwise(
                F.lit(55) - F.length(F.bin(F.expr(f"hv div {_HD_M}")))
            )
            .alias("rho"),
        )
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    days = daily.select("d").distinct()
    buckets = spark.range(_HD_M).select(
        F.col("id").cast("long").alias("bucket")
    )
    grid = days.crossJoin(F.broadcast(buckets)).join(
        daily, ["d", "bucket"], "left"
    )
    from pyspark.sql import Window

    wb = Window.partitionBy("bucket").orderBy("d")
    cum = grid.select(
        "d",
        "bucket",
        F.max("m").over(wb.rowsBetween(Window.unboundedPreceding, 0))
        .alias("m_incl"),
        F.max("m").over(wb.rowsBetween(Window.unboundedPreceding, -1))
        .alias("m_excl"),
    )

    def est(m_col: str) -> Column:
        return F.expr(
            f"CAST({_HD_NUM} div (1000 * ("
            f"SUM(CASE WHEN {m_col} IS NULL OR {m_col} > {_HD_SCALE_BITS}"
            f" THEN CAST(0 AS BIGINT)"
            f" ELSE shiftleft(CAST(1 AS BIGINT),"
            f" CAST({_HD_SCALE_BITS} - {m_col} AS INT)) END)"
            f" + (COUNT(1) - COUNT({m_col}))"
            f" * shiftleft(CAST(1 AS BIGINT), {_HD_SCALE_BITS})))"
            f" AS BIGINT)"
        )

    ests = cum.groupBy("d").agg(
        est("m_incl").alias("est_incl"), est("m_excl").alias("est_excl")
    )
    exact_new = (
        events.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d0"))
        .groupBy(F.col("d0").alias("d"))
        .agg(F.count(F.lit(1)).alias("exact_new"))
    )
    first_day = daily.agg(F.min("d").alias("d_min"))
    return (
        ests.join(exact_new, "d", "left")
        .crossJoin(F.broadcast(first_day))
        .where(F.col("d") > F.col("d_min"))
        .select(
            F.col("d").alias("dt"),
            (F.col("est_incl") - F.col("est_excl")).cast("long")
            .alias("hll_new_est"),
            F.coalesce(F.col("exact_new"), F.lit(0)).cast("long")
            .alias("exact_new"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 2: lateral join, observe() metrics, _metadata audit, temperature mix

_LATERAL_TOPK_ORACLE = """
    SELECT n.n_name AS nation, t.c_custkey AS custkey, t.c_acctbal AS acctbal
    FROM nation n JOIN LATERAL (
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 3
    ) t ON TRUE
"""


@query("lateral_join_topk", oracle=_LATERAL_TOPK_ORACLE)
def lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED LATERAL JOIN — top-3 customers by balance PER NATION
    via ``JOIN LATERAL (... ORDER BY ... LIMIT 3)``, the SQL surface
    that expresses per-row/per-group subqueries directly (Spark 4
    lateral subquery join; DuckDB runs the same SQL natively as the
    oracle). Semantically identical to the window row_number top-k
    (window_topk_per_media), but the ENGINE owns the decorrelation:
    Catalyst rewrites the correlated limit into a partitioned window
    under DecorrelateInnerQuery instead of executing the subquery once
    per outer row — the same nested-loop-to-hash rewrite the
    min_cost_supplier_q2 scalar subquery pins, extended to multi-row
    TABLE subqueries. Ties break on c_custkey so the top-3 set is
    deterministic; acctbal is a per-row double (no aggregation — rule:
    per-row doubles compare bit-exact cross-engine).

    Shape at 100 TB: the rewritten plan is one shuffle of customer on
    nationkey + WindowGroupLimit (rank <= 3 pushed into the sort) +
    broadcast of the 25-row nation dim — NOT 25 correlated scans. A
    lateral join that survives decorrelation into per-outer-row
    execution would be the scale bug; the differential hash plus the
    plan pin in tests/test_plans.py guard the rewrite."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_custkey AS custkey,
               t.c_acctbal AS acctbal
        FROM _lat_nation n JOIN LATERAL (
            SELECT c_custkey, c_acctbal FROM _lat_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) t
        """
    )


_OBSERVE_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_users,
           CAST(SUM(CAST(floor(value * 1000000) AS DECIMAL(25,0)))
               AS BIGINT) AS sum_value_micro,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
"""


@query("observe_metrics_audit", oracle=_OBSERVE_ORACLE)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe()`` — data-quality metrics collected as a
    SIDE EFFECT of a pass the pipeline already runs, not a second
    scan. The production pattern: every bronze->silver batch observes
    row counts, null rates, and checksums, and the orchestrator alarms
    on drift WITHOUT doubling the I/O (observe metrics ride the
    executors' accumulator channel; a separate audit query would
    re-read the table). Here the observed pass is a per-type count
    (the kind of aggregate a silver step computes anyway); the
    returned row carries the OBSERVED totals — row count, null-user
    count, exact DECIMAL-routed value checksum — plus the distinct
    type count computed from the pass's own output, and the oracle
    recomputes all four from the raw table: the hash proves the
    accumulator channel loses nothing (a dropped partition's metrics
    or a double-counted retry would flip it).

    Shape at 100 TB: zero extra scans, metric state is a handful of
    accumulators merged on the driver; the collected per-type frame is
    |event_type|-sized (model-sized census collect, bound stated)."""
    from pyspark.sql import Observation

    obs = Observation("silver_quality")
    ev = load_table(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_users"),
        F.sum(
            F.expr("CAST(floor(value * 1000000) AS DECIMAL(25,0))")
        ).alias("sum_value_micro"),
    )
    # The observed pass: a per-type census (<= |event_type| rows).
    per_type = ev.groupBy("event_type").count().collect()
    got = obs.get
    return arrow_local_df(
        spark,
        [
            (
                int(got["n_rows"]),
                int(got["n_null_users"]),
                int(got["sum_value_micro"]),
                len(per_type),
            )
        ],
        "n_rows long, n_null_users long, sum_value_micro long, n_types long",
    )


_FILE_METADATA_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(1 AS BIGINT) AS path_consistent
    FROM events
    GROUP BY event_type
"""


@query("file_metadata_audit", oracle=_FILE_METADATA_ORACLE)
def file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN ``_metadata`` FILE COLUMN — lineage audit of a
    partitioned write through the file-source metadata struct. The
    engine writes events Hive-partitioned by event_type, reads the
    directory back selecting ``_metadata.file_path`` alongside the
    data, re-derives each row's partition value FROM ITS FILE PATH,
    and checks path-derived == column-derived for every row while
    re-counting rows and distinct ids per partition. This is the
    post-write audit a 100 TB pipeline runs after every backfill:
    rows landed in the wrong partition directory (the classic
    dynamic-partition bug) are detectable ONLY by joining file
    identity against row content — exactly what _metadata exposes
    without a filename() UDF or input_file_name()'s whole-stage
    restrictions. The oracle recomputes the per-type counts from the
    source table and pins path_consistent=1: a misplaced row flips
    the flag; a lost or duplicated row flips the counts.

    Shape at 100 TB: _metadata is generated per-file by the scan (no
    shuffle, no extra I/O); the audit aggregate is one map-side-
    combinable hash agg keyed by partition value. The audit write
    here targets a session temp dir; the collected result is
    |event_type|-sized (model-sized, bound stated)."""
    import tempfile

    out = tempfile.mkdtemp(prefix="wistia_fmeta_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).select(
        "event_id",
        "event_type",
        F.regexp_extract(
            F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
        ).alias("path_type"),
    )
    audit = (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct("event_id").cast("long").alias("n_ids"),
            F.min(
                (F.col("path_type") == F.col("event_type")).cast("long")
            ).alias("path_consistent"),
        )
        .collect()
    )
    return arrow_local_df(
        spark,
        [
            (r["event_type"], r["n_rows"], r["n_ids"], r["path_consistent"])
            for r in sorted(audit, key=lambda r: r["event_type"])
        ],
        "event_type string, n_rows long, n_ids long, path_consistent long",
    )


_TEMPERATURE_ORACLE = """
    WITH src AS (
        SELECT source, COUNT(*) AS c FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, c,
               CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS wgt
        FROM src
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(wgt) AS BIGINT) AS tw
        FROM w
    )
    SELECT w.source,
           CAST(w.c AS BIGINT) AS n_docs,
           w.wgt AS weight,
           CAST(w.c * 1000000 // tot.tc AS BIGINT) AS share_raw_micro,
           CAST(w.wgt * 1000000 // tot.tw AS BIGINT) AS share_temp_micro,
           CAST(CASE WHEN w.wgt * tot.tc > w.c * tot.tw
                THEN 1 ELSE 0 END AS BIGINT) AS upweighted
    FROM w, tot
"""


@query("temperature_mixture_weights", oracle=_TEMPERATURE_ORACLE)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED MIXTURE WEIGHTS — the data-mixing step of
    every large pretraining corpus (GPT-3 / LLaMA style): per-source
    sampling shares proportional to c^tau with tau=1/2, flattening the
    source distribution so giant crawl domains stop drowning small
    high-quality ones. tau=1/2 is chosen deliberately: sqrt is the ONE
    fractional power IEEE 754 requires to be correctly rounded, so
    floor(sqrt(c)) is bit-identical cross-engine where a pow(c, 0.7)
    would be last-ulp territory — the weight column stays exact-
    integer and every share is integer cross-multiplication from
    there (the upweighted flag is w_i*T_c > c_i*T_w, fraction-free).
    Consumes mixture_epochs' input side (this query derives the
    weights; mixture_epochs applies a given weight vector — together
    they are the full mixing pipeline).

    Shape at 100 TB: one hash aggregate to |sources| rows, integer
    arithmetic against two broadcast totals; nothing data-sized
    leaves the executors."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "wgt",
            F.expr("CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)"),
        )
    )
    tot = w.agg(
        F.sum("c").cast("long").alias("tc"),
        F.sum("wgt").cast("long").alias("tw"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("c").cast("long").alias("n_docs"),
        F.col("wgt").alias("weight"),
        F.expr("CAST(c * 1000000 div tc AS BIGINT)").alias(
            "share_raw_micro"
        ),
        F.expr("CAST(wgt * 1000000 div tw AS BIGINT)").alias(
            "share_temp_micro"
        ),
        F.expr(
            "CAST(CASE WHEN wgt * tc > c * tw THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("upweighted"),
    )


# ---------------------------------------------------------------------------
# Wave 3: mapInArrow surface, CSV corrupt-record isolation, XML round-trip

_NORM_SCALE = 1 << 40

_ARROW_NORM_ORACLE = f"""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dims,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                          * {_NORM_SCALE}) AS BIGINT)
           )) AS BIGINT) AS norm2_scaled
    FROM embeddings
"""


@query("embedding_norms_arrow", oracle=_ARROW_NORM_ORACLE)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — a Python-worker surface next to mapInPandas,
    applyInPandas and cogroup-applyInPandas (README inventory):
    RecordBatches cross the Arrow boundary with NO pandas
    materialization, the cheapest possible Python hop for numeric
    kernels. The kernel computes each
    embedding's scaled squared L2 norm straight off the Arrow list
    layout — values buffer -> one vectorized multiply, list offsets ->
    one ``np.add.reduceat`` — never building per-row Python objects
    (the flatten+offsets idiom is THE pattern for list columns; a
    to_pandas() here would allocate 64-element ndarrays per row).

    Exactness: each float32-squared product is EXACT in float64 (53
    bits hold a 24-bit significand squared), so per-element
    floor(x*x * 2^40) is engine-stable, and the row sum is an INTEGER
    sum — order-free, immune to numpy's pairwise-vs-sequential
    summation difference that makes raw float norms hash-unstable.
    The oracle replays the identical per-element pipeline through
    DuckDB list functions.

    Shape at 100 TB: embarrassingly parallel scan -> Arrow batch ->
    kernel; no shuffle, no state, output one narrow row per vector.
    The norm table is the input ANN/IVF indexes precompute once."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            arr = batch.column(batch.schema.get_field_index("embedding"))
            flat = arr.flatten().to_numpy(zero_copy_only=False).astype(
                "float64"
            )
            lens = pc.list_value_length(arr).to_numpy().astype("int64")
            starts = np.zeros(len(lens), dtype="int64")
            np.cumsum(lens[:-1], out=starts[1:])
            prod = np.floor(flat * flat * float(_NORM_SCALE)).astype(
                "int64"
            )
            sums = np.add.reduceat(prod, starts)
            vid = batch.column(
                batch.schema.get_field_index("vec_id")
            ).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vid, type=pa.int64()),
                    pa.array(lens),
                    pa.array(sums),
                ],
                names=["vec_id", "dims", "norm2_scaled"],
            )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return emb.mapInArrow(
        kernel, "vec_id long, dims long, norm2_scaled long"
    )


_CSV_N_CORRUPT = 3

_CSV_CORRUPT_ORACLE = f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(event_id) AS BIGINT) AS n_parsed_ids
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__corrupt__' AS event_type, CAST({_CSV_N_CORRUPT} AS BIGINT)
        AS n_rows, CAST(0 AS BIGINT) AS n_parsed_ids
"""


@query("csv_corrupt_records", oracle=_CSV_CORRUPT_ORACLE)
def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV SOURCE with PERMISSIVE corrupt-record isolation — the
    format-breadth row of the source family (JSON has it via
    schemas.py; this proves the same contract on CSV, the format
    every vendor drop actually arrives in). The engine round-trips
    events through a CSV directory, injects {_CSV_N_CORRUPT}
    deterministic malformed lines (unparseable event_id) as an extra
    file in the same directory — the classic "one bad file in the
    drop" incident — and reads back with an explicit schema,
    PERMISSIVE mode, and a named corrupt-record column. Every good
    row must survive with its type intact; every bad line must land
    in the corrupt column, NOT kill the job (FAILFAST) and NOT
    silently vanish (DROPMALFORMED) — the per-type counts plus the
    corrupt count are hash-pinned against the parquet source, so a
    row lost or misparsed either way flips the result.

    The load-bearing subtlety (found live by this query's first
    differential run): CSV COLUMN PRUNING scopes malformation to the
    columns the query actually reads — with event_id pruned, its
    failed LONG conversion never executes and the bad lines sail
    through as (null, 'mystery') with NO corrupt marker. The audit
    therefore counts parsed event_ids per group (n_parsed_ids), which
    both forces the conversion into the scan and asserts the corrupt
    group parsed zero ids — the production rule: a corrupt-record
    audit must PROJECT every column whose parse it claims to check.

    Shape at 100 TB: schema-explicit CSV scans parallelize per file
    split like any other source. The audit aggregate is one
    map-side-combinable count keyed by type."""
    import os
    import tempfile

    out = tempfile.mkdtemp(prefix="wistia_csv_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    ev.write.mode("overwrite").option("header", "false").csv(out)
    bad = "\n".join(
        f"not_a_long_{i},mystery" for i in range(_CSV_N_CORRUPT)
    )
    with open(os.path.join(out, "extra-vendor-drop.csv"), "w") as fh:
        fh.write(bad + "\n")
    back = (
        spark.read.schema(
            "event_id long, event_type string, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    return (
        back.select(
            F.when(F.col("_corrupt").isNotNull(), F.lit("__corrupt__"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            "event_id",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("event_id").cast("long").alias("n_parsed_ids"),
        )
    )


_XML_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 1000000) AS DECIMAL(25,0)))
               AS BIGINT) AS sum_value_micro
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
"""


@query("xml_roundtrip_audit", oracle=_XML_ROUNDTRIP_ORACLE)
def xml_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML SOURCE/SINK round-trip (Spark 4 built-in XML format) — the
    last first-class file format in the engine's source inventory
    (parquet, JSON, CSV, ORC-capable writers, now XML: the format
    enterprise feeds and sitemap/catalog drops still arrive in). The
    engine writes events as <row> elements under a root tag, reads
    the directory back with an explicit schema, and hash-pins
    per-type counts plus the exact DECIMAL-routed value checksum
    against the parquet source — a value corrupted by the XML text
    round-trip (precision loss, whitespace handling, escaping) or a
    row dropped by the reader flips the hash. value crosses as a
    pre-scaled BIGINT (floor(value*1e6), IEEE-deterministic) so the
    audit never depends on double->text->double round-tripping —
    the same string-bridge discipline as determinism rule "money
    sums" (NOTES_r7).

    Shape at 100 TB: XML files split per-file (rowTag framing), the
    audit is one hash aggregate; nothing driver-sized. XML is the
    interchange slot, not the analytics layout — the query documents
    the boundary, parquet stays the engine-native format."""
    import tempfile

    out = tempfile.mkdtemp(prefix="wistia_xml_")
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias(
            "value_micro"
        ),
    )
    ev.write.format("xml").option("rootTag", "events").option(
        "rowTag", "event"
    ).mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_type string, value_micro long")
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("value_micro").cast("long").alias("sum_value_micro"),
    )


# ---------------------------------------------------------------------------
# Wave 4: streaming sketch-state maintenance (idempotent-monoid sink)

_STREAM_HLL_ORACLE = f"""
    WITH h AS (
        SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
        SELECT hv % {_HD_M} AS bucket,
               MAX(CASE WHEN hv // {_HD_M} = 0 THEN 55
                   ELSE 55 - length(bin(hv // {_HD_M})) END) AS m
        FROM h GROUP BY hv % {_HD_M}
    ),
    est AS (
        SELECT CAST({_HD_NUM} // (1000 * (
            SUM(CASE WHEN m > {_HD_SCALE_BITS} THEN 0
                ELSE (1::BIGINT << ({_HD_SCALE_BITS} - m)) END)
            + ({_HD_M} - COUNT(*)) * (1::BIGINT << {_HD_SCALE_BITS})))
            AS BIGINT) AS hll_visitors
        FROM regs
    ),
    ex AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_visitors
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT est.hll_visitors, ex.exact_visitors,
           CAST(abs(est.hll_visitors - ex.exact_visitors) * 1000000
                // ex.exact_visitors AS BIGINT) AS err_micro,
           CAST(1 AS BIGINT) AS state_matches_batch
    FROM est, ex
"""


@query("streaming_hll_sketch_state", oracle=_STREAM_HLL_ORACLE)
def streaming_hll_sketch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SKETCH-STATE MAINTENANCE — the incremental form of
    sketch_hll_merge_daily: micro-batches fold their HLL registers into
    a 64-row txlog STATE TABLE by register MAX, and the final estimate
    from the persisted state must equal the batch recomputation over
    all events (state_matches_batch pins register-for-register
    equality; the differential hash pins the estimate).

    The sink contract is the novel part: streaming_gold_rollup gets
    exactly-once from at-least-once replay + key-merge of CUMULATIVE
    update-mode state — the stream itself carries the fold. Here the
    stream is STATELESS (no streaming agg, no watermark, no state
    store): each foreachBatch computes the BATCH's registers and
    MAX-folds them into the table. Because register MAX is an
    IDEMPOTENT, commutative monoid, a replayed or duplicated batch
    folds to the identical state — exactly-once semantics from the
    ALGEBRA of the sink, with zero delivery bookkeeping. That is the
    production recipe for every mergeable-sketch state (HLL, KMV,
    CMS-max variants, Bloom): pick a fold that absorbs replay and the
    hardest streaming problem disappears.

    Shape at 100 TB: per-batch work is one hash aggregate to <= 64
    rows; the state table is 64 integers FOREVER, regardless of stream
    volume; the read-modify-write touches sketch-sized data under the
    txlog's serializable commit. ``maxFilesPerTrigger=2`` over 8
    staged files forces >= 4 real micro-batches, so the fold chain is
    genuinely exercised, and the final state is trigger-boundary
    independent (max over any partition of the input)."""
    import os
    import tempfile

    from ..sources.txlog import TxLogTable

    root = tempfile.mkdtemp(prefix="wistia_stream_hll_")
    src = os.path.join(root, "src")
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    staged = events.select("user_id")
    staged.repartition(8).write.parquet(src)
    schema = as_nullable(staged.schema)

    def regs_of(df: DataFrame) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        return (
            df.select(h.alias("hv"))
            .select(
                (F.col("hv") % _HD_M).alias("bucket"),
                F.when(F.expr(f"hv div {_HD_M}") == 0, F.lit(55))
                .otherwise(
                    F.lit(55) - F.length(F.bin(F.expr(f"hv div {_HD_M}")))
                )
                .alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("m"))
        )

    table = TxLogTable(os.path.join(root, "registers"))

    def _fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        new = regs_of(batch_df)
        cur = table.read(sess)
        if cur is not None:
            new = (
                cur.unionByName(new)
                .groupBy("bucket")
                .agg(F.max("m").alias("m"))
            )
        table.merge(sess, new, ["bucket"])

    run_available(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(_fold_batch),
        os.path.join(root, "ckpt"),
        spark.read.schema(schema).parquet(src),
    )

    state = table.read(spark)
    batch_regs = regs_of(events)
    mismatch = (
        state.withColumnRenamed("m", "m_state")
        .join(batch_regs, "bucket", "full_outer")
        .where(
            ~F.col("m_state").eqNullSafe(F.col("m"))
        )
        .count()
    )
    est = state.agg(
        F.expr(
            f"CAST({_HD_NUM} div (1000 * ("
            f"SUM(CASE WHEN m > {_HD_SCALE_BITS} THEN CAST(0 AS BIGINT)"
            f" ELSE shiftleft(CAST(1 AS BIGINT),"
            f" CAST({_HD_SCALE_BITS} - m AS INT)) END)"
            f" + ({_HD_M} - COUNT(1))"
            f" * shiftleft(CAST(1 AS BIGINT), {_HD_SCALE_BITS})))"
            f" AS BIGINT)"
        ).alias("hll_visitors")
    )
    exact = events.agg(
        F.count_distinct("user_id").cast("long").alias("exact_visitors")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "hll_visitors",
        "exact_visitors",
        F.expr(
            "CAST(abs(hll_visitors - exact_visitors) * 1000000"
            " div exact_visitors AS BIGINT)"
        ).alias("err_micro"),
        F.lit(1 if mismatch == 0 else 0).cast("long").alias(
            "state_matches_batch"
        ),
    )


# ---------------------------------------------------------------------------
# Wave 5: map functions, ANSI try-arithmetic, modern aggregates, Datasketches

_MAP_SURFACE_ORACLE = """
    WITH per_user AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id, event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(c * 3) AS BIGINT) AS sum_scaled
    FROM per_user WHERE c >= 2
    GROUP BY event_type
"""


@query("map_function_surface", oracle=_MAP_SURFACE_ORACLE)
def map_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-TYPED COLUMN SURFACE — the map function family exercised
    end-to-end: per-user maps built with ``map_from_entries`` over
    collected (event_type, count) structs (keys unique per user by the
    groupBy, so collection order cannot change the map), thinned with
    ``map_filter`` (count >= 2), rescaled with ``transform_values``
    (x3), and EXPLODED back to rows for the final aggregate. Maps are
    the natural shape for per-entity feature bags (user activity
    profiles, sparse feature vectors) — but map columns themselves
    must never be hash-compared or returned raw, because map ITERATION
    order is engine- and partitioning-dependent; the explode-then-
    aggregate at the end is the determinism discipline this query
    demonstrates (same rule as collect_set: unordered containers leave
    the plan only through order-insensitive folds). The oracle skips
    the map entirely and replays the relational algebra the map ops
    encode — the hash proves the round-trip through MapType lost
    nothing.

    Shape at 100 TB: one (user, type) hash aggregate, one per-user
    map build (row-local), map ops scan-local in codegen, explode
    bounded by |event_type| per user, final map-side-combinable
    aggregate. No shuffle the relational form wouldn't also need."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = per_user.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "c"))
        ).alias("m")
    )
    cooked = m.select(
        "user_id",
        F.transform_values(
            F.map_filter(F.col("m"), lambda k, v: v >= 2),
            lambda k, v: v * 3,
        ).alias("m"),
    )
    exploded = cooked.select(
        "user_id", F.explode("m").alias("event_type", "scaled")
    )
    return exploded.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("scaled").cast("long").alias("sum_scaled"),
    )


_TRY_ARITH_ORACLE = """
    WITH t AS (
        SELECT event_type, event_id,
               CASE WHEN event_id % 3 = 0 THEN 9223372036854775807
                    ELSE NULL END AS ta,
               CASE WHEN event_id % 2 = 0 THEN 4611686018427387904
                    ELSE NULL END AS tm,
               CASE WHEN event_id % 5 = 0 THEN NULL
                    ELSE event_id % 7 END AS tmod_in,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    ELSE event_id % 7 END AS tmod
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) - COUNT(ta) AS BIGINT) AS n_add_overflow,
           CAST(COUNT(*) - COUNT(tm) AS BIGINT) AS n_mul_overflow,
           CAST(COUNT(*) - COUNT(CASE WHEN event_id % 5 <> 0 THEN 1 END)
               AS BIGINT) AS n_div_by_zero,
           CAST(COUNT(*) - COUNT(tmod) AS BIGINT) AS n_mod_by_zero,
           CAST(SUM(tmod) AS BIGINT) AS sum_mod
    FROM t GROUP BY event_type
"""


@query("try_arith_null_paths", oracle=_TRY_ARITH_ORACLE)
def try_arith_null_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI TRY-ARITHMETIC NULL PATHS — the four ``try_*`` operators a
    pipeline reaches for when one poisoned row must not kill a 100 TB
    job under ANSI mode: ``try_add`` at int64 max (overflow -> NULL
    whenever the addend isn't 0), ``try_multiply`` at 2^62 x 3,
    ``try_divide`` by zero (NULL even in floating point — no Inf
    leaks), ``try_mod`` by zero. Each NULL class is triggered on a
    deterministic residue of event_id and counted per event_type, and
    the surviving try_mod values are summed exactly — so an operator
    that THROWS where it should NULL (the ANSI default without try_),
    or NULLs where it should compute, flips the hash. The oracle
    replays the semantics arithmetically (DuckDB would promote to
    HUGEINT rather than overflow, which is exactly why the expected
    NULL pattern is spelled as CASE logic — the CONTRACT, not the
    mechanism, is what's pinned).

    Shape at 100 TB: pure scan-local codegen expressions, one hash
    aggregate; try_* costs nothing over the throwing forms."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        "event_id",
        F.expr(
            "try_add(9223372036854775807,"
            " CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END)"
        ).alias("ta"),
        F.expr(
            "try_multiply(4611686018427387904,"
            " CASE WHEN event_id % 2 = 0 THEN 1 ELSE 3 END)"
        ).alias("tm"),
        F.expr(
            "try_divide(CAST(event_id AS DOUBLE),"
            " CASE WHEN event_id % 5 = 0 THEN 0.0 ELSE 2.0 END)"
        ).alias("td"),
        F.expr(
            "try_mod(event_id % 7,"
            " CASE WHEN event_id % 7 = 0 THEN 0 ELSE 7 END)"
        ).alias("tmod"),
    )
    return t.groupBy("event_type").agg(
        (F.count(F.lit(1)) - F.count("ta")).cast("long")
        .alias("n_add_overflow"),
        (F.count(F.lit(1)) - F.count("tm")).cast("long")
        .alias("n_mul_overflow"),
        (F.count(F.lit(1)) - F.count("td")).cast("long")
        .alias("n_div_by_zero"),
        (F.count(F.lit(1)) - F.count("tmod")).cast("long")
        .alias("n_mod_by_zero"),
        F.sum("tmod").cast("long").alias("sum_mod"),
    )


_MODERN_AGG_ORACLE = """
    SELECT event_type,
           median(CAST(floor(value * 1000000) AS BIGINT)) AS median_micro,
           CAST(count_if(value > 150.0) AS BIGINT) AS n_high,
           CAST(bool_and(value IS NOT NULL) AS BIGINT) AS all_valued,
           CAST(bool_or(value > 190.0) AS BIGINT) AS any_extreme,
           CAST(bit_xor(event_id) AS BIGINT) AS id_xor,
           arg_max(user_id, event_id) AS latest_user,
           arg_min(user_id, event_id) AS first_user
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
"""


@query("modern_aggregate_surface", oracle=_MODERN_AGG_ORACLE)
def modern_aggregate_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODERN AGGREGATE SURFACE — the Spark 4 aggregate additions in
    one hash-pinned pass: ``median`` (exact; both engines average the
    two middle values on even counts — deterministic because the
    micro-scaled operands stay far below 2^53), ``count_if``,
    ``bool_and``/``bool_or`` (flags cast to BIGINT — rule #9 posture),
    ``bit_xor`` (the order-free integer fold — the same algebra the
    CC fingerprint uses), and ``max_by``/``min_by`` keyed on event_id,
    which is UNIQUE, making the argmax row well-defined (max_by with a
    tied ordering key is nondeterministic by contract — the query
    encodes the rule: argmax aggregates enter a differential pipeline
    only with a tie-free key). DuckDB's median/count_if/bool_and/
    bit_xor/arg_max are the oracle twins, name for name.

    Shape at 100 TB: every one of these folds map-side (median via
    partial sort-merge of compact state); one shuffle on the group
    key, no window, no global sort."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    return ev.groupBy("event_type").agg(
        F.median(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).alias(
            "median_micro"
        ),
        F.count_if(F.col("value") > 150.0).cast("long").alias("n_high"),
        F.bool_and(F.col("value").isNotNull()).cast("long").alias(
            "all_valued"
        ),
        F.bool_or(F.col("value") > 190.0).cast("long").alias(
            "any_extreme"
        ),
        F.bit_xor("event_id").cast("long").alias("id_xor"),
        F.max_by("user_id", "event_id").alias("latest_user"),
        F.min_by("user_id", "event_id").alias("first_user"),
    )


_DATASKETCHES_ORACLE = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_visitors,
           CAST(1 AS BIGINT) AS within_5pct,
           CAST(1 AS BIGINT) AS union_within_5pct
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
"""


@query("native_datasketches_anchor", oracle=_DATASKETCHES_ORACLE)
def native_datasketches_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE DATASKETCHES HLL — Spark 4's built-in
    ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``
    (Apache DataSketches), the production-grade counterpart of the
    from-scratch register pipeline (sketch_hll_visitors builds the
    algorithm; THIS is what a deployment should actually call, with
    binary sketch columns that persist and merge across tables/days).
    The estimate is order-independent (register folds are max-monoid)
    and therefore deterministic for fixed input, but its exact value
    rides the library's internal hashing, which no SQL oracle can
    replay — so the anchor pattern applies (approx_sketch_anchor
    precedent): the oracle pins the EXACT distinct count and two
    CONTRACT flags the engine must earn — the estimate lands within
    5 % at lgK=12 (theory: ~1.04/sqrt(4096) ≈ 1.6 % sigma), and the
    union of per-half sketches lands within the same 5 % bound
    (mergeability, the property sketch state exists for). Found live
    at sf0.1: the union flag CANNOT demand exact equality with the
    direct estimate — DataSketches HLL runs in exact-coupon SPARSE
    mode at low cardinality and promotes to dense registers at a
    mode boundary each sketch crosses independently, so
    union-of-halves and direct-whole can sit in different modes with
    slightly different estimates (equal at 150 and 6000 distinct,
    off-by-a-few at 1500). Register-exact merge equality is a
    property of the from-scratch fixed-register pipeline
    (sketch_hll_merge_daily pins it); for the library, the honest
    contract is the accuracy bound.

    Shape at 100 TB: sketch state is KB-sized binary per group,
    map-side combinable; the union path is how daily sketch tables
    roll up to quarters without re-reading history."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("est"),
        F.count_distinct("user_id").cast("long").alias("exact_visitors"),
    )
    halves = ev.groupBy(
        "event_type", (F.col("event_id") % 2).alias("h")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    merged = halves.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_u")
    )
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_visitors",
        (
            F.abs(F.col("est") - F.col("exact_visitors")) * 100
            <= F.col("exact_visitors") * 5
        ).cast("long").alias("within_5pct"),
        (
            F.abs(F.col("est_u") - F.col("exact_visitors")) * 100
            <= F.col("exact_visitors") * 5
        ).cast("long").alias("union_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Wave 6: schema-evolution union (generation drift with null back-fill)

_EVOLUTION_ORACLE = """
    WITH old_gen AS (
        SELECT event_id, event_type, CAST(NULL AS BIGINT) AS value_micro,
               CAST(0 AS BIGINT) AS gen
        FROM events WHERE event_id % 2 = 0
    ),
    new_gen AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS value_micro,
               CAST(1 AS BIGINT) AS gen
        FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (
        SELECT * FROM old_gen UNION ALL SELECT * FROM new_gen
    )
    SELECT event_type, gen,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(value_micro) AS BIGINT) AS n_valued,
           CAST(SUM(value_micro) AS BIGINT) AS sum_value_micro
    FROM unioned
    GROUP BY event_type, gen
"""


@query("schema_evolution_union", oracle=_EVOLUTION_ORACLE)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION UNION — ``unionByName(allowMissingColumns=
    True)`` across two table GENERATIONS: the old feed lacks the
    value column entirely (simulated by projecting it away), the new
    feed carries it, and the union back-fills the missing column with
    NULL while matching the shared columns BY NAME — the operation
    every long-lived table needs the day a column is added upstream.
    The trap it guards against is positional UNION: with drifted
    column orders a positional union silently crosses columns of
    compatible types (the classic corrupt-backfill incident);
    unionByName is the only safe form once schemas evolve, and the
    per-generation null-count + checksum aggregate makes a
    misaligned or non-null-backfilled column flip the hash.

    The generations split on event_id parity so both the null-filled
    and valued populations are deterministic and interleave every
    group; the oracle replays the union with an explicit NULL literal
    — the CONTRACT of allowMissingColumns spelled in SQL.

    Shape at 100 TB: union is a zero-shuffle plan concatenation; the
    name-resolution and null back-fill are compile-time projections.
    One map-side-combinable aggregate on (type, generation)."""
    ev = load_table(spark, sf_dir, "events")
    old_gen = (
        ev.where(F.col("event_id") % 2 == 0)
        .select("event_id", "event_type")
        .withColumn("gen", F.lit(0).cast("long"))
    )
    new_gen = (
        ev.where(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            "event_type",
            F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias(
                "value_micro"
            ),
        )
        .withColumn("gen", F.lit(1).cast("long"))
    )
    unioned = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return unioned.groupBy("event_type", "gen").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("value_micro").cast("long").alias("n_valued"),
        F.sum("value_micro").cast("long").alias("sum_value_micro"),
    )


# ---------------------------------------------------------------------------
# Wave 7: embedding-space decontamination (eval-set leakage by ANN blocking)

_DECONTAM_EMB_ORACLE = """
    WITH eval_set AS (
        SELECT vec_id + 1000000 AS eval_id, embedding, label
        FROM embeddings WHERE vec_id % 40 = 0
    ),
    pairs AS (
        SELECT t.vec_id AS train_id, e.eval_id,
               ROUND(
                 list_sum(list_transform(list_zip(t.embedding, e.embedding),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / ( sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                                    for v in t.embedding]))
                   * sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                                    for v in e.embedding])) ), 6
               ) AS cos_sim
        FROM embeddings t
        JOIN eval_set e ON e.label = t.label
    )
    SELECT train_id, eval_id, cos_sim FROM pairs WHERE cos_sim >= 0.99
"""


@query("embedding_decontamination", oracle=_DECONTAM_EMB_ORACLE)
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DECONTAMINATION — the semantic member of the
    decontamination family (decontamination_ngrams catches VERBATIM
    benchmark leakage by token overlap; paraphrased or re-formatted
    leakage needs the embedding space). A simulated eval benchmark
    (every 40th vector, re-identified as eval_id = vec_id + 1e6 — the
    leaked-into-training scenario by construction) is screened against
    the FULL training corpus: candidates come from an equi join on
    (label, LSH bucket) — the same lossless-at-tau=0.99 blocking
    embedding_near_dup pins (near-identical vectors share every
    hyperplane sign bit on this corpus) — and exact cosine verifies
    each candidate. Output is the contamination REPORT: (train_id,
    eval_id, cos_sim) pairs a curation pipeline would route to the
    removal stage (cluster-collapse via dedup_clusters if transitive).

    The oracle brute-forces train x eval within label — the engine's
    bucket blocking must lose NOTHING relative to it, so the hash is
    simultaneously a recall proof for the blocking at this threshold
    (the r3 similarity-family discipline).

    Shape at 100 TB: the eval side is benchmark-sized (thousands),
    broadcast; the train side never self-joins — each train vector
    meets only same-(label, bucket) eval vectors, so the candidate
    count is |eval| x avg bucket occupancy, linear in the corpus. The
    exact-verify cost is per-candidate, not per-corpus-pair."""
    from ..functions.similarity import cosine, hyperplane_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = hyperplane_buckets(emb, n_planes=8, dim=64)
    base = emb.join(buckets, "vec_id")
    eval_set = base.where(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("eval_id"),
        F.col("embedding").alias("e_emb"),
        "label",
        "bucket",
    )
    train = base.select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("t_emb"),
        "label",
        "bucket",
    )
    cand = train.join(F.broadcast(eval_set), ["label", "bucket"])
    return cand.select(
        "train_id",
        "eval_id",
        F.round(cosine(F.col("t_emb"), F.col("e_emb")), 6).alias(
            "cos_sim"
        ),
    ).where(F.col("cos_sim") >= 0.99)
