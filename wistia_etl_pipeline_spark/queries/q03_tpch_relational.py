"""TPC-H-shaped relational breadth, skew/sketch anchors, duplicate clusters, curation sampling, SCD2, REST fan-out, corpus stats.

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
    _CUTOFF,
    _DUP_CORPUS_SQL,
    _NORM,
    _TOKS,
    _dup_corpus,
    _latest_slice,
)

# TPC-H breadth: Q2-shaped correlated subquery, Q7/Q8 multi-join windows
# (round-1 deferred list; NOTES_r1.md)
# --------------------------------------------------------------------------

_Q2_SQL = """
    SELECT DISTINCT p.p_partkey, s.s_name, n.n_name AS nation_name,
                    l.l_extendedprice AS min_price
    FROM part p, lineitem l, supplier s, nation n, region r
    WHERE l.l_partkey = p.p_partkey
      AND l.l_suppkey = s.s_suppkey
      AND s.s_nationkey = n.n_nationkey
      AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE'
      AND l.l_extendedprice = (
          SELECT MIN(l2.l_extendedprice)
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p.p_partkey
            AND l2.l_suppkey = s2.s_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey
            AND r2.r_name = 'EUROPE')
"""


@query("min_cost_supplier_q2", oracle=_Q2_SQL)
def min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped CORRELATED SCALAR SUBQUERY: for every part, the
    European supplier(s) whose line price equals that part's regional
    minimum. Runs through the SQL front-end on purpose — Catalyst
    DECORRELATES the inner MIN into a per-partkey aggregate joined back
    to the outer block (no per-row re-execution; the same rewrite a
    hand-written window-min would express), which is the only shape
    that survives 100 TB. MIN over doubles is order-independent, and
    min_price is an unrounded raw column value — deterministic on both
    engines (determinism rule #2)."""
    from ..sql import register_tables

    register_tables(
        spark, sf_dir, tables=("part", "lineitem", "supplier", "nation", "region")
    )
    return spark.sql(_Q2_SQL)


@query(
    "volume_shipping_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1999-12-31 23:59:59'
    GROUP BY 1, 2, 3
    """,
)
def volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped bilateral trade volume: lineitem⋈orders is the
    only large shuffle; both nation lookups broadcast (fixed 25 rows —
    the hint policy allows them); the date window pushes to the
    lineitem scan. Revenue through the DECIMAL route."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        lineitem.filter(
            F.col("l_shipdate").between("1996-01-01 00:00:00", "1999-12-31 23:59:59")
        )
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                "decimal(25,6)"
            )
        ).cast("double").alias("revenue")
    )


@query(
    "market_share_q8",
    oracle="""
    WITH base AS (
        SELECT year(o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6)) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           ROUND(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(25,6)) END) AS STRING) AS DOUBLE)
                 / CAST(CAST(SUM(volume) AS STRING) AS DOUBLE), 6) AS mkt_share
    FROM base GROUP BY o_year
    """,
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: NATION_3's slice of the Asian
    ECONOMY-part market by order year. The selective p_type filter
    pushes into the part scan; nation/region lookups broadcast; the
    share is a ratio of two DECIMAL-exact sums (numerator via
    conditional aggregation — no second pass over the fact)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    base = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), customer.c_nationkey == F.col("n1_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            .cast("decimal(25,6)")
            .alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(25,6)")
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Skewed join, sketch anchors, multimodal frame sampling
# --------------------------------------------------------------------------

@query(
    "salted_join_first_seen",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT e.event_type AS media_id,
           COUNT(*) AS n_events,
           CAST(SUM(epoch_us(e.ts) - epoch_us(f.first_ts)) AS BIGINT)
               AS total_us_since_first
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1
    """,
)
def salted_join_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant SALTED JOIN (operators/skew.salted_join): fact
    events ⋈ per-user first-seen dim on a potentially hot user key.
    The skewed side carries a deterministic salt; the dim replicates
    ×n_salts; the join runs as an equi hash join on (user, salt), so
    one viral visitor's 10⁹ events spread over 16 reducer shards
    instead of pinning one. The oracle is the PLAIN join — salting
    must never change results, only the shuffle's shape. Aggregates
    are exact integer sums."""
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = salted_join(
        events, first_seen, ["user_id"], salt_from="event_id", n_salts=16
    )
    return joined.groupBy(F.col("event_type").alias("media_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.unix_micros("ts") - F.unix_micros("first_ts")).alias(
            "total_us_since_first"
        ),
    )


@query(
    "approx_sketch_anchor",
    oracle="""
    SELECT event_type AS media_id,
           COUNT(DISTINCT user_id) AS visitors_exact,
           CAST(1 AS BIGINT) AS hll_within_10pct,
           CAST(1 AS BIGINT) AS p50_within_tol
    FROM events GROUP BY 1
    """,
)
def approx_sketch_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches with a driver-visible correctness anchor (same pattern
    as the IVF recall anchor): HLL ``approx_count_distinct`` and KLL
    ``percentile_approx`` run next to their exact twins, and the query
    emits THRESHOLDED error flags the oracle asserts — sketch estimates
    aren't cross-engine reproducible, their error contracts are. At
    100 TB the sketches are the production path (single-pass,
    mergeable, no per-key exact-distinct shuffle); this query is the
    standing proof their error stays inside the contract."""
    from ..functions.dedupe import fan_out

    # Project to the three consumed columns BEFORE fanning out the
    # one-split scan: the sketch builds (HLL registers, percentile
    # buffers) run in the partial-agg phase on the scan's splits —
    # single-task without the fan_out — and the narrow projection is
    # what makes the exchange cheaper than the serial build (the
    # full-schema variant measured slower; r13).
    events = fan_out(
        load_table(spark, sf_dir, "events").select(
            "event_type", "user_id", "value"
        ),
        "user_id",
    )
    per_media = events.groupBy(F.col("event_type").alias("media_id")).agg(
        F.count_distinct("user_id").alias("visitors_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__hll"),
        F.expr("percentile(value, 0.5)").alias("__p50_exact"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("__p50_approx"),
    )
    tol = F.abs(F.col("__p50_exact")) * 0.05 + F.lit(1e-6)
    return per_media.select(
        "media_id",
        "visitors_exact",
        (
            F.abs(F.col("__hll") - F.col("visitors_exact"))
            <= 0.10 * F.col("visitors_exact")
        )
        .cast("long")
        .alias("hll_within_10pct"),
        (F.abs(F.col("__p50_approx") - F.col("__p50_exact")) <= tol)
        .cast("long")
        .alias("p50_within_tol"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT 'd' || CAST(doc_id AS VARCHAR) AS media_id,
           CAST(n_chars AS BIGINT) % 120 + 1 AS n_frames,
           unnest(range(0, CAST(n_chars AS BIGINT) % 120 + 1, 10)) AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing driver-checked end-to-end:
    synthesize payloads, decode headers (Arrow-batched mapInPandas),
    fan out one row per sampled frame index via a lateral explode of a
    sequence — pure expressions after the decode, no Python in the
    fan-out. Like multimodal_decode_stats, the expected output is
    arithmetic on documents (frames = n_chars%120+1, every 10th frame),
    so the oracle re-derives it exactly."""
    import pandas as pd

    from ..functions.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents")

    def synth(batches):
        from wistia_etl_pipeline_spark.functions.multimodal import encode_fake_payload

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].map(lambda d: f"d{d}"),
                    "payload": [
                        encode_fake_payload(
                            int(n % 1920) + 1, int(n % 1080) + 1, int(n % 120) + 1
                        )
                        for n in pdf["n_chars"]
                    ],
                }
            )

    media = docs.select("doc_id", "n_chars").mapInPandas(
        synth, "media_id string, payload binary"
    )
    out = frame_sample_plan(media.withColumn("kind", F.lit("video")), every_n=10)
    return out.select(
        "media_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
    )


@query(
    "distributed_ingest_fanout",
    oracle="""
    WITH cnt AS (
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
    ),
    pp AS (
        SELECT GREATEST(500, (MAX(n) + 79) // 80) AS per_page FROM cnt
    )
    SELECT e.event_type AS media_id,
           CAST((COUNT(*) + MIN(pp.per_page) - 1) // MIN(pp.per_page)
                AS BIGINT) AS n_pages,
           COUNT(*) AS n_events,
           CAST(1 AS BIGINT) AS all_completed
    FROM events e, pp GROUP BY 1
    """,
)
def distributed_ingest_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 at CLUSTER scale: the bounded page loop fanned out over
    executors with mapInPandas (sources/rest_source.
    fetch_media_pages_distributed) — one task per media slice, each
    running the same retry/termination loop the driver-side reference
    uses (bronze.py:204-232), so ingestion bandwidth scales with the
    cluster instead of one driver. The transport is a deterministic
    in-closure pager over the events table; the oracle recounts pages
    (ceil(n/500)) and events per media, and asserts every pull
    completed."""
    from functools import partial

    from ..sources.fake_api import ParquetEventsTransport, url_for
    from ..sources.rest_source import PullConfig, fetch_media_pages_distributed

    # tiny key list only — each executor task reads its own pushdown-
    # filtered slice of the parquet (no driver-side feed materialization).
    # Page size scales with the LARGEST per-media volume so every pull
    # COMPLETES inside the max_pages=100 bound at any SF and any skew
    # (~80 pages for the biggest media; the fixed 500 hit the cap at sf1
    # — 401 pages needed — and truncated the feed; the r7 mean-based
    # formula left only 1.25x skew headroom, ADVICE r7). The oracle
    # replicates the identical integer formula over the same per-type
    # census, and at the driver SFs the 500 floor binds, so those
    # hashes are unchanged.
    census = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    media_ids = sorted(r["event_type"] for r in census)
    per_page = max(500, -(-max(r["n"] for r in census) // 80))
    pages = fetch_media_pages_distributed(
        spark,
        media_ids,
        url_for,
        partial(ParquetEventsTransport, sf_dir, per_page),
        config=PullConfig(per_page=per_page, max_pages=100),
    )
    return pages.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.json_array_length("payload")).alias("n_events"),
        F.min(F.col("completed").cast("long")).alias("all_completed"),
    )


@query(
    "grouped_outlier_profile",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               median(value) AS med_value,
               mad(value) AS mad_value
        FROM events GROUP BY 1
    )
    SELECT e.event_type AS media_id,
           COUNT(*) AS n,
           COUNT(CASE WHEN abs(e.value - s.med_value) > 3 * s.mad_value
                      THEN 1 END) AS n_outliers,
           MIN(s.med_value) AS med_value,
           MIN(s.mad_value) AS mad_value
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY 1
    """,
)
def grouped_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED-MAP pandas surface (groupBy().applyInPandas — the one
    Python-worker shape the engine hadn't driver-checked): per-media
    robust outlier profile via median/MAD, which have no algebraic
    (partial-mergeable) decomposition and therefore no built-in
    single-pass JVM form. DuckDB's median/mad implement the identical
    interpolated order statistics, so the raw doubles hash-match
    (operators/grouped.py)."""
    from ..operators.grouped import grouped_robust_outliers

    events = load_table(spark, sf_dir, "events")
    return grouped_robust_outliers(events, key="event_type", value="value").select(
        F.col("event_type").alias("media_id"),
        "n",
        "n_outliers",
        "med_value",
        "mad_value",
    )


@query(
    "cogroup_asof_checkpoint",
    oracle="""
    WITH cpv AS (
        SELECT user_id, ts AS cp_ts, value AS cp_value FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id) = 1
    )
    SELECT e.user_id AS visitor_key, epoch_us(e.ts) AS ts_us,
           e.value, c.cp_value
    FROM events e ASOF JOIN cpv c
      ON e.user_id = c.user_id AND e.ts >= c.cp_ts
    """,
)
def cogroup_asof_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUP pandas surface (groupBy().cogroup().applyInPandas — both
    sides of one key co-shuffled into a single kernel): every event
    as-of merged with its user's latest daily checkpoint (first event
    of the day), via pd.merge_asof per user. Verified against DuckDB's
    NATIVE ASOF JOIN — the kernel's semantics must equal the relational
    operator's (operators/grouped.cogrouped_asof_merge)."""
    from pyspark.sql import Window

    from ..operators.grouped import cogrouped_asof_merge

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    cpv = (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", F.col("ts").alias("cp_ts"), F.col("value").alias("cp_value")
        )
    )
    merged = cogrouped_asof_merge(
        events.select("user_id", "ts", "value"),
        cpv,
        key="user_id",
        left_time="ts",
        right_time="cp_ts",
        value_cols=("value", "cp_value"),
    )
    return merged.select(
        F.col("user_id").alias("visitor_key"),
        F.unix_micros("__lt").alias("ts_us"),
        "value",
        "cp_value",
    )


@query(
    "incremental_gold_maintenance",
    oracle="""
    SELECT event_type AS media_id,
           COUNT(*) AS n_rows,
           COUNT(value) AS value_cnt,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6) AS value_sum_d,
           MIN(value) AS value_min,
           MAX(value) AS value_max,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value), 6)
               AS value_avg
    FROM events GROUP BY 1
    """,
)
def incremental_gold_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE (operators/incremental_agg.py):
    the gold table kept as mergeable partial-aggregate state instead of
    recomputed from history — each batch folds O(|batch| keys) state
    rows, the history never rescans (the reference's full stored-proc
    recompute is a 100 TB table rewrite). Here the events table is
    split into 3 deterministic batches, folded batch-by-batch through
    partial_state → merge_state, then finalized; the oracle is the
    single-shot aggregate over ALL events — maintenance must converge
    to exactly the from-scratch answer (DECIMAL-exact sums make the
    fold order-independent)."""
    from ..operators.incremental_agg import finalize, merge_state, partial_state

    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("media_id"), "event_id", "value"
    )
    state = None
    for i in range(3):
        batch = events.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
        bstate = partial_state(batch, ["media_id"], value_cols=["value"])
        state = merge_state(state, bstate, ["media_id"], value_cols=["value"])
    return finalize(state, ["media_id"], value_cols=["value"])


@query(
    "variant_try_surface",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           TRY_CAST(event_type AS DOUBLE) AS etype_num,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) = 0
                THEN NULL
                ELSE value / CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS per_k,
           epoch_us(TRY_CAST(event_type AS TIMESTAMP)) AS bad_ts_us
    FROM events
    """,
)
def variant_try_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern semi-structured + error-safe scalar surface: VARIANT JSON
    (``parse_json`` once, typed ``variant_get`` extraction — the
    Spark 4 path that beats per-path string re-parsing of
    ``get_json_object``) and the ``try_*`` family (NULL instead of
    runtime error: the 100 TB property that one malformed row must
    never kill a stage). per-row doubles stay unrounded (rule #2)."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    staged = events.select(
        "event_id",
        "value",
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
    )
    return staged.select(
        "event_id",
        "k_int",
        F.col("event_type").try_cast("double").alias("etype_num"),
        F.try_divide(F.col("value"), F.col("k_int")).alias("per_k"),
        F.unix_micros(F.try_to_timestamp(F.col("event_type"))).alias("bad_ts_us"),
    )


# --------------------------------------------------------------------------
# Duplicate-cluster resolution: pairs -> connected components -> canonical
# --------------------------------------------------------------------------

@query(
    "dedup_clusters",
    oracle=rf"""
    WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t
        FROM corpus
    ),
    base AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS sh
        FROM toks
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
    pairs AS (
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
        FROM banded l
        JOIN banded r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        WHERE len(list_intersect(l.sh, r.sh))
              / len(list_distinct(l.sh || r.sh)) >= 0.8
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    assign AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
    SELECT cluster_id,
           COUNT(*)    AS cluster_size,
           MAX(doc_id) AS max_member
    FROM assign GROUP BY cluster_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup pipeline the reference's silver dedup
    gestures at (wistia_transform_silver.py:29-54 drops exact-key dups;
    a training corpus needs *near*-dup clusters): MinHash pairs →
    distributed connected components (alternating large-star/small-star,
    functions/graph.py — O(log n) rounds, never a driver-side adjacency)
    → total cluster assignment with cluster_id = min member (the
    keep-first canonical rule) → per-cluster rollup. The DuckDB oracle
    recomputes the SAME pairs and closes them with a recursive CTE —
    an independent reachability formulation, so the differential test
    covers the star-contraction logic itself, not just plumbing."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import dup_clusters as _clusters

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select("a_id", "b_id")
    assign = _clusters(pairs, universe=corpus)
    return assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max("doc_id").alias("max_member"),
    )


# --------------------------------------------------------------------------
# Dataset curation: deterministic stratified sampling + per-group caps
# --------------------------------------------------------------------------

_STRAT_RATES = {"en": 0.25, "zh": 0.5, "fr": 0.75, "de": 0.75, "es": 0.75}


def _strat_oracle() -> str:
    from ..functions.sampling import threshold

    cases = " ".join(
        f"WHEN '{lang}' THEN {threshold(rate)}" for lang, rate in _STRAT_RATES.items()
    )
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 15))::BIGINT
          < (CASE lang {cases} ELSE 0 END)
    """


@query("stratified_sample_docs", oracle=_strat_oracle())
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-balancing: per-language sampling rates applied as ONE
    scan-time filter (functions/sampling.py). Membership is
    md5(id‖seed) < floor(rate·2^60) — an integer comparison, so the
    sample is identical across engines, partitionings, and re-runs
    (the property that makes incremental curation runs composable).
    No shuffle anywhere in the plan."""
    from ..functions.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", _STRAT_RATES, "doc_id", seed="s1").select(
        "doc_id", "lang"
    )


@query(
    "group_capped_docs",
    oracle="""
    SELECT doc_id, source, samp_rank FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 15))::BIGINT,
                            doc_id
               ) AS samp_rank
        FROM documents
    ) WHERE samp_rank <= 18
    """,
)
def group_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the "no single domain dominates" rule):
    deterministic uniform draw without replacement via smallest-hash
    top-k per group. One shuffle on the group key; scale notes for hot
    groups in functions/sampling.py (sketch pre-filter / salted window
    compose because membership is partitioning-independent)."""
    from ..functions.sampling import group_capped_sample

    docs = load_table(spark, sf_dir, "documents")
    return group_capped_sample(docs, "source", 18, "doc_id", seed="cap").select(
        "doc_id", "source", "samp_rank"
    )


# --------------------------------------------------------------------------
# TPC-H subquery-shape breadth: Q4 / Q13 / Q16 / Q18 / Q22 adaptations
# (adapted to the testdata's column subset — no partsupp/l_commitdate/
# c_phone — while keeping each query's defining subquery structure)
# --------------------------------------------------------------------------

_Q4_SQL = """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate
          )
    GROUP BY o.o_orderpriority
"""


@query("order_priority_q4", oracle=_Q4_SQL)
def order_priority_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped CORRELATED EXISTS (late-shipping order counts by
    priority; l_shipdate > o_orderdate stands in for the spec's
    commit<receipt since testdata lacks those columns). Catalyst
    decorrelates the EXISTS into a LEFT SEMI hash join on orderkey
    carrying the non-equi ship>order predicate — one pass over
    lineitem, no per-row re-execution, and the tight o_orderdate range
    is pushed to the orders scan. That is the 100 TB shape: semi joins
    never multiply rows, so the exchange is bounded by |orders|."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("orders", "lineitem"))
    return spark.sql(_Q4_SQL)


_Q13_SQL = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
"""


@query("customer_distribution_q13", oracle=_Q13_SQL)
def customer_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped two-level aggregate over a filtered LEFT OUTER
    join (orders-per-customer histogram; the priority filter stands in
    for the spec's comment NOT LIKE and must live in the JOIN condition,
    not WHERE, to preserve zero-order customers). First aggregate
    shuffles on custkey — same key as the join, so AQE coalesces into
    the join exchange; second aggregate is over ~50 distinct counts
    (map-side partials collapse it to nothing)."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_Q13_SQL)


_Q16_SQL = """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
    GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("supplier_cnt_q16", oracle=_Q16_SQL)
def supplier_cnt_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped NOT IN + COUNT(DISTINCT) (lineitem stands in
    for partsupp as the part↔supplier relation). The NOT IN becomes a
    null-aware LEFT ANTI join against the (tiny, broadcastable)
    deficit-supplier set; part's brand/size predicates prune at the
    scan. The distinct-count shuffles once on the (brand,type,size)
    grain with partial distinct aggregation upstream."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem", "part", "supplier"))
    return spark.sql(_Q16_SQL)


_Q18_SQL = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_date,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 250
          )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE)
"""


@query("large_volume_customers_q18", oracle=_Q18_SQL)
def large_volume_customers_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped IN over a grouped HAVING: the subquery
    pre-aggregates lineitem to qualifying orderkeys (a LEFT SEMI join
    feeding the main 3-way join), so the expensive join only sees the
    ~1% of orders that survive. Quantities are whole-number doubles
    (exact under FP addition) so the HAVING threshold cannot flake;
    the output sum still routes through DECIMAL per determinism rule
    #1. Semi-join reduction BEFORE the wide join is the order that
    survives 100 TB."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("customer", "orders", "lineitem"))
    return spark.sql(_Q18_SQL)


_Q22_SQL = """
    SELECT c.c_nationkey AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
            SELECT CAST(AVG(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
            FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
    GROUP BY c.c_nationkey
"""


@query("global_sales_opportunity_q22", oracle=_Q22_SQL)
def global_sales_opportunity_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped scalar subquery + NOT EXISTS (idle rich
    customers by nation; nationkey stands in for the phone prefix, and
    "no orders" is windowed to the recent period so the predicate is
    selective on this data). The uncorrelated AVG evaluates once
    (broadcast scalar); the NOT EXISTS becomes a LEFT ANTI join on
    custkey with the date filter pushed to the orders scan. The AVG routes through
    DECIMAL so the membership boundary is the same exact value on both
    engines — a raw double AVG here could flip rows near the threshold
    (determinism rule #1 applied to a *predicate*)."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_Q22_SQL)


_TIME_TRAVEL_ORACLE = f"""
    WITH target AS (
        SELECT event_type, event_id, ts, value FROM events
        WHERE ts < TIMESTAMP '{_CUTOFF}'
        QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) = 1
    ), stage AS (
        SELECT event_type, event_id, ts, value FROM events
        WHERE ts >= TIMESTAMP '{_CUTOFF}'
        QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) = 1
    ), merged AS (
        SELECT event_type, event_id, ts, value
        FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM stage s WHERE s.event_type = t.event_type)
        UNION ALL
        SELECT event_type, event_id, ts, value FROM stage
    )
    SELECT 1 AS version, event_type AS media_id, event_id,
           epoch_us(ts) AS received_us, value
    FROM target
    UNION ALL
    SELECT 2 AS version, event_type AS media_id, event_id,
           epoch_us(ts) AS received_us, value
    FROM merged
    """


@query("txlog_time_travel", oracle=_TIME_TRAVEL_ORACLE)
def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the transaction-log table: commit v1
    (overwrite), commit v2 (merge), then read BOTH versions from the
    same log and tag them. Version 1's answer must be bit-identical to
    the pre-merge state even though a later commit has landed — the
    snapshot-isolation property Delta/Iceberg give and the reference's
    Redshift procs cannot (sources/txlog.py: immutable per-version
    data dirs; the manifest, not directory listing, names the files).
    Scale note: a read pins one manifest — O(1) driver metadata —
    and never lists the table path."""
    import tempfile

    from ..sources.txlog import TxLogTable

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    target, stage = _latest_slice(events, True), _latest_slice(events, False)
    table = TxLogTable(tempfile.mkdtemp(prefix="wistia_tt_") + "/tbl")
    v_base = table.overwrite(target)
    table.merge(spark, stage, ["event_type"])
    v_head = table.current_version()

    def _tag(df: DataFrame, v: int) -> DataFrame:
        return df.select(
            F.lit(v).alias("version"),
            F.col("event_type").alias("media_id"),
            "event_id",
            F.unix_micros("ts").alias("received_us"),
            "value",
        )

    v1 = table.read(spark, version=v_base)
    v2 = table.read(spark, version=v_head)
    return _tag(v1, 1).unionByName(_tag(v2, 2))


# --------------------------------------------------------------------------
# Reshaping + statistical profile breadth: unpivot, CUBE, exact-sum corr
# --------------------------------------------------------------------------

@query(
    "unpivot_daily_metrics",
    oracle="""
    WITH wide AS (
        SELECT event_type AS media_id,
               COUNT(*) AS load_count,
               COUNT(CASE WHEN value > 100.0 THEN 1 END) AS play_count,
               COUNT(DISTINCT user_id) AS visitors
        FROM events GROUP BY 1
    )
    SELECT media_id, 'load_count' AS metric, load_count AS metric_value FROM wide
    UNION ALL
    SELECT media_id, 'play_count', play_count FROM wide
    UNION ALL
    SELECT media_id, 'visitors', visitors FROM wide
    """,
)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the built-in ``DataFrame.unpivot``
    (pivot's inverse — the melt a metrics store needs before a generic
    (entity, metric, value) sink). The unpivot itself is a zero-shuffle
    projection (each input row fans to k output rows map-side); the
    only exchange is the upstream aggregate's."""
    events = load_table(spark, sf_dir, "events")
    wide = events.groupBy(F.col("event_type").alias("media_id")).agg(
        F.count(F.lit(1)).alias("load_count"),
        F.count(F.when(F.col("value") > 100.0, 1)).alias("play_count"),
        F.countDistinct("user_id").alias("visitors"),
    )
    return wide.unpivot(
        ids="media_id",
        values=["load_count", "play_count", "visitors"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@query(
    "cube_event_engagement",
    oracle="""
    SELECT event_type AS media_id,
           CAST(ts AS DATE) AS dt,
           GROUPING(event_type, CAST(ts AS DATE)) AS gid,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, CAST(ts AS DATE))
    """,
)
def cube_event_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE (media × day, media, day, grand total) with
    ``grouping_id`` disambiguating real NULLs from subtotal rows —
    ROLLUP's sibling already covered by rollup_engagement. One shuffle;
    Spark expands grouping sets map-side (each input row feeds all 4
    sets' partial aggregates), so the exchange carries pre-aggregated
    partials, not 4× the rows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.col("event_type").alias("media_id"),
            F.col("ts").cast("date").alias("dt"),
            "value",
        )
        .cube("media_id", "dt")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .select("media_id", "dt", "gid", "n_events", "sum_value")
    )


@query(
    "corr_profile_docs",
    oracle=r"""
    WITH base AS (
        SELECT lang,
               n_chars AS x,
               len(regexp_split_to_array(trim(text), '\s+')) AS y
        FROM documents
    ),
    sums AS (
        SELECT lang, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        FROM base GROUP BY lang
    )
    SELECT lang, n, CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
           CAST(n*sxy - sx*sy AS DOUBLE)
             / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
             AS corr_chars_tokens,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) AS covar_samp
    FROM sums
    """,
)
def corr_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation + sample covariance of
    (n_chars, n_tokens) — the length-consistency screen a corpus
    profile runs. NOT ``F.corr``: its streaming-moment accumulation
    over doubles is summation-order-dependent and can't hash-match
    across engines. Instead the five sufficient statistics are exact
    BIGINT sums (integer inputs — one map-side-combinable shuffle),
    and the closed-form corr is per-row IEEE arithmetic on those exact
    values, textually identical in both engines (determinism rules
    #1/#2 applied to second moments)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(tokens(F.col("text"))).cast("long").alias("y"),
    )
    sums = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    denx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    deny = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return sums.select(
        "lang", "n", "sx", "sy",
        (num / (denx * deny)).alias("corr_chars_tokens"),
        (num / (n * (n - F.lit(1))).cast("double")).alias("covar_samp"),
    )


# --------------------------------------------------------------------------
# Repetition quality signals + SCD2 dimension build
# --------------------------------------------------------------------------

@query(
    "text_repetition_stats",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    freq AS (
        SELECT doc_id, MAX(c) AS max_tok_freq
        FROM (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM toks, unnest(t) AS u(tok)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    ),
    grams AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct,
               [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS g2
        FROM toks
    )
    SELECT g.doc_id,
           g.n_tokens,
           CAST(g.n_distinct AS DOUBLE) / CAST(g.n_tokens AS DOUBLE) AS ttr,
           f.max_tok_freq,
           CAST(len(g.g2) - len(list_distinct(g.g2)) AS DOUBLE)
             / CAST(len(g.g2) AS DOUBLE) AS dup_bigram_ratio
    FROM grams g JOIN freq f USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition screens (the Gopher/C4-style quality signals):
    type-token ratio, most-frequent-token count, duplicate-bigram
    ratio. Token frequencies go through explode → (doc, token) count →
    max — one shuffle keyed by doc_id, NOT a per-row O(n²)
    distinct×filter higher-order loop, because a 100 TB corpus has
    kilotoken documents (ratios stay per-row array ops; they're
    linear)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    freq = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_tok_freq"))
    )
    grams = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        F.expr(
            "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"
        ).alias("g2"),
    )
    return grams.join(freq, "doc_id").select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")).alias("ttr"),
        "max_tok_freq",
        (
            (F.size("g2") - F.size(F.array_distinct("g2"))).cast("double")
            / F.size("g2").cast("double")
        ).alias("dup_bigram_ratio"),
    )


@query(
    "scd2_media_state",
    oracle="""
    WITH staged AS (
        SELECT event_type AS media_id, ts, event_id,
               CAST(floor(value / 25.0) AS BIGINT) AS state
        FROM events
    ),
    changes AS (
        SELECT media_id, ts, event_id, state,
               lag(state) OVER w AS prev_state
        FROM staged
        WINDOW w AS (PARTITION BY media_id ORDER BY ts, event_id)
    ),
    versions AS (
        SELECT media_id, state, ts AS valid_from, event_id
        FROM changes
        WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT media_id, state,
           epoch_us(valid_from) AS valid_from_us,
           epoch_us(lead(valid_from) OVER w2) AS valid_to_us,
           CAST(lead(valid_from) OVER w2 IS NULL AS INTEGER) AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY media_id ORDER BY valid_from, event_id)
    """,
)
def scd2_media_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 dimension build from a change stream: collapse
    consecutive equal states (lag), then derive half-open validity
    intervals (lead) — the standard two-window pass, both windows on
    the SAME (media) partitioning key so the whole build is one
    shuffle. This is the versioned flavor of the reference's dim_media
    upsert (wistia_stored_procedures.py:3-42 keeps only latest; a
    warehouse keeping history needs exactly this shape). NULL
    valid_to_us marks the open (current) version."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    staged = events.select(
        F.col("event_type").alias("media_id"),
        "ts",
        "event_id",
        F.floor(F.col("value") / 25.0).cast("long").alias("state"),
    )
    w = Window.partitionBy("media_id").orderBy("ts", "event_id")
    versions = (
        staged.withColumn("prev_state", F.lag("state").over(w))
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .select("media_id", "state", F.col("ts").alias("valid_from"), "event_id")
    )
    # event_id tiebreak: two changes at one timestamp would otherwise
    # make the lead() interval chain engine-dependent.
    w2 = Window.partitionBy("media_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return versions.select(
        "media_id",
        "state",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().cast("int").alias("is_current"),
    )


# --------------------------------------------------------------------------
# Wave 3: remaining TPC-H subquery taxonomy (Q15/Q17/Q19/Q20/Q21)
# --------------------------------------------------------------------------

_Q15_ORACLE = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
                   AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(CAST(r.total_rev AS STRING) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


@query("top_supplier_q15", oracle=_Q15_ORACLE)
def top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped max-over-aggregate (quarter's top revenue
    supplier). The oracle uses the spec's scalar-subquery-on-a-view
    form, which scans lineitem twice; the Spark side instead computes
    the revenue aggregate ONCE and takes the max with an empty-frame
    window over the (|suppliers|-sized) aggregate — at 100 TB that
    halves the big scan, and the window input is already tiny.
    Revenue is compared for equality, so it must be exact: the whole
    comparison stays in DECIMAL and is only cast to double for output."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    from pyspark.sql import Window

    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(25,6)"
                )
            ).alias("total_rev")
        )
    )
    best = rev.withColumn(
        "max_rev", F.max("total_rev").over(Window.partitionBy())
    ).filter(F.col("total_rev") == F.col("max_rev"))
    return (
        supplier.join(best, supplier.s_suppkey == best.supplier_no)
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


_Q17_SQL = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0
               AS avg_yearly,
           COUNT(*) AS n_small_qty_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < (
            SELECT 0.5 * AVG(l_quantity) FROM lineitem
            WHERE l_partkey = l.l_partkey
          )
"""


@query("small_qty_revenue_q17", oracle=_Q17_SQL)
def small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated scalar AVG used as a row predicate
    (revenue lost to small-quantity orders). Catalyst decorrelates the
    per-part AVG into one aggregate over lineitem joined back on
    partkey — lineitem is scanned twice but never re-executed per row,
    and the brand filter prunes the probe side at the scan. The AVG
    threshold itself is exact without DECIMAL: quantities are
    whole-number doubles, so every partial sum is an integer below
    2^53 and summation order cannot change it (the output SUM still
    routes through DECIMAL per determinism rule #1)."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem", "part"))
    return spark.sql(_Q17_SQL)


_Q19_SQL = """
    SELECT COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1'
           AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#7'
           AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#13'
           AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
"""


@query("disjunctive_pushdown_q19", oracle=_Q19_SQL)
def disjunctive_pushdown_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunction of conjunctive clauses across both
    join sides. The planner splits each OR-branch into its single-table
    conjuncts: part-only predicates (brand OR-set, size ranges) and the
    lineitem quantity envelope are derivable and get pushed below the
    join, so the scans prune before the equi join on partkey; the full
    disjunction is re-applied as a post-join residual. At 100 TB the
    derived scan filters are the difference between joining the whole
    fact table and joining the qualifying slice."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem", "part"))
    return spark.sql(_Q19_SQL)


_Q20_SQL = """
    SELECT s.s_name, s.s_suppkey
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
      AND s.s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE '%widget%'
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY l_suppkey
            HAVING SUM(l_quantity) > 100
          )
"""


@query("excess_stock_suppliers_q20", oracle=_Q20_SQL)
def excess_stock_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped nested IN over a grouped HAVING (suppliers who
    moved significant volume of a part family). The inner block
    aggregates lineitem⋈part down to qualifying suppkeys; the outer IN
    becomes a LEFT SEMI hash join against that (tiny) set, and the
    nation IN-list prunes supplier at the scan. Semi joins never
    multiply rows, so the whole query is bounded by one pass over the
    filtered fact table. HAVING threshold on whole-number-double
    quantities — exact under any summation order."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("supplier", "nation", "lineitem", "part"))
    return spark.sql(_Q20_SQL)


_Q21_ORACLE = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
    GROUP BY s.s_name
"""


@query("waiting_suppliers_q21", oracle=_Q21_ORACLE)
def waiting_suppliers_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped double correlation (suppliers who were the SOLE
    late shipper on multi-supplier finished orders; ship>order+60d
    stands in for receipt>commit). The oracle keeps the spec's
    EXISTS + NOT EXISTS form; the Spark side decorrelates BY HAND into
    a single-pass WINDOW formulation — per order (over the one
    l_orderkey shuffle): the distinct-supplier and distinct-LATE-
    supplier sets as collect_set windows (bounded: an order has a
    handful of lines) — then keeps late lines where n_supp > 1 and
    n_late = 1. Aggregate-then-rejoin would scan and shuffle lineitem
    TWICE (the late filter pushes different predicates into each
    subtree, defeating ReusedExchange — measured); the window form
    scans it once, which is the only Q21 shape that survives a fact
    table that won't fit a second pass. supplier is SF-scaled: no
    broadcast hint (policy), AQE decides."""
    from pyspark.sql import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    joined = lineitem.join(
        finished, lineitem.l_orderkey == finished.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    sole_late = (
        joined.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late",
            F.size(
                F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
            ),
        )
        .filter(F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        sole_late.join(supplier, sole_late.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# Wave 3: training-data pipeline — decontamination, centroids, packing
# --------------------------------------------------------------------------

_DECONTAM_ORACLE = rf"""
    WITH t AS (
        SELECT doc_id, source, regexp_split_to_array({_NORM}, '\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               CASE WHEN len(toks) < 4 THEN []::VARCHAR[]
                    ELSE list_distinct([array_to_string(toks[i:i+3], ' ')
                                        for i in range(1, len(toks) - 2)])
               END AS g
        FROM t
    ),
    bench AS (SELECT DISTINCT unnest(g) AS s FROM sh WHERE source = 'src0'),
    train AS (SELECT doc_id, unnest(g) AS s FROM sh WHERE source <> 'src0'),
    hits AS (SELECT DISTINCT t.doc_id FROM train t JOIN bench b ON b.s = t.s)
    SELECT d.doc_id, d.source,
           CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
    FROM (SELECT doc_id, source FROM documents WHERE source <> 'src0') d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


@query("decontaminate_ngrams", oracle=_DECONTAM_ORACLE)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    any word 4-gram with the benchmark set (source 'src0' stands in
    for the eval corpus). The benchmark's distinct shingle set is tiny
    and FIXED-cardinality relative to the training corpus — exactly
    the asymmetry the plan exploits: explode training shingles, LEFT
    SEMI join against the benchmark set (broadcastable), then distinct
    doc ids. Nothing ever multiplies: semi join + distinct keep the
    intermediate bounded by the exploded scan, which is the same work
    the shingling pass already does. The flag join back to the
    training slice is on doc_id (unique), also non-multiplying."""
    from ..functions.dedupe import fan_out, shingles
    from ..functions.text import normalize_text

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(shingles(normalize_text(F.col("text")), k=4))
        ).alias("s"),
    )
    bench = sh.filter(F.col("source") == "src0").select("s").distinct()
    train = sh.filter(F.col("source") != "src0")
    hits = (
        train.join(bench, "s", "left_semi").select("doc_id").distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .fillna(0, subset=["contaminated"])
    )


_CENTROID_ORACLE = """
    SELECT label,
           dim1 - 1 AS dim,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_scaled,
           CAST(SUM(CAST(FLOOR((CAST(x AS DOUBLE) * 1000)
                               * (CAST(x AS DOUBLE) * 1000)) AS BIGINT))
                AS BIGINT) AS sumsq_scaled
    FROM (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS dim1
        FROM embeddings
    )
    GROUP BY 1, 2
"""


@query("embedding_centroid_profile", oracle=_CENTROID_ORACLE)
def embedding_centroid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid sufficient statistics over the embedding
    corpus: count, per-dimension sum and sum-of-squares (centroid =
    sum/n; dispersion = sumsq/n - mean² downstream). Floats are scaled
    and FLOORED to exact integers BEFORE aggregation — float32→double
    is exact and IEEE multiply is bit-deterministic, so both engines
    floor identical doubles, and integer sums are order-independent
    (determinism rule #1 taken to its limit: no decimals, just longs).
    posexplode multiplies rows by the dimension count, but the
    groupBy(label, dim) partial-aggregates map-side, so the shuffle
    carries only |labels|·|dims| rows — the explode never crosses the
    wire. This is the building block semantic dedup and IVF both reuse
    (functions/similarity.py ivf_build collects the same stats via
    Spark ML — this is the pure-SQL exact twin)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "xf")
    ).withColumn("x", F.col("xf").cast("double"))
    return ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1000000.0).cast("long")).alias("sum_scaled"),
        F.sum(
            F.floor((F.col("x") * 1000.0) * (F.col("x") * 1000.0)).cast("long")
        ).alias("sumsq_scaled"),
    )


_PACKING_ORACLE = rf"""
    WITH t AS (
        SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents
    ),
    c AS (
        SELECT *,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT source,
           CAST(FLOOR(cum_before / 256) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           COUNT(CASE WHEN FLOOR(cum_before / 256)
                       <> FLOOR((cum_before + n_tok - 1) / 256)
                 THEN 1 END) AS boundary_docs
    FROM c
    GROUP BY 1, 2
"""


@query("sequence_packing", oracle=_PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation-style sequence packing: documents are laid out
    per source in doc_id order and chopped into fixed 256-token
    training contexts; each doc is assigned the bin where it STARTS
    (floor of the running token count before it), and docs straddling
    a boundary are counted per bin. One window + one aggregate, both
    partitioned by source — a single shuffle, and the running sum is
    over exact integers so the layout is bit-identical on any engine
    or partitioning. The capacity is a parameter; 256 makes the
    boundary condition exercised at every SF (bin fill ~6 docs)."""
    from pyspark.sql import Window
    from ..functions import text as Tx

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", Tx.token_count("text").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    bin_id = F.floor(F.col("cum_before") / 256)
    crosses = bin_id != F.floor((F.col("cum_before") + F.col("n_tok") - 1) / 256)
    return (
        c.withColumn("bin_id", bin_id.cast("long"))
        .withColumn("crosses", crosses)
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("bin_tokens"),
            F.count(F.when(F.col("crosses"), 1)).alias("boundary_docs"),
        )
    )


# --------------------------------------------------------------------------
# Wave 3b: the remaining TPC-H shapes — the full 22 are now covered
# (Q1≈sql_pricing_summary, Q2,4,7,8,13,15,16,17,18,19,20,21,22 above)
# --------------------------------------------------------------------------

_Q3_SQL = """
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_date,
           o.o_orderpriority,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(25,6))) AS DOUBLE), 6) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""


@query("unshipped_orders_q3", oracle=_Q3_SQL)
def unshipped_orders_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped segment top-k (highest-value orders booked but
    unshipped at the cutoff). Ties broken by o_orderkey so the LIMIT
    is deterministic cross-engine (a bare ORDER BY revenue LIMIT 10
    would hash-flake whenever two orders tie — same rule as
    top_orders_by_revenue). Spark plans TakeOrderedAndProject over the
    aggregate: per-partition heaps, no global sort. DECIMAL-exact
    revenue makes the ORDER itself deterministic, not just the set."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("customer", "orders", "lineitem"))
    return spark.sql(_Q3_SQL)


_Q5_SQL = """
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
"""


@query("local_supplier_volume_q5", oracle=_Q5_SQL)
def local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped cyclic join topology: the supplier join carries
    TWO predicates — the lineitem equi key AND the supplier-customer
    same-nation constraint — closing the customer→order→lineitem→
    supplier→nation cycle. The extra equality rides the hash join as a
    join-side residual (no second shuffle); nation/region broadcast
    (fixed cardinality, hint policy); the date window pushes to the
    orders scan. This cycle is the canonical case where join ORDER
    matters at 100 TB: filter orders first, then grow through
    lineitem, never materialize customer×supplier."""
    from ..sql import register_tables

    register_tables(
        spark, sf_dir,
        tables=("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return spark.sql(_Q5_SQL)


_Q6_SQL = """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount
                               AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
"""


@query("forecast_revenue_q6", oracle=_Q6_SQL)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped pure scan-aggregate: every predicate is a
    single-column comparison, so ALL of them reach the parquet reader
    as PushedFilters and the projection prunes to 4 columns — the
    plan is scan → partial agg → single-row exchange. At 100 TB this
    query IS the pushdown test: no join, no wide shuffle, just
    row-group skipping doing the work."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem",))
    return spark.sql(_Q6_SQL)


_Q9_SQL = """
    SELECT n.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - 0.6 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
"""


@query("product_profit_q9", oracle=_Q9_SQL)
def product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped multi-dimension profit rollup (testdata has no
    partsupp, so unit cost is modeled as 0.6·p_retailprice — the join
    topology, which is what Q9 exercises, is unchanged). The p_name
    LIKE filter prunes part BEFORE its join, shrinking the build side;
    lineitem⋈orders is the large shuffle; nation broadcasts. Profit is
    a per-row IEEE expression routed through DECIMAL only at the SUM."""
    from ..sql import register_tables

    register_tables(
        spark, sf_dir, tables=("lineitem", "part", "supplier", "orders", "nation")
    )
    return spark.sql(_Q9_SQL)


_Q10_SQL = """
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(25,6))) AS DOUBLE), 6) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("returned_items_q10", oracle=_Q10_SQL)
def returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-revenue top-k by customer. The
    returnflag filter pushes to the lineitem scan and the half-year
    window to orders, so the join sees both sides pre-filtered; the
    top-20 is TakeOrderedAndProject with the c_custkey tiebreak
    (deterministic LIMIT under revenue ties, DECIMAL-exact order)."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("customer", "orders", "lineitem", "nation"))
    return spark.sql(_Q10_SQL)


_Q11_SQL = """
    WITH v AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS val
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM v
    WHERE val > (SELECT SUM(val) * 0.0008 FROM v)
"""


@query("important_stock_q11", oracle=_Q11_SQL)
def important_stock_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped aggregate filtered against a scalar aggregate
    of ITSELF (parts whose traded value exceeds a fraction of total;
    lineitem value stands in for partsupp stock value). Catalyst
    evaluates the total once over the same per-part aggregate and
    broadcasts the scalar — the fact table is scanned once for the
    groupBy and once for the total in the naive plan; the membership
    threshold stays in DECIMAL end-to-end because it's a predicate
    (determinism rule from Q22 applied to self-referential HAVING)."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem",))
    return spark.sql(_Q11_SQL)


_Q12_SQL = """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
"""


@query("shipmode_priority_q12", oracle=_Q12_SQL)
def shipmode_priority_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped conditional counting (priority mix per return
    class; l_returnflag stands in for the missing l_shipmode). The
    CASE counts are integer sums — immune to ordering by construction;
    the ship-date year pushes to the lineitem scan; one shuffle on the
    3-value grouping key after map-side partials."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("orders", "lineitem"))
    return spark.sql(_Q12_SQL)


_Q14_SQL = """
    SELECT ROUND(
             100.0
             * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                             THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                       AS DECIMAL(25,6))
                             ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(25,6))) AS DOUBLE),
             6) AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@query("promo_revenue_q14", oracle=_Q14_SQL)
def promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped conditional revenue ratio (promo share of a
    month's revenue). BOTH sums are DECIMAL-exact before the single
    double division — dividing two bit-identical doubles is IEEE-
    deterministic, so the 6-dp round cannot sit on a half-boundary
    disagreement (the unsafe pattern is rounding DIFFERENT doubles).
    One scan of the month's lineitem slice, part join pruned to the
    type column."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem", "part"))
    return spark.sql(_Q14_SQL)


# --------------------------------------------------------------------------
# Distributed REST ingest, driver-checked (S3 scale path, SURVEY.md EP1)
# --------------------------------------------------------------------------

_REST_FANOUT_SQL = """
    SELECT event_type AS media_id,
           CAST(CEIL(COUNT(*) / 50.0) AS BIGINT) AS n_pages,
           COUNT(*)                              AS n_events,
           CAST(SUM(event_id) AS BIGINT)         AS sum_event_id,
           COUNT(DISTINCT user_id)               AS n_visitors
    FROM events
    GROUP BY 1
"""


@query("rest_fanout_ingest", oracle=_REST_FANOUT_SQL)
def rest_fanout_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end distributed REST ingestion under the differential check.

    The reference fetched API pages in a driver-side loop while the
    cluster sat idle (bronze wistia_pull_wistia_api.py:181-232, SURVEY.md
    EP1); the engine fans the same bounded page loop out over executors
    with ``mapInPandas`` (``rest_source.fetch_media_pages_distributed``).
    Here the pluggable transport is the parquet-backed fake API
    (``sources/fake_api.py``): every page an executor "fetches" is a
    deterministic slice of the events table, so the ingested feed —
    page counts, row counts, content checksums (SUM of event ids),
    visitor cardinality — must exactly equal a plain SQL aggregate over
    that table. This converts the fan-out path from tests-only to
    driver-green: pagination (total/per_page envelope termination),
    per-executor transport construction, payload JSON round-trip, and
    the ingest→parse→aggregate seam are all inside the hash comparison.

    Scale: one task per media id (the repartition key), each doing one
    pushdown-filtered read + in-memory paging; ingest bandwidth scales
    with the cluster, and the page payloads are parsed JVM-side by
    ``from_json`` — the Python surface is only the fetch loop itself.
    """
    from functools import partial

    from ..sources.fake_api import PER_PAGE, ParquetEventsTransport, url_for
    from ..sources.rest_source import PullConfig, fetch_media_pages_distributed

    media_ids = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    )
    pages = fetch_media_pages_distributed(
        spark,
        media_ids,
        url_for,
        partial(ParquetEventsTransport, sf_dir),
        config=PullConfig(
            per_page=PER_PAGE, max_pages=10**6, time_budget_seconds=3600.0
        ),
    )
    evs = pages.select(
        "media_id",
        "page",
        F.explode(
            F.from_json("payload", "array<struct<event_id:bigint,user_id:bigint>>")
        ).alias("ev"),
    )
    return evs.groupBy("media_id").agg(
        F.countDistinct("page").alias("n_pages"),
        F.count("*").alias("n_events"),
        F.sum("ev.event_id").alias("sum_event_id"),
        F.countDistinct("ev.user_id").alias("n_visitors"),
    )


@query("rest_datasource_ingest", oracle=_REST_FANOUT_SQL)
def rest_datasource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ingestion through Spark 4's Python DataSource API.

    ``sources/datasource.py`` wraps the bounded page loop as a
    registered format — ``spark.read.format("paged_rest")`` — with one
    ``InputPartition`` per media id, so Spark itself schedules/retries
    fetch tasks like any other scan (and the stream variant tracks
    per-media page offsets in the streaming offset log). Same parquet-
    backed fake API, same plain-SQL oracle as ``rest_fanout_ingest``:
    the two surfaces must agree with the table and therefore with each
    other. This is the "a user points spark.read at the API" form of
    S3; the mapInPandas form remains for composing with upstream state.
    """
    import json as _json

    from ..sources.datasource import PagedRestDataSource

    spark.dataSource.register(PagedRestDataSource)
    media_ids = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    )
    pages = (
        spark.read.format("paged_rest")
        .option("media_ids", _json.dumps(media_ids))
        .option(
            "transport",
            "wistia_etl_pipeline_spark.sources.fake_api:transport_factory_from_options",
        )
        .option("sf_dir", sf_dir)
        .option("max_pages", "1000000")
        .option("time_budget_seconds", "3600")
        .load()
    )
    evs = pages.select(
        "media_id",
        "page",
        F.explode(
            F.from_json("payload", "array<struct<event_id:bigint,user_id:bigint>>")
        ).alias("ev"),
    )
    return evs.groupBy("media_id").agg(
        F.countDistinct("page").alias("n_pages"),
        F.count("*").alias("n_events"),
        F.sum("ev.event_id").alias("sum_event_id"),
        F.countDistinct("ev.user_id").alias("n_visitors"),
    )


_TXLOG_APPEND_SQL = """
    SELECT event_type,
           COUNT(*)     AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           5            AS n_commits
    FROM events
    GROUP BY 1
"""


@query("txlog_append_ingest", oracle=_TXLOG_APPEND_SQL)
def txlog_append_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fact-table accumulation on the transaction log.

    The 100 TB fact-table path (module docstring, ``sources/txlog.py``):
    each of 5 ingest batches lands as an ``append()`` — new parquet
    files plus an O(1) manifest listing old + new; committed history is
    never read or rewritten (byte-identity of prior files is pinned by
    ``test_append_reuses_prior_files_without_rewrite``). The head
    snapshot must therefore equal the union of the batches, i.e. a
    plain aggregate over the source table; ``n_commits`` (= head
    version + 1) rides the hash so the driver also verifies the table
    was really built by 5 incremental commits, not one write.

    Reference contrast: bronze accumulated pages as raw S3 puts with no
    table semantics (wistia_pull_wistia_api.py:117-129); here the same
    accumulate-only workload gets snapshot isolation, time travel, and
    file-level vacuum for the cost of one manifest per batch.
    """
    import tempfile

    from ..sources.txlog import TxLogTable

    table = TxLogTable(tempfile.mkdtemp(prefix="wistia_append_") + "/tbl")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    kinds = sorted(r[0] for r in events.select("event_type").distinct().collect())
    for kind in kinds:
        table.append(events.where(F.col("event_type") == kind))
    head = table.read(spark)
    n_commits = table.current_version() + 1
    return head.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
        F.lit(n_commits).cast("int").alias("n_commits"),
    )


_TXLOG_INCREMENTAL_SQL = """
    SELECT event_type,
           COUNT(*)      AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events
    WHERE event_type IN (
        SELECT event_type
        FROM (SELECT DISTINCT event_type FROM events ORDER BY event_type OFFSET 2)
    )
    GROUP BY 1
"""


@query("txlog_incremental_read", oracle=_TXLOG_INCREMENTAL_SQL)
def txlog_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF-style incremental consumption off the transaction log.

    A downstream consumer checkpoints the last version it processed and
    calls ``read_changes(since_version)`` — which scans ONLY the files
    later appends added (O(delta), never O(table); the rewrite guard is
    pinned by ``test_read_changes_refuses_rewrites_unless_snapshot``).
    Here: two batches land, the consumer marks its checkpoint, three
    more batches land; the incremental read must return exactly those
    three batches — i.e. the events whose type sorts after the first
    two — which is what the oracle computes directly from the source.

    Reference contrast: the bronze job's downstream (silver) re-lists
    and re-reads the whole partition space every run
    (wistia_transform_silver.py:29-38); a log-backed consumer reads
    only the delta.
    """
    import tempfile

    from ..sources.txlog import TxLogTable

    table = TxLogTable(tempfile.mkdtemp(prefix="wistia_incr_") + "/tbl")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    kinds = sorted(r[0] for r in events.select("event_type").distinct().collect())
    for kind in kinds[:2]:
        table.append(events.where(F.col("event_type") == kind))
    consumer_checkpoint = table.current_version()
    for kind in kinds[2:]:
        table.append(events.where(F.col("event_type") == kind))
    delta = table.read_changes(spark, consumer_checkpoint)
    return delta.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
    )


_TXLOG_BACKFILL_SQL = """
    SELECT event_type,
           COUNT(*)      AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM (
        SELECT event_type, event_id
        FROM events
        WHERE event_type <> (SELECT MIN(event_type) FROM events)
        UNION ALL
        SELECT event_type, event_id + 1000000000
        FROM events
        WHERE event_type = (SELECT MIN(event_type) FROM events)
          AND event_id % 2 = 0
    )
    GROUP BY 1
"""


@query("txlog_partition_backfill", oracle=_TXLOG_BACKFILL_SQL)
def txlog_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: the day-backfill path.

    Load events partitioned by ``event_type``, then re-land ONE
    partition (the first type, keeping only even event ids with a
    +1e9 id shift so replacement — not merge — is observable in the
    hash). ``overwrite_partitions`` writes and commits O(partition):
    every other partition's files are carried into the new manifest
    byte-identical (pinned by
    ``test_overwrite_partitions_backfills_only_touched_day``), which is
    what makes re-landing one day of a 100 TB fact table affordable.
    The oracle rebuilds the same final state set-theoretically:
    everything outside the replaced partition, plus the restated rows.

    Reference contrast: the silver job's backfill story is "overwrite
    the whole output path" (wistia_transform_silver.py:50-54 writes
    mode=overwrite over the full frame); partition-scoped replacement
    is the scale-safe version of that truncate-and-reload.
    """
    import tempfile

    from ..sources.txlog import TxLogTable

    table = TxLogTable(tempfile.mkdtemp(prefix="wistia_backfill_") + "/tbl")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    table.overwrite_partitions(events, ["event_type"])
    first_kind = events.agg(F.min("event_type")).collect()[0][0]
    backfill = (
        events.where(
            (F.col("event_type") == first_kind) & (F.col("event_id") % 2 == 0)
        )
        .withColumn("event_id", F.col("event_id") + F.lit(1000000000))
    )
    table.overwrite_partitions(backfill, ["event_type"])
    return table.read(spark).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
    )


# --------------------------------------------------------------------------
# Corpus statistics: vocabulary build, unigram commonness, rare terms
# --------------------------------------------------------------------------

@query(
    "vocab_top_tokens",
    oracle=rf"""
    SELECT tok,
           COUNT(*) AS n
    FROM documents, unnest({_TOKS}) AS u(tok)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: global token frequencies, top 100.

    The first step of any tokenizer/vocab pipeline (BPE merges, vocab
    pruning, stopword discovery) over a training corpus. Shape at
    100 TB: explode → hash-aggregate on the token — partial counts
    combine map-side before the single shuffle (tokens are zipfian, so
    map-side combine absorbs the hot head) — then a global top-k via
    TakeOrderedAndProject, never a full sort. Ties broken by token
    text so the LIMIT is deterministic (NOTES_r2 rule: top-k needs an
    explicit tiebreak or ties hash-flake).
    """
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(100)
    )


_COMMONNESS_SQL = rf"""
    WITH tok AS (
        SELECT doc_id, tok
        FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    vocab AS (
        SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    )
    SELECT doc_id,
           COUNT(*)   AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS sum_global_freq,
           MIN(c)     AS min_global_freq
    FROM tok JOIN vocab USING (tok)
    GROUP BY doc_id
"""


@query("doc_token_commonness", oracle=_COMMONNESS_SQL)
def doc_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM commonness profile per document — the exact-integer
    surrogate for unigram log-probability quality filters (documents
    whose tokens are globally rare score low; boilerplate scores
    high). A float -log p would sum doubles in engine-dependent order
    and can't hash-match (determinism rule #2); the exact BIGINT pair
    (sum, min of global frequencies) carries the same ranking signal.

    Shape at 100 TB: token-exploded corpus self-joined to its own
    frequency table — an equi shuffle join on the token key with
    partial aggregation on both sides; no broadcast hint because a
    corpus vocabulary scales with the corpus (the same policy VERDICT
    r1 #4 set for SF-scaled dims).
    """
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return tok.join(vocab, "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("c").alias("sum_global_freq"),
        F.min("c").alias("min_global_freq"),
    )


_RARE_TERMS_SQL = rf"""
    WITH tok AS (
        SELECT DISTINCT doc_id, tok
        FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    df AS (
        SELECT tok, COUNT(*) AS doc_freq FROM tok GROUP BY tok
    ),
    ranked AS (
        SELECT doc_id, tok, doc_freq,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY doc_freq, tok
               ) AS rnk
        FROM tok JOIN df USING (tok)
    )
    SELECT doc_id, tok, doc_freq, rnk
    FROM ranked WHERE rnk <= 3
"""


@query("doc_rare_terms", oracle=_RARE_TERMS_SQL)
def doc_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per document: the 3 tokens with the lowest
    corpus document-frequency — tf-idf's idf half with exact integers
    (idf = log(N/df) is monotone in df, so ranking by df ascending IS
    the idf ranking, minus the un-hashable log).

    Shape: distinct (doc, token) pairs → document-frequency aggregate →
    equi join back → per-doc window top-k. The window partitions by
    doc_id (tens of rows per partition after distinct), so no skew;
    rank ties broken by token text for determinism.
    """
    from ..functions.text import tokens
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct()
    df_ = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = Window.partitionBy("doc_id").orderBy(F.col("doc_freq"), F.col("tok"))
    return (
        tok.join(df_, "tok")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "tok", "doc_freq", "rnk")
    )


# --------------------------------------------------------------------------
