"""Sessionization, SimHash, salted agg, pivot/rollup breadth, event analytics windows, bronze-to-gold e2e pipeline.

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
    _MERGE_BY_KEY_ORACLE,
    _NORM,
    _TOKS,
    _dup_corpus,
    _latest_slice,
    _sql_stoplist,
)

# Sessionization (gaps-and-islands + session_window), SimHash, salted agg
# --------------------------------------------------------------------------

@query(
    "sessionize_events",
    oracle="""
    SELECT user_id AS visitor_key, event_id,
           CAST(session_seq AS BIGINT) AS session_seq
    FROM (
        SELECT user_id, event_id,
               SUM(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 3600000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id
                       ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
                       ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM (
            SELECT user_id, event_id, ts,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC NULLS FIRST,
                                          event_id ASC NULLS FIRST) AS prev_ts
            FROM events
        )
    )
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-grain sessionization (gaps-and-islands): new session after a
    >60 min silence. lag + running sum over one (user, time) window —
    a single shuffle on the user key (operators/sessionize.py).

    r1/r2 driver hash-red root cause (r3 fix): DuckDB's windowed
    SUM(integer) returns HUGEINT; int128 renders as float in
    pandas-based fetches, so 5 vs 5.0 hash-diverged at the driver
    while the local fetchall()-based replica normalized it away. The
    oracle now CASTs to BIGINT (determinism rule #9) and spells the
    window null ordering explicitly (Spark ASC = NULLS FIRST, DuckDB
    ASC = NULLS LAST — divergent defaults if driver data ever has
    NULL ts)."""
    from ..operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events")
    out = sessionize(
        events, user="user_id", event_time="ts", gap_minutes=60, tiebreak="event_id"
    )
    return out.select(
        F.col("user_id").alias("visitor_key"), "event_id", "session_seq"
    )


@query(
    "session_rollup_events",
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) >= 3600000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM lagged
    )
    SELECT user_id AS visitor_key,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, sid
    """,
)
def session_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain rollup via the built-in ``session_window`` (the
    same call works on a stream). Oracle replicates the half-open
    session semantics (break at gap ≥ 60 min) with gaps-and-islands."""
    from ..operators.sessionize import session_rollup

    events = load_table(spark, sf_dir, "events")
    out = session_rollup(events, user="user_id", event_time="ts", gap_minutes=60)
    return out.select(
        F.col("user_id").alias("visitor_key"),
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


def _simhash_oracle() -> str:
    bit_terms = []
    for b in range(60):
        bit_terms.append(
            f"CASE WHEN list_sum([CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END for x in hs]) > 0 "
            f"THEN {1 << b} ELSE 0 END"
        )
    votes = " + ".join(bit_terms)
    return rf"""
    WITH base AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array({_NORM}, '\s+')) AS sh
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               [('0x' || substr(md5(s), 1, 15))::BIGINT for s in sh] AS hs,
               len(sh) AS n
        FROM base
    )
    SELECT doc_id,
           CASE WHEN n = 0 THEN 0 ELSE ({votes}) END AS simhash
    FROM h
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures (bit-vote over md5-derived shingle
    hashes) via the Arrow-batched scale path (~9x the expression form;
    identical output, unit-tested) — near-dups then reduce to
    hamming-distance band joins (functions/dedupe.py)."""
    from ..functions.dedupe import with_simhash_pandas
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    normed = docs.select("doc_id", normalize_text(F.col("text")).alias("nt"))
    return with_simhash_pandas(normed, "nt").select("doc_id", "simhash")


@query(
    "gold_rollup_salted",
    oracle="""
    SELECT event_type AS media_id,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY 1
    """,
)
def gold_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase salted aggregation — identical results
    to the single-phase groupBy (this oracle IS the single-phase
    query), but a hot key's work spreads over 32 reducers in phase 1
    (operators/skew.py)."""
    from ..operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(25,6)")
    )
    out = salted_agg(
        events,
        ["event_type"],
        salt_from="event_id",
        n_salts=32,
        counts=True,
        sum_cols=["value_dec"],
        min_cols=["value"],
        max_cols=["value"],
    )
    return out.select(
        F.col("event_type").alias("media_id"),
        "n",
        F.round(F.col("sum_value_dec").cast("double"), 6).alias("sum_value"),
        F.col("min_value").alias("min_value"),
        F.col("max_value").alias("max_value"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                    ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                        for i in range(1, len(toks) - 1)])
               END AS g
        FROM t
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(CASE WHEN len(list_distinct(a.g || b.g)) = 0 THEN 0.0
                      ELSE len(list_intersect(a.g, b.g))
                           / len(list_distinct(a.g || b.g)) END, 6) AS jaccard_sim
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (word-trigram) Jaccard similarity between adjacent
    doc ids — the verification kernel every LSH candidate pair runs
    through, exercised standalone on k=3 shingles."""
    from ..functions.dedupe import fan_out, jaccard, shingles
    from ..functions.text import normalize_text

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # persisted: the adjacent-id self-join would otherwise shingle the
    # corpus once per side (no ReusedExchange — NOTES rule #7)
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            shingles(normalize_text(F.col("text")), k=3)
        ).alias("g"),
    ).persist()
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.round(jaccard(F.col("a.g"), F.col("b.g")), 6).alias("jaccard_sim"),
        )
    )


@query(
    "similarity_ivf_topk",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS k, CAST(5 AS BIGINT) AS nprobe,
           CAST(16 AS BIGINT) AS n_lists,
           CAST(1 AS BIGINT) AS exhaustive_exact,
           CAST(1 AS BIGINT) AS pruned_recall_ok
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, recall-anchored: build the inverted-file index (seeded
    k-means coarse quantizer) and compare its search against the exact
    brute-force top-10 INSIDE the query — k-means training is the one
    genuinely non-SQL algorithm here, so the oracle anchors the
    *contract*, not the list. Two flags, chosen to be SF-robust:

    - ``exhaustive_exact``: probing ALL n_lists must reproduce the
      brute-force top-10 EXACTLY — deterministic at any SF (same
      scoring, same tiebreak), and it exercises the whole index
      machinery (assignment, probe routing, list scan, ranking). Any
      dropped vector or mis-assignment breaks it.
    - ``pruned_recall_ok``: nprobe=5 keeps overlap ≥ 5. At sf0.01 the
      measured overlap is 10/10; the floor is low because pruned-probe
      recall is DATA-dependent — on an unstructured (uniform-random)
      corpus neighbors spread across cells (measured 5/10 at sf0.001,
      the classic no-cluster worst case) — while catastrophic breakage
      (wrong cells probed, empty probe) still lands well below it."""
    from ..functions.similarity import cosine_topk, ivf_build, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_lists=16)
    query_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = cosine_topk(emb, qcol, k=10).select("vec_id")
    full = ivf_topk(assigned, centroids, query_vec, k=10, nprobe=16).select("vec_id")
    pruned = ivf_topk(assigned, centroids, query_vec, k=10, nprobe=5).select("vec_id")
    n_full = full.join(exact, "vec_id", "inner").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_pruned = pruned.join(exact, "vec_id", "inner").agg(
        F.count(F.lit(1)).alias("n")
    )
    return n_full.crossJoin(n_pruned.withColumnRenamed("n", "n2")).select(
        F.lit(10).cast("long").alias("k"),
        F.lit(5).cast("long").alias("nprobe"),
        F.lit(16).cast("long").alias("n_lists"),
        (F.col("n") == 10).cast("long").alias("exhaustive_exact"),
        (F.col("n2") >= 5).cast("long").alias("pruned_recall_ok"),
    )


@query(
    "text_quality_filter",
    oracle=rf"""
    WITH q AS (
        SELECT doc_id,
               0.4 * least(length(text) / 500.0, 1.0)
             + 0.3 * (1.0 - least(
                   (length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                    / length(text)) * 4.0, 1.0))
             + 0.3 * least(
                   (len([t for t in {_TOKS} if list_contains({{stop_en}}, t)])
                    / len({_TOKS})) * 5.0, 1.0) AS quality
        FROM documents
    )
    SELECT doc_id, quality
    FROM q WHERE quality >= 0.5
    """.replace("{stop_en}", _sql_stoplist("en")),
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score corpus filtering — the composite heuristic
    (length sweet-spot + punctuation noise + stopword fluency,
    functions/text.py quality_score) as a WHERE clause, the way a
    training-data pipeline gates documents."""
    from ..functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", quality_score("text", lang="en").alias("q"))
    # NO rounding: per-row IEEE arithmetic is bit-identical across
    # engines, while ROUND implementations differ at half-boundaries
    # (DuckDB rounds via x*1e6 in float; Spark via exact decimal)
    return scored.filter(F.col("q") >= 0.5).select(
        "doc_id", F.col("q").alias("quality")
    )


@query(
    "text_chunking",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks,
               greatest(CAST(ceil((len(toks) - 16) / 112.0) AS INT), 1) AS n_chunks
        FROM t
    ),
    u AS (
        SELECT doc_id,
               unnest([{'idx': i,
                        'txt': array_to_string(toks[i*112+1:i*112+128], ' '),
                        'n': len(toks[i*112+1:i*112+128])}
                       for i in range(0, n_chunks)]) AS ch
        FROM c
    )
    SELECT doc_id, ch.idx AS chunk_idx, ch.txt AS chunk_text, ch.n AS chunk_n_tokens
    FROM u
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (128-token chunks, 16-token
    overlap) — the long-document fan-out step of a training corpus
    pipeline (functions/text.chunk_documents)."""
    from ..functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, "text", chunk_tokens=128, overlap=16).select(
        "doc_id", "chunk_idx", "chunk_text", "chunk_n_tokens"
    )


@query(
    "dataset_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5('wistia-split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 100
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% train/test split by hashed doc id — stable
    under appends/re-partitioning (functions/text.dataset_split)."""
    from ..functions.text import dataset_split as _split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return _split(docs, "doc_id", test_permille=100)


@query(
    "top_orders_by_revenue",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           epoch_us(o.o_orderdate) AS orderdate_us,
           o.o_orderpriority AS orderpriority,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE), 6) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dim filter → join → agg → global
    top-k. The segment filter pushes into the customer scan; whether
    the filtered customer side broadcasts is exactly the decision AQE's
    runtime size re-check exists for (filter selectivity is runtime
    info, and customer scales with SF) — no forced hint. The final
    ORDER BY+LIMIT plans TakeOrderedAndProject — no full sort."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).join(customer, orders.o_custkey == customer.c_custkey)
    agg = joined.groupBy(
        F.col("l_orderkey").alias("orderkey"),
        # o_orderdate arrives TIMESTAMP_NTZ (micros parquet) — cast to
        # TimestampType (UTC session) before unix_micros
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("orderdate_us"),
        F.col("o_orderpriority").alias("orderpriority"),
    ).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(25,6)"
                )
            ).cast("double"),
            6,
        ).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), "orderkey").limit(10)


@query(
    "supplier_diversity_by_type",
    oracle="""
    SELECT p.p_type AS part_type,
           p.p_brand AS brand,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt,
           COUNT(*) AS line_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def supplier_diversity_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: grouped COUNT(DISTINCT) over a dim join
    (strategy stats/AQE-decided — part scales with SF) — Catalyst
    plans the distinct via expand + two-phase agg, so the fact
    shuffles once keyed on (group, suppkey)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = lineitem.join(
        part.select("p_partkey", "p_type", "p_brand"),
        lineitem.l_partkey == part.p_partkey,
    )
    return joined.groupBy(
        F.col("p_type").alias("part_type"), F.col("p_brand").alias("brand")
    ).agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt"),
        F.count(F.lit(1)).alias("line_cnt"),
    )


# --------------------------------------------------------------------------
# Aggregation breadth: pivot, grouping sets (ROLLUP), exact percentiles
# --------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id AS visitor_key,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — wide per-key activity profile. An explicit pivot-value
    list keeps it a single pass (no extra distinct-values job) and a
    fixed output schema — mandatory at scale."""
    events = load_table(spark, sf_dir, "events")
    wide = (
        events.groupBy(F.col("user_id").alias("visitor_key"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return wide.select(
        "visitor_key",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


@query(
    "rollup_engagement",
    oracle="""
    SELECT event_type AS media_id,
           CAST(ts AS DATE) AS dt,
           COUNT(*) AS load_count,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6) AS value_sum
    FROM events
    GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
    """,
)
def rollup_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (ROLLUP) — per-(media, day), per-media, and grand
    totals in ONE pass (Catalyst plans an Expand + single aggregate:
    one scan, one shuffle — vs three separate jobs)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.rollup(
            F.col("event_type").alias("media_id"), F.to_date("ts").alias("dt")
        )
        .agg(
            F.count(F.lit(1)).alias("load_count"),
            F.round(
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
            ).alias("value_sum"),
        )
    )


@query(
    "percentile_engagement",
    oracle="""
    SELECT event_type AS media_id,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.95) AS p95,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def percentile_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (both engines implement
    the same (n-1)p linear interpolation — values match bit-for-bit, no
    rounding needed). At 100 TB switch to percentile_approx (t-digest,
    mergeable, single-pass) — the same exact/approx trade documented
    for COUNT(DISTINCT)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.col("event_type").alias("media_id")).agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# Event analytics: window frames (rolling), funnel, retention
# --------------------------------------------------------------------------

@query(
    "rolling_7d_activity",
    oracle="""
    WITH daily AS (
        SELECT event_type AS media_id, CAST(ts AS DATE) AS dt, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT media_id, dt, n,
           CAST(SUM(n) OVER (PARTITION BY media_id ORDER BY dt ASC NULLS FIRST
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
           COUNT(n) OVER (PARTITION BY media_id ORDER BY dt ASC NULLS FIRST
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS cnt_7d
    FROM daily
    """,
)
def rolling_7d_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAMES — trailing-7-row rolling sum + frame count over the
    daily series. One shuffle on the partition key; the frame is computed
    in a single sorted pass (no self-join, no range blow-up). The rolling
    average is ``n_7d / cnt_7d`` — emitted as the exact integer pair, not
    a rounded double (determinism rule #2: cross-engine ROUND of doubles
    diverges at half-boundaries — the round-1 driver red for this query).
    The r2 residual red's root cause: the integer pair's SUM side came
    back HUGEINT from DuckDB (float-rendered by pandas fetches); the
    oracle now CASTs it to BIGINT (determinism rule #9) and makes the
    frame's NULLS FIRST ordering explicit."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("media_id"), F.to_date("ts").alias("dt")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("media_id").orderBy("dt").rowsBetween(-6, 0)
    return daily.select(
        "media_id",
        "dt",
        "n",
        F.sum("n").over(w).alias("n_7d"),
        F.count("n").over(w).alias("cnt_7d"),
    )


@query(
    "funnel_view_to_purchase",
    oracle="""
    WITH per_user_day AS (
        SELECT user_id, CAST(ts AS DATE) AS dt,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY 1, 2
    )
    SELECT dt,
           COUNT(CASE WHEN first_view IS NOT NULL THEN 1 END) AS viewers,
           COUNT(CASE WHEN first_view IS NOT NULL AND first_purchase > first_view
                      THEN 1 END) AS converted
    FROM per_user_day GROUP BY dt
    """,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel — view→purchase conversion per day, as conditional
    aggregation (one shuffle; NO event-level self-join — the usual
    funnel anti-pattern that explodes at scale)."""
    events = load_table(spark, sf_dir, "events")
    per_user_day = events.groupBy(
        "user_id", F.to_date("ts").alias("dt")
    ).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user_day.groupBy("dt").agg(
        F.count(F.when(F.col("first_view").isNotNull(), 1)).alias("viewers"),
        F.count(
            F.when(
                F.col("first_view").isNotNull()
                & (F.col("first_purchase") > F.col("first_view")),
                1,
            )
        ).alias("converted"),
    )


@query(
    "retention_7d",
    oracle="""
    WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events)
    SELECT a.dt,
           COUNT(*) AS active_users,
           COUNT(r.user_id) AS retained_7d
    FROM active a
    LEFT JOIN active r
      ON r.user_id = a.user_id AND r.dt = a.dt + INTERVAL 7 DAY
    GROUP BY a.dt
    """,
)
def retention_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-day retention — the (user, day) activity set self-joined at a
    +7-day offset. The join runs on the DEDUPED day grain (|users|×|days|
    rows), never on raw events; both sides share the same shuffle key."""
    events = load_table(spark, sf_dir, "events")
    active = events.select("user_id", F.to_date("ts").alias("dt")).distinct()
    a, r = active.alias("a"), active.alias("r")
    return (
        a.join(
            r,
            (F.col("r.user_id") == F.col("a.user_id"))
            & (F.col("r.dt") == F.date_add(F.col("a.dt"), 7)),
            "left",
        )
        .groupBy(F.col("a.dt").alias("dt"))
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.col("r.user_id")).alias("retained_7d"),
        )
    )


@query(
    "asof_join_last_state",
    oracle="""
    WITH states AS (
        SELECT user_id, ts, value AS state_value
        FROM events WHERE event_type = 'signup'
    )
    SELECT e.event_id, e.user_id AS visitor_key,
           epoch_us(e.ts) AS ts_us, s.state_value
    FROM events e
    ASOF LEFT JOIN states s ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
)
def asof_join_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each event gets the user's latest signup state
    at-or-before the event time. Our union+carry-forward composition
    (operators/asof.py: ONE shuffle, linear in |L|+|R|) vs DuckDB's
    native ASOF JOIN as the oracle."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    states = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("state_value")
    )
    out = asof_join(
        events.select("event_id", "user_id", "ts"),
        states,
        on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["state_value"],
    )
    return out.select(
        "event_id",
        F.col("user_id").alias("visitor_key"),
        F.unix_micros("ts").alias("ts_us"),
        "state_value",
    )


@query(
    "range_join_errors_in_sessions",
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) >= 3600000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM lagged
    ),
    sessions AS (
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM islands GROUP BY user_id, sid
    )
    SELECT e.event_id, e.user_id AS visitor_key,
           epoch_us(s.session_start) AS session_start_us,
           COUNT(*) AS n_matches
    FROM events e
    JOIN sessions s
      ON e.user_id = s.user_id
     AND e.ts >= s.session_start AND e.ts <= s.session_end
    WHERE e.event_type = 'error'
    GROUP BY 1, 2, 3
    """,
)
def range_join_errors_in_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join — error events located inside the user's session
    intervals, via interval shredding (operators/range_join.py: equi
    join on (user, day-bucket) + residual filter; the oracle is the
    naive inequality join DuckDB can afford at this SF)."""
    from ..operators.range_join import range_join
    from ..operators.sessionize import session_rollup

    events = load_table(spark, sf_dir, "events")
    sessions = session_rollup(
        events.withColumn("event_id", F.col("event_id")),
        user="user_id", event_time="ts", gap_minutes=60,
    ).select("user_id", "session_start", "session_end")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    joined = range_join(
        errors, sessions,
        on="user_id", time_col="ts",
        start_col="session_start", end_col="session_end",
        grain="1 day",
    )
    return joined.groupBy(
        "event_id",
        F.col("user_id").alias("visitor_key"),
        F.unix_micros("session_start").alias("session_start_us"),
    ).agg(F.count(F.lit(1)).alias("n_matches"))


def _pii_oracle() -> str:
    from ..functions.text import PII_PATTERNS

    inner = ("text || ' contact user' || doc_id || '@example.com or '"
             " || '10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)")
    expr = f"({inner})"
    for token, pattern in PII_PATTERNS.items():
        # DuckDB standard strings are escape-free: pass backslashes as-is
        pat = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat}', '[{token}]', 'g')"
    return f"""
    SELECT doc_id, {expr} AS clean_text FROM documents
    """


@query("text_redact_pii", oracle=_pii_oracle())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — emails/IPs/phones scrubbed to typed tokens
    (functions/text.redact_pii). Deterministic synthetic PII is
    appended per doc so the redaction has a visible effect; the oracle
    applies the byte-identical patterns in DuckDB."""
    from ..functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    return docs.select("doc_id", redact_pii(dirty).alias("clean_text"))


@query(
    "visitor_event_profile",
    oracle="""
    SELECT user_id AS visitor_key,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def visitor_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped collection aggregation — per-visitor sorted distinct
    event-type profile (collect_set → sort → join; the collect family
    is safe here because per-key set cardinality is bounded by the
    event-type domain, never by event count — the rule for using
    collect_* at scale)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.col("user_id").alias("visitor_key")).agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count_distinct("event_type").alias("n_types"),
    )


# --------------------------------------------------------------------------
# End-to-end pipeline: bronze ingest → silver flatten/dedup → gold rollup
# (S1/S2/S4/S5/S7, P3, D2, ST2-ST4 as ONE driver-checked query)
# --------------------------------------------------------------------------

@query(
    "pipeline_e2e_gold",
    oracle="""
    SELECT event_type AS media_id,
           CAST(ts AS DATE) AS dt,
           COUNT(*) AS load_count,
           COUNT(CASE WHEN value > 0 THEN 1 END) AS play_count,
           ROUND(COUNT(CASE WHEN value > 0 THEN 1 END) / COUNT(*), 6) AS play_rate,
           ROUND(CAST(SUM(CAST(value * (3600.0 * (1 + length(event_type) % 3))
                              AS DECIMAL(25,6))) AS DOUBLE) / 3600.0, 6)
               AS hours_watched,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6)
               AS engagement,
           COUNT(DISTINCT user_id) AS visitors
    FROM events
    GROUP BY 1, 2
    """,
)
def pipeline_e2e_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's THREE jobs end-to-end in one driver-checked run
    (EP1 bronze pull → EP2 silver transform → EP3 gold upsert,
    wistia_pull_wistia_api.py / wistia_transform_silver.py /
    wistia_stored_procedures.py top-to-bottom):

    1. the events table is served back through a deterministic paginated
       REST transport (media = event_type), with a page cap that forces
       a checkpoint + resume cycle (ST2) before each media completes;
    2. every run writes partitioned bronze JSON-lines (S1/S2/S4),
       flatten-projects + exact-dedups into the silver MERGE (P1/D1/
       A7/S5), conforms dim_media, and re-rolls gold for the touched
       partitions only (P3);
    3. runs repeat until the watermark store (S7/ST1) decides skip
       everywhere — replayed pages collapse in the event_key dedup
       (ST4/D2) and the MERGEs converge.

    The final gold parquet is read back and compared against a plain
    SQL rollup of the SAME events table in DuckDB: if any stage —
    paging, bronze layout, flatten, dedup, merge, watermark fold —
    drops or duplicates anything, the hash diverges. Gold runs in the
    exact (DECIMAL-routed, bit-reproducible) mode; duration_seconds is
    the deterministic 3600·(1+len(media)%3) so A4's join-weighted
    sum-product is oracle-checkable."""
    import tempfile

    from ..incremental.watermark import JsonStateStore
    from ..pipeline import BatchPipeline, WistiaApi
    from ..sources.fake_api import ParquetWistiaFeedTransport, url_for
    from ..sources.rest_source import PullConfig

    # tiny key list only (5 media ids) — the feed itself is served by a
    # pushdown-filtered parquet transport, never a full-table collect.
    # One census job gives both the id list and the per-media volume.
    ev = load_table(spark, sf_dir, "events")
    census = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    media_ids = sorted(r["event_type"] for r in census)
    # page size scales with the per-media volume so the resume-loop depth
    # is a CONSTANT (~3 pages/media ⇒ 2 run cycles + the closing all-skip
    # check) at every SF instead of growing linearly with the data (a
    # fixed 700-row page meant ~29 pages/media at sf0.1 ⇒ 15 full
    # bronze→silver→gold cycles, pure re-fixed-cost). max_pages=2 <
    # 3 pages/media keeps the interrupted-run + checkpoint-resume
    # invariant firing at sf0.01 and above: every media sees exactly one
    # interrupted pull (next_page recorded) before its resume completes.
    rows_per_media = sum(r["n"] for r in census) // max(1, len(media_ids))
    per_page = max(700, -(-rows_per_media // 3))
    transport = ParquetWistiaFeedTransport(sf_dir, per_page=per_page)

    def metadata(m: str) -> dict:
        return {
            "hashed_id": m, "name": m.upper(),
            "duration": str(3600.0 * (1 + len(m) % 3)),
            "created": "2024-01-01T00:00:00Z",
            "updated": "2024-06-01T00:00:00Z",
        }

    root = tempfile.mkdtemp(prefix="wistia_e2e_")
    pipe = BatchPipeline(
        spark=spark,
        api=WistiaApi(
            transport=transport,
            events_url=url_for,
            metadata=metadata,
        ),
        bronze_path=f"{root}/bronze",
        silver_path=f"{root}/silver",
        dim_path=f"{root}/dim",
        gold_path=f"{root}/gold",
        state_store=JsonStateStore(f"{root}/wm.json"),
        # page cap < pages-per-media at sf0.01 → at least one
        # interrupted run + checkpoint resume before completion
        config=PullConfig(per_page=per_page, max_pages=2),
        gold_exact=True,
    )
    for _ in range(64):  # bounded resume loop; ends when all media skip
        summary = pipe.run_once(media_ids)
        if all(v.get("action") == "skip" for v in summary.values()):
            break
    return spark.read.parquet(f"{root}/gold").select(
        "media_id", "dt", "load_count", "play_count", "play_rate",
        "hours_watched", "engagement", "visitors",
    )


def _simhash_pairs_oracle() -> str:
    """SimHash band-join pairs oracle: recompute the 60-bit signatures
    (same votes expression as ``_simhash_oracle``) over the dup-injected
    corpus, band into 4×15-bit ranges, equi-join, hamming-verify."""
    bit_terms = []
    for b in range(60):
        bit_terms.append(
            f"CASE WHEN list_sum([CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END for x in hs]) > 0 "
            f"THEN {1 << b} ELSE 0 END"
        )
    votes = " + ".join(bit_terms)
    return rf"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    base AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array({_NORM}, '\s+')) AS sh
        FROM corpus
    ),
    h AS (
        SELECT doc_id,
               [('0x' || substr(md5(s), 1, 15))::BIGINT for s in sh] AS hs,
               len(sh) AS n
        FROM base
    ),
    sims AS (
        SELECT doc_id, CASE WHEN n = 0 THEN 0 ELSE ({votes}) END AS simhash
        FROM h
    ),
    bands AS (
        SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bval
        FROM sims CROSS JOIN range(0, 4) t(b)
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
                        l.simhash AS a_sim, r.simhash AS b_sim
        FROM bands l
        JOIN bands r ON l.b = r.b AND l.bval = r.bval AND l.doc_id < r.doc_id
    )
    SELECT a_id, b_id, CAST(bit_count(xor(a_sim, b_sim)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(a_sim, b_sim)) <= 3
    """


@query("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIR production (the round-1 gap: the
    signatures existed, the end-to-end pair query didn't): hamming
    band-join over the dup-injected corpus — 4 disjoint 15-bit bands,
    equi self-join on (band, value), true-hamming verification ≤ 3.
    Lossless by pigeonhole (3 ≤ 4-1); plan-asserted no-cartesian in
    test_plans (functions/dedupe.simhash_near_dup_pairs)."""
    from ..functions.dedupe import simhash_near_dup_pairs

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    return simhash_near_dup_pairs(
        corpus, "doc_id", "text", sig_bits=60, n_bands=4, max_hamming=3
    )


@query("merge_upsert_acid", oracle=_MERGE_BY_KEY_ORACLE)
def merge_upsert_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 through the CRASH-CONSISTENT path: the same delete-then-insert
    as ``merge_upsert_by_key``, but materialized via the transaction-log
    table (sources/txlog.py — versioned immutable snapshots, atomic
    put-if-absent log commit, serializable retry). Identical oracle to
    the vanilla path: the protocol must change durability, never
    results. The reference gets this property from Redshift running the
    upsert inside a stored procedure (wistia_stored_procedures.py:3-42);
    the rename-swap fallback (operators/merge.py) cannot give it to
    concurrent readers — this table can (tests/test_txlog.py)."""
    import tempfile

    from ..sources.txlog import TxLogTable

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    target, stage = _latest_slice(events, True), _latest_slice(events, False)
    table = TxLogTable(tempfile.mkdtemp(prefix="wistia_acid_") + "/tbl")
    table.overwrite(target)
    table.merge(spark, stage, ["event_type"])
    return table.read(spark).select(
        F.col("event_type").alias("media_id"),
        "event_id",
        F.unix_micros("ts").alias("received_us"),
        "value",
    )


# --------------------------------------------------------------------------
