"""Flagship gold rollup, silver flatten/dedup, merge/upsert, star joins, text/dedup/similarity/multimodal extensions, high-water mark.

Mechanically split from the registry monolith in r8; see
``queries/_base.py`` for the registration contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.dedup import dedup_exact, dedup_latest_wins
from ..operators.rollup import daily_rollup
from ..session import apply_runtime_confs, arrow_local_df, load_table
from ._base import query

# --------------------------------------------------------------------------
# Flagship: gold daily engagement rollup (A1-A6, SURVEY.md §2.4 / EP3)
# --------------------------------------------------------------------------

@query(
    "gold_daily_rollup",
    oracle="""
    SELECT
        event_type                                   AS media_id,
        CAST(ts AS DATE)                             AS dt,
        COUNT(*)                                     AS load_count,
        COUNT(CASE WHEN value > 100.0 THEN 1 END)    AS play_count,
        ROUND(COUNT(CASE WHEN value > 100.0 THEN 1 END) / COUNT(*), 6)
                                                     AS play_rate,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6)
                                                     AS engagement,
        COUNT(DISTINCT user_id)                      AS visitors
    FROM events
    GROUP BY 1, 2
    """,
)
def gold_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3/A5/A6 over the events stream at (key, day) grain.

    Reference semantics: media_daily_agg (wistia_redshift_schemas.py:43-52)
    with event_type↔media_id, value↔percent_viewed (played ⇔ value > 100),
    user_id↔visitor_key. A4 (join-weighted sum-product) is exercised by
    ``gold_hours_watched``.
    """
    events = load_table(spark, sf_dir, "events")
    return daily_rollup(
        events,
        key="event_type",
        event_time="ts",
        engagement_value="value",
        visitor="user_id",
        played=F.col("value") > F.lit(100.0),
        ndigits=6,
        exact=True,
    )


@query(
    "gold_hours_watched",
    oracle="""
    SELECT
        p.p_brand                                    AS media_id,
        CAST(l.l_shipdate AS DATE)                   AS dt,
        COUNT(*)                                     AS load_count,
        ROUND(CAST(SUM(CAST(l.l_quantity * p.p_retailprice AS DECIMAL(25,6))) AS DOUBLE) / 3600.0, 6)
                                                     AS hours_watched
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def gold_hours_watched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 sum-product via the J3 broadcast star join.

    Reference semantics: hours_watched = SUM(percent_viewed ×
    dim_media.duration_seconds)/3600 (wistia_redshift_schemas.py:49) —
    here l_quantity×p_retailprice over lineitem ⋈ part. The part side
    is a 3-column projection but still SCALES with SF, so no forced
    broadcast hint — size stats/AQE broadcast it while it fits and
    fall back to a shuffled join beyond the threshold.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = lineitem.join(
        part.select("p_partkey", "p_brand", "p_retailprice"),
        lineitem.l_partkey == part.p_partkey,
    )
    return (
        joined.groupBy(
            F.col("p_brand").alias("media_id"),
            F.to_date("l_shipdate").alias("dt"),
        )
        .agg(
            F.count(F.lit(1)).alias("load_count"),
            F.round(
                F.sum((F.col("l_quantity") * F.col("p_retailprice")).cast("decimal(25,6)"))
                .cast("double")
                / F.lit(3600.0),
                6,
            ).alias("hours_watched"),
        )
    )


# --------------------------------------------------------------------------
# Silver operators: flatten/project P1-P2, dedup D1, scalars F1-F7, P4/P5
# (timestamps are compared as epoch-micros bigints — exact on both engines)
# --------------------------------------------------------------------------

@query(
    "silver_flatten_project",
    oracle="""
    SELECT
        event_id                                          AS event_key,
        epoch_us(ts)                                      AS received_us,
        CAST(value AS DOUBLE)                             AS percent_viewed,
        user_id                                           AS visitor_key,
        event_type                                        AS media_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        strftime(ts, '%Y-%m-%d')                          AS dt_str
    FROM events
    """,
)
def silver_flatten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 + F2/F5/F6 — project/rename/cast + JSON field extraction.

    Reference: the silver flatten (silver.py:32-52) with props↔the
    nested payload (F.get_json_object standing in for struct access,
    since testdata carries JSON strings rather than structs — the
    struct form is unit-tested in tests/test_flatten.py).
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").alias("event_key"),
        F.unix_micros(F.col("ts")).alias("received_us"),
        F.col("value").cast("double").alias("percent_viewed"),
        F.col("user_id").alias("visitor_key"),
        F.col("event_type").alias("media_id"),
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
        F.date_format("ts", "yyyy-MM-dd").alias("dt_str"),
    )


@query(
    "silver_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def silver_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact dedup, projected to its key set (the deterministic
    observable of dropDuplicates — silver.py:54)."""
    events = load_table(spark, sf_dir, "events")
    return dedup_exact(events.select("user_id", "event_type"), ["user_id", "event_type"])


@query(
    "silver_dedup_latest_wins",
    oracle="""
    SELECT user_id, event_type, event_id AS latest_event_id,
           epoch_us(ts) AS received_us
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC
    ) = 1
    """,
)
def silver_dedup_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 deterministic variant — latest row per key via row_number
    (SURVEY.md §2.5's 'deterministic variant')."""
    events = load_table(spark, sf_dir, "events")
    out = dedup_latest_wins(
        events,
        keys=["user_id", "event_type"],
        order_by=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("latest_event_id"),
        F.unix_micros("ts").alias("received_us"),
    )


@query(
    "watermark_incremental_filter",
    oracle="""
    SELECT event_id, epoch_us(ts) AS received_us
    FROM events
    WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def watermark_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F3 — the incremental watermark predicate (bronze.py:173-178)
    as a pushed-down scan filter.

    The predicate sits straight on the storage column, so it reaches
    the parquet reader (PushedFilters → row-group stats elision);
    filtering a converted column would hide it behind the conversion
    expression and scan everything. At 100 TB this is the difference
    between reading one day and reading years. ``load_table``'s
    declared schema reads ``ts`` as session-UTC TimestampType with no
    conversion, so the literal is built in that domain.
    """
    events = load_table(spark, sf_dir, "events")
    cutoff = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    return events.filter(F.col("ts") > cutoff).select(
        "event_id", F.unix_micros("ts").alias("received_us")
    )


@query(
    "scalar_surface",
    oracle="""
    SELECT
        event_id,
        trim(event_type)                                   AS etype_trim,
        upper(event_type)                                  AS etype_upper,
        coalesce(nullif(event_type, 'error'), 'unknown')   AS etype_fallback,
        concat_ws('-', event_type, user_id)                AS etype_tag,
        CAST(json_extract_string(props, '$.k') AS DOUBLE)  AS prop_k_dbl
    FROM events
    """,
)
def scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (trim/JSON extract), F6 (cast), P4 (coalesce fallback) over
    the whole scalar surface — all built-ins, zero Python UDFs, so the
    projection stays inside WholeStageCodegen."""
    from ..functions.scalars import coalesce_updated, extract_json_field, strip, to_double

    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        strip("event_type").alias("etype_trim"),
        F.upper("event_type").alias("etype_upper"),
        coalesce_updated(
            F.nullif(F.col("event_type"), F.lit("error")), sentinel="unknown"
        ).alias("etype_fallback"),
        F.concat_ws("-", "event_type", "user_id").alias("etype_tag"),
        to_double(extract_json_field("props", "$.k")).alias("prop_k_dbl"),
    )


# --------------------------------------------------------------------------
# Merge/upsert A7 (J1 single key, J2 composite key), star joins J3,
# semi/anti joins, window top-k, set ops (SURVEY.md §2.3-2.5)
# --------------------------------------------------------------------------

_CUTOFF = "2024-01-20 00:00:00"


def _latest_slice(events, before: bool):
    """Latest event per event_type in the slice before/after _CUTOFF —
    builds a deterministic (target, stage) pair for upsert tests, per
    FIXTURES.md §3 ('events split into target and stage slices')."""
    from ..operators.dedup import dedup_latest_wins as _dlw

    cutoff = F.to_timestamp(F.lit(_CUTOFF))
    sliced = events.filter(F.col("ts") < cutoff if before else F.col("ts") >= cutoff)
    return _dlw(sliced, ["event_type"], [F.col("ts").desc(), F.col("event_id").desc()])


_MERGE_BY_KEY_ORACLE = f"""
    WITH target AS (
        SELECT event_type, event_id, ts, value FROM events
        WHERE ts < TIMESTAMP '{_CUTOFF}'
        QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) = 1
    ), stage AS (
        SELECT event_type, event_id, ts, value FROM events
        WHERE ts >= TIMESTAMP '{_CUTOFF}'
        QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT event_type AS media_id, event_id, epoch_us(ts) AS received_us, value
    FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM stage s WHERE s.event_type = t.event_type)
    UNION ALL
    SELECT event_type AS media_id, event_id, epoch_us(ts) AS received_us, value
    FROM stage
    """


@query("merge_upsert_by_key", oracle=_MERGE_BY_KEY_ORACLE)
def merge_upsert_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/J1 — delete-then-insert by single key (dim_media pattern,
    wistia_stored_procedures.py:3-42) as anti-join ∪ stage with the
    stage broadcast (the incremental-delta case: target never
    shuffles)."""
    from ..operators.merge import upsert

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    target, stage = _latest_slice(events, True), _latest_slice(events, False)
    return upsert(target, stage, ["event_type"]).select(
        F.col("event_type").alias("media_id"),
        "event_id",
        F.unix_micros("ts").alias("received_us"),
        "value",
    )


@query(
    "merge_upsert_composite_key",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS dt, event_id, value,
               ts < TIMESTAMP '{_CUTOFF}' AS is_target
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts DESC, event_id DESC) = 1
    ), target AS (SELECT * FROM daily WHERE is_target),
       stage  AS (SELECT * FROM daily WHERE NOT is_target)
    SELECT user_id AS visitor_key, dt, event_id, value FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM stage s WHERE s.user_id = t.user_id AND s.dt = t.dt)
    UNION ALL
    SELECT user_id AS visitor_key, dt, event_id, value FROM stage
    """,
)
def merge_upsert_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/J2 — composite-key upsert (media_daily_agg pattern on
    (media_id, dt), wistia_stored_procedures.py:49-85)."""
    from ..operators.dedup import dedup_latest_wins as _dlw
    from ..operators.merge import upsert

    events = load_table(spark, sf_dir, "events")
    daily = _dlw(
        events.withColumn("dt", F.to_date("ts")),
        ["user_id", "dt"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )
    cutoff = F.to_timestamp(F.lit(_CUTOFF))
    cols = ["user_id", "dt", "event_id", "value"]
    target = daily.filter(F.col("ts") < cutoff).select(*cols)
    stage = daily.filter(F.col("ts") >= cutoff).select(*cols)
    return upsert(target, stage, ["user_id", "dt"]).select(
        F.col("user_id").alias("visitor_key"), "dt", "event_id", "value"
    )


@query(
    "star_join_revenue",
    oracle="""
    SELECT
        r.r_name AS region_name,
        n.n_name AS nation_name,
        COUNT(*) AS order_lines,
        CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the full star join implied by the reference's schema +
    QuickSight layer (SURVEY.md §2.3). Broadcast hints ONLY on the
    fixed-cardinality dims (nation=25, region=5 — constant at any SF);
    customer SCALES with the corpus (billions at the 100 TB design
    point), so its join strategy is left to size stats + AQE runtime
    conversion — at small SF it still broadcasts (threshold-driven),
    at 100 TB it degrades safely to a shuffled join instead of OOMing
    the executors on a forced build side."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(
        F.count(F.lit(1)).alias("order_lines"),
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                "decimal(25,6)"
            )
        ).cast("double").alias("revenue"),
    )


@query(
    "join_semi_anti_customers",
    oracle="""
    SELECT c_custkey, TRUE AS has_orders FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, FALSE AS has_orders FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — left-semi and left-anti joins (the two halves of the
    reference's DELETE USING pattern, wistia_stored_procedures.py:9-11).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond_l = customer.c_custkey
    semi = (
        customer.join(orders, cond_l == orders.o_custkey, "left_semi")
        .select("c_custkey")
        .withColumn("has_orders", F.lit(True))
    )
    anti = (
        customer.join(orders, cond_l == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .withColumn("has_orders", F.lit(False))
    )
    return semi.unionByName(anti)


@query(
    "window_topk_per_media",
    oracle="""
    SELECT event_type AS media_id, event_id, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS rank
    FROM events
    QUALIFY rank <= 3
    """,
)
def window_topk_per_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking — top-3 per key (SURVEY.md §2.5 engine extra)."""
    from ..operators.windows import top_k_per_group

    events = load_table(spark, sf_dir, "events")
    out = top_k_per_group(
        events,
        group=["event_type"],
        order_by=[F.col("value").desc(), F.col("event_id")],
        k=3,
    )
    return out.select(
        F.col("event_type").alias("media_id"), "event_id", "value", "rank"
    )


@query(
    "global_topk_events",
    oracle="""
    SELECT event_id, value FROM events
    ORDER BY value DESC, event_id
    LIMIT 100
    """,
)
def global_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT — planned as TakeOrderedAndProject
    (per-partition heaps; no full sort at any scale)."""
    from ..operators.windows import global_top_k

    events = load_table(spark, sf_dir, "events")
    return global_top_k(
        events.select("event_id", "value"),
        [F.col("value").desc(), F.col("event_id")],
        100,
    )


@query(
    "set_intersect_users",
    oracle=f"""
    SELECT user_id FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
    INTERSECT
    SELECT user_id FROM events WHERE ts >= TIMESTAMP '{_CUTOFF}'
    """,
)
def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — SURVEY.md §2.5 engine extra."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.to_timestamp(F.lit(_CUTOFF))
    first = events.filter(F.col("ts") < cutoff).select("user_id")
    second = events.filter(F.col("ts") >= cutoff).select("user_id")
    return first.intersect(second)


@query(
    "set_except_users",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS dt FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id, CAST(ts AS DATE) AS dt FROM events WHERE event_type = 'error'
    """,
)
def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — SURVEY.md §2.5 engine extra.
    (user, day) pairs that purchased but saw no error that day."""
    events = load_table(spark, sf_dir, "events")
    pairs = events.select("user_id", F.to_date("ts").alias("dt"), "event_type")
    purchased = pairs.filter(F.col("event_type") == "purchase").drop("event_type")
    errored = pairs.filter(F.col("event_type") == "error").drop("event_type")
    # subtract == set EXCEPT (distinct); exceptAll would keep multiplicity
    return purchased.subtract(errored)


# --------------------------------------------------------------------------
# Training-data extensions (BASELINE.json north star): text analysis,
# corpus dedup (exact / MinHash+LSH), similarity search, multimodal
# --------------------------------------------------------------------------

def _sql_stoplist(lang: str) -> str:
    from ..functions.text import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@query(
    "text_stats",
    oracle=rf"""
    SELECT
        doc_id,
        len({_TOKS})                                             AS n_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_regex_tokens,
        length(text)                                             AS n_chars_calc,
        ROUND(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) / length(text), 6)
                                                                 AS punct_ratio,
        ROUND(len([t for t in {_TOKS} if list_contains({{stop_en}}, t)]) / len({_TOKS}), 6)
                                                                 AS stopword_ratio
    FROM documents
    """.replace("{stop_en}", _sql_stoplist("en")),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), length, punctuation
    and stopword ratios — the quality-scoring signal set, all codegen
    expressions (functions/text.py)."""
    from ..functions import text as Tx

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        Tx.token_count("text").alias("n_tokens"),
        Tx.regex_token_count("text").alias("n_regex_tokens"),
        Tx.char_count("text").alias("n_chars_calc"),
        F.round(Tx.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(Tx.stopword_ratio("text", "en"), 6).alias("stopword_ratio"),
    )


def _lang_id_oracle() -> str:
    from ..functions.text import LANG_ORDER

    score_cols = ",\n        ".join(
        f"len(list_intersect(list_distinct({_TOKS}), {_sql_stoplist(lang)})) AS s_{lang}"
        for lang in LANG_ORDER
    )
    # priority-ordered argmax: a language wins if positive and >= all later prios
    cases = []
    for i, lang in enumerate(LANG_ORDER):
        others = [f"s_{lang} >= s_{o}" for o in LANG_ORDER if o != lang][i:]
        cond = " AND ".join([f"s_{lang} > 0"] + [f"s_{lang} >= s_{o}" for o in LANG_ORDER[i + 1:]] + [f"s_{lang} >= s_{o}" for o in LANG_ORDER[:i]])
        cases.append(f"WHEN {cond} THEN '{lang}'")
    return f"""
    WITH scored AS (
        SELECT doc_id, lang,
        {score_cols}
        FROM documents
    )
    SELECT doc_id, lang AS lang_declared,
           CASE {' '.join(cases)} ELSE 'und' END AS lang_guess
    FROM scored
    """


@query("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (n-gram heuristic) with
    deterministic priority tiebreak, next to the declared lang."""
    from ..functions import text as Tx

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        Tx.lang_id("text").alias("lang_guess"),
    )


@query(
    "doc_fingerprints",
    oracle=rf"""
    WITH n AS (SELECT doc_id, {_NORM} AS nt FROM documents),
    t AS (SELECT doc_id, nt, regexp_split_to_array(nt, '\s+') AS toks FROM n)
    SELECT doc_id,
           md5(nt) AS fp_md5,
           CASE WHEN len(toks) < 3 THEN md5(nt)
                ELSE list_min([md5(array_to_string(toks[i:i+2], ' '))
                               for i in range(1, len(toks) - 1)])
           END AS fp_content
    FROM t
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text md5 (exact-dedup key) and
    min-shingle-hash content fingerprint (shift-robust), via the staged
    scale path (text.with_fingerprints — single tokenize per row)."""
    from ..functions.dedupe import fan_out
    from ..functions.text import with_fingerprints

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return with_fingerprints(docs.select("doc_id", "text"), "text", k=3).select(
        "doc_id", "fp_md5", "fp_content"
    )


_DUP_SHIFT = 1_000_000


def _dup_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ an id-shifted copy — a corpus where every text has
    exactly one duplicate (FIXTURES.md §3's dedup exercise)."""
    copy = docs.select((F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), "text")
    return docs.select("doc_id", "text").unionByName(copy)


_DUP_CORPUS_SQL = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_DUP_SHIFT} AS doc_id, text FROM documents
"""


@query(
    "dedup_exact_documents",
    oracle=rf"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM corpus)
    SELECT fp, COUNT(*) AS dup_count, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text hash over a corpus with injected
    duplicates — one shuffle on a uniform 128-bit key (no skew)."""
    from ..functions.text import fingerprint_md5

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    return (
        corpus.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


@query(
    "dedup_minhash_lsh",
    oracle=rf"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
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
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
               ROUND(len(list_intersect(l.sh, r.sh))
                     / len(list_distinct(l.sh || r.sh)), 6) AS jaccard_sim
        FROM banded l
        JOIN banded r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
    )
    SELECT a_id, b_id, jaccard_sim FROM pairs WHERE jaccard_sim >= 0.8
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (16 hashes, 4 bands × 4 rows,
    bigram shingles, Jaccard-verified ≥ 0.8) on the dup-injected
    corpus. The self-join runs on band keys only — never all pairs
    (functions/dedupe.py scale notes)."""
    from ..functions.dedupe import minhash_near_dup_pairs

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    return minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    )


@query(
    "similarity_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(
             list_sum(list_transform(list_zip(e.embedding, q.qv),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / ( sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE) for v in e.embedding]))
               * sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE) for v in q.qv])) ), 6
           ) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding — the
    exact ANN baseline. Scan + projection + TakeOrderedAndProject; the
    corpus is never shuffled."""
    from ..functions.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def _lsh_buckets_oracle() -> str:
    from ..functions.similarity import deterministic_planes

    planes = deterministic_planes(8, 64)
    bits = []
    for plane in planes:
        lits = ", ".join(repr(c) for c in plane)
        bits.append(
            "CASE WHEN list_sum(list_transform(list_zip(embedding, ["
            + lits
            + "]), x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN '1' ELSE '0' END"
        )
    concat = " || ".join(bits)
    return f"SELECT vec_id, {concat} AS bucket FROM embeddings"


@query("similarity_ann_buckets", oracle=_lsh_buckets_oracle())
def similarity_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index build: random-hyperplane LSH bucket per vector
    (8 deterministic md5-seeded planes → 256 buckets). At scale the
    corpus is written partitioned by this column and a query prunes to
    1 + multiprobe buckets (functions/similarity.py)."""
    from ..functions.similarity import hyperplane_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_buckets(emb, n_planes=8, dim=64)


@query(
    "embedding_near_dup",
    oracle="""
    WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding, label FROM embeddings
    ),
    pairs AS (
        SELECT l.vec_id AS a_id, r.vec_id AS b_id,
               ROUND(
                 list_sum(list_transform(list_zip(l.embedding, r.embedding),
                                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / ( sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE) for v in l.embedding]))
                   * sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE) for v in r.embedding])) ), 6
               ) AS cos_sim
        FROM corpus l
        JOIN corpus r ON l.label = r.label AND l.vec_id < r.vec_id
    )
    SELECT a_id, b_id, cos_sim FROM pairs WHERE cos_sim >= 0.99
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates (τ=0.99) on a dup-injected
    corpus. Spark blocks by LSH bucket + label so the self-join never
    sees unrelated vectors; at τ=0.99 bucket equality is lossless
    (near-identical vectors share every sign bit)."""
    from ..functions.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    copy = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(copy)
    return embedding_near_dup_pairs(
        corpus, block_col="label", threshold=0.99, n_planes=8, dim=64
    )


@query(
    "multimodal_decode_stats",
    oracle="""
    SELECT CASE CAST(doc_id AS BIGINT) % 3 WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           COUNT(*) AS n_media,
           CAST(SUM(COALESCE(CAST(n_chars AS BIGINT), 0) % 1920 + 1) AS BIGINT)
               AS sum_width,
           CAST(SUM(COALESCE(CAST(n_chars AS BIGINT), 0) % 120 + 1) AS BIGINT)
               AS sum_frames,
           CAST(SUM(CAST(16 AS BIGINT)) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    """,
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: synthesize fake media payloads
    from the documents table, decode headers Arrow-batched, aggregate
    by kind. The mapInPandas decode isn't SQL — but its EXPECTED output
    is pure arithmetic on documents (width = n_chars%1920+1, frames =
    n_chars%120+1, kind = doc_id%3, 16-byte header payload), so the
    DuckDB oracle recomputes it exactly; aggregates are exact integer
    sums (determinism rule #2 forbids rounded double avgs), CAST to
    BIGINT because DuckDB SUM(integer) yields HUGEINT and int128 does
    not survive pandas conversion as an integer (determinism rule #9).
    NULL n_chars is coalesced to 0 on BOTH engines (int(NaN) would
    raise in the synth kernel if driver data ever carried one). The
    schema/batching/error-isolation shape is the real 100 TB path;
    only the codec call is stubbed (functions/multimodal.py)."""
    import pandas as pd

    from ..functions.multimodal import decode_media_meta

    docs = load_table(spark, sf_dir, "documents")

    def synth(batches):
        from wistia_etl_pipeline_spark.functions.multimodal import encode_fake_payload

        kinds = ["image", "audio", "video"]
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].map(lambda d: f"d{d}"),
                    "kind": pdf["doc_id"].map(lambda d: kinds[int(d) % 3]),
                    "payload": [
                        encode_fake_payload(
                            int(n % 1920) + 1, int(n % 1080) + 1, int(n % 120) + 1
                        )
                        for n in pdf["n_chars"]
                    ],
                }
            )
            yield out

    media = docs.select(
        "doc_id", F.coalesce(F.col("n_chars"), F.lit(0)).alias("n_chars")
    ).mapInPandas(synth, "media_id string, kind string, payload binary")
    decoded = decode_media_meta(media)
    return (
        decoded.filter(F.col("decode_error").isNull())
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("width").alias("sum_width"),
            F.sum("n_frames").alias("sum_frames"),
            F.sum("payload_bytes").alias("total_bytes"),
        )
    )


# --------------------------------------------------------------------------
# A8 high-water mark, SQL front-end surface
# --------------------------------------------------------------------------

@query(
    "watermark_high_water_mark",
    oracle="""
    SELECT event_type AS media_id,
           epoch_us(MAX(ts)) AS last_received_us,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def watermark_high_water_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/F4 — the per-key running high-water mark the reference folds
    across pages as ISO strings (bronze.py:217-224); on TimestampType
    the same fold is timezone-safe and partially aggregates map-side."""
    from ..functions.scalars import max_timestamp

    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.col("event_type").alias("media_id")).agg(
        F.unix_micros(max_timestamp("ts")).alias("last_received_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "sql_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end surface: the engine registers the star schema
    as temp views and runs plain Spark SQL (same Catalyst plan as the
    DataFrame API — this entry proves the SQL path end-to-end).
    TPC-H-Q1-shaped pricing summary with DECIMAL-routed sums."""
    from ..sql import register_tables

    register_tables(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_base_price,
               CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


# --------------------------------------------------------------------------
