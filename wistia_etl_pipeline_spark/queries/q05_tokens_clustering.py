"""BPE tokenizer, hopping windows, k-means, SemDeDup, mixtures, TF-IDF and the r4 training-data wave.

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
    _lang_id_oracle,
    text_lang_id,
)
from .q03_tpch_relational import _DECONTAM_ORACLE

# BPE tokenizer (r4): frozen-merge tokenization verified byte-for-byte
# cross-engine via a recursive-CTE replay of the merge rule
# --------------------------------------------------------------------------

def _bpe_oracle_corpus() -> str:
    from ..functions.bpe import frozen_merges, merge_steps_sql

    words_cte = """
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM documents,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(word)
        WHERE word <> ''
        GROUP BY word
    """
    return f"""
    WITH RECURSIVE
    {merge_steps_sql("SELECT word FROM corpus_words", frozen_merges())},
    corpus_words AS ({words_cte})
    SELECT w.word,
           w.freq,
           CAST(len(f.toks) AS BIGINT) AS n_tokens,
           array_to_string(f.toks, ' ') AS toks
    FROM corpus_words w JOIN bpe_final f USING (word)
    """


@query("tokenize_bpe_corpus", oracle=_bpe_oracle_corpus())
def tokenize_bpe_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization of the corpus vocabulary (functions/bpe.py).

    The engine splits the corpus into words (explode → hash-aggregate
    with map-side combine; output is VOCABULARY-sized), then tokenizes
    each UNIQUE word exactly once with the frozen merge table via
    Arrow-batched ``mapInPandas`` — the scale path: Python cost grows
    with the vocabulary, never the corpus, and per-occurrence costs are
    a join back by word (corpus-stats family policy: no broadcast hint,
    a real vocabulary scales with the corpus).

    Correctness is the point of this entry: the oracle replays the
    EXACT merge rule (leftmost occurrence of the best-ranked pair, one
    merge per step) as a DuckDB recursive CTE over the same frozen
    merge table, so every token string is compared byte-for-byte
    cross-engine — far stronger than property checks. The reference has
    no tokenizer; this fills the marked slot from NOTES_r3 (public BPE
    algorithm, Sennrich et al. 2016, zero dependencies).
    """
    from ..functions.bpe import WORD_SPLIT_RE, frozen_merges, tokenize_words

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), WORD_SPLIT_RE)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return tokenize_words(words, frozen_merges()).select(
        "word", "freq", "n_tokens", "toks"
    )


def _bpe_oracle_chunking() -> str:
    from ..functions.bpe import frozen_merges, merge_steps_sql

    return f"""
    WITH RECURSIVE
    {merge_steps_sql("SELECT DISTINCT word FROM pos_words WHERE word <> ''",
                     frozen_merges())},
    split_docs AS (
        SELECT doc_id,
               regexp_split_to_array(lower(text), '[^a-z0-9]+') AS ws
        FROM documents
    ),
    pos_words AS (
        SELECT doc_id, s.pos AS pos, s.word AS word
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(ws) + 1),
                       i -> struct_pack(pos := i, word := ws[i]))) AS s
            FROM split_docs
        )
    ),
    counted AS (
        SELECT p.doc_id, p.pos, f.word,
               CAST(len(f.toks) AS BIGINT) AS n_toks
        FROM pos_words p JOIN bpe_final f USING (word)
        WHERE p.word <> ''
    ),
    cum AS (
        SELECT doc_id, n_toks,
               CAST(SUM(n_toks) OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS BIGINT) AS cum_toks
        FROM counted
    )
    SELECT doc_id,
           (cum_toks - n_toks) // 64 AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM cum
    GROUP BY doc_id, chunk_id
    """


@query("text_chunking_bpe", oracle=_bpe_oracle_chunking())
def text_chunking_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-token context chunking: pack each document's words, in
    order, into 64-BPE-token chunks (a word belongs to the chunk its
    cumulative token count starts in — word-aligned packing, the layout
    LLM pre-processing uses so no word straddles a boundary).

    Shape at 100 TB: posexplode (per-row), tokenize UNIQUE words once
    (vocabulary-sized mapInPandas), join back by word, ONE window
    cumsum per doc (single shuffle on doc_id), then the chunk
    aggregation reuses that partitioning. The whitespace-token variant
    (``text_chunking``) stays registered; this is the frozen-BPE twin
    with real subword counts (VERDICT r3 #3).
    """
    from pyspark.sql import Window

    from ..functions.bpe import WORD_SPLIT_RE, frozen_merges, tokenize_words

    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), WORD_SPLIT_RE)).alias(
                "pos", "word"
            ),
        )
        .filter(F.col("word") != "")
    )
    tokw = tokenize_words(pos.select("word").distinct(), frozen_merges()).select(
        "word", F.col("n_tokens").alias("n_toks")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cum = (
        pos.join(tokw, "word")
        .withColumn("cum_toks", F.sum("n_toks").over(w))
    )
    return (
        cum.withColumn(
            "chunk_id", F.expr("(cum_toks - n_toks) div 64").cast("long")
        )
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Hopping (sliding) windows + higher-order array-function surface (r4)
# --------------------------------------------------------------------------

@query(
    "hopping_window_activity",
    oracle="""
    WITH hops AS (
        SELECT event_type, value,
               (epoch_us(ts) // 21600000000) * 21600000000
                 - i * 21600000000 AS start_us
        FROM events, unnest([0, 1, 2, 3]) AS u(i)
        WHERE event_id % 7 = 0
    )
    SELECT event_type,
           make_timestamp(start_us) AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT value) AS BIGINT) AS n_values
    FROM hops
    GROUP BY event_type, start_us
    """,
)
def hopping_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (overlapping/sliding) time windows — 1-day windows
    advancing every 6 hours, the rolling-dashboard aggregation the
    tumbling ST5 window can't express (each event lands in FOUR
    windows). Spark's ``window(ts, '1 day', '6 hours')`` plans this as
    an Expand (4 rows per event) + one hash aggregate — partial
    aggregation still combines map-side, so the shuffle carries
    window-grain partials, not raw events. The oracle derives the same
    4 epoch-aligned window starts arithmetically (Spark aligns hops to
    the 1970 epoch; 6 h = 21 600 000 000 µs). The modulo filter keeps
    the row budget bench-friendly."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_id") % 7 == 0)
        .groupBy(
            "event_type",
            F.window("ts", "1 day", "6 hours").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("value").alias("n_values"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("win_start"),
            F.col("n_events"),
            F.col("n_values"),
        )
    )


@query(
    "array_hof_surface",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS ts
        FROM documents
        WHERE length(trim(text)) > 0
    )
    SELECT doc_id,
           CAST(len(list_filter(ts, t -> length(t) > 4)) AS BIGINT)
               AS n_long,
           CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT)
               AS total_chars,
           array_to_string(list_sort(ts)[1:5], ' ') AS sorted_head,
           len(list_filter(ts, t -> length(t) >= 6)) > 0 AS has_long6,
           CAST(list_sum(list_transform(range(1, len(ts) + 1),
                i -> CASE WHEN ts[i] = ts[len(ts) - i + 1]
                          THEN 1 ELSE 0 END)) AS BIGINT)
               AS mirror_hits
    FROM toks
    """,
)
def array_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — filter / transform+aggregate /
    sort+slice / exists / zip_with — the engine's entire lambda surface
    in one scan-local projection (no Python anywhere: these compile to
    codegen'd expressions, the reason HOFs beat UDFs at 100 TB).
    ``mirror_hits`` zips the token array with its own reverse —
    position-wise self-comparison without a positional self-join.
    DuckDB's list lambdas mirror each call (list_filter / list_sort /
    scalar range comprehension for the zip; rule #8 sibling)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    ts = tokens(F.col("text"))
    return (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.size(F.filter(ts, lambda t: F.length(t) > 4)).cast("long").alias(
                "n_long"
            ),
            F.aggregate(
                ts, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).alias("total_chars"),
            F.array_join(F.slice(F.sort_array(ts), 1, 5), " ").alias("sorted_head"),
            F.exists(ts, lambda t: F.length(t) >= 6).alias("has_long6"),
            F.zip_with(
                ts,
                F.reverse(ts),
                lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
            )
            .alias("__z")
            .cast("array<long>")
            .alias("__z2"),
        )
        .withColumn(
            "mirror_hits",
            F.aggregate("__z2", F.lit(0).cast("long"), lambda acc, x: acc + x),
        )
        .drop("__z2")
    )


# --------------------------------------------------------------------------
# K-means semantic clustering (r4): exact-integer Lloyd's, oracle replays
# both assignment passes and the centroid update verbatim
# --------------------------------------------------------------------------

_KMEANS_K = 8

def _kmeans_oracle() -> str:
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
    d2 AS (
        SELECT v.vec_id, c.cid, {d2} AS dist2
        FROM q v CROSS JOIN c1 c
    )
    SELECT vec_id, cid AS cluster_id, dist2 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d2
    ) WHERE rn = 1
    """


@query("kmeans_embedding_clusters", oracle=_kmeans_oracle())
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus: Lloyd's k-means on
    the exact integer grid (functions/clustering.py) — the curation
    step behind cluster-balanced sampling, semantic dedup buckets, and
    IVF list training. k=8, two assignment passes with one centroid
    update between them, pinned so the oracle can UNROLL the identical
    computation: quantize → cross join k centroids → argmin by
    (dist2, cid) → truncating-integer-mean update (DuckDB ``//``
    semantics, mirrored by ``_trunc_div``) with empty clusters keeping
    their centroid → final argmin. Every intermediate is an exact
    integer, so the full assignment — not a summary — hash-matches.

    Scale shape: assignment is a scan-local Arrow-batched int64 numpy
    kernel (the k×dims centroid matrix rides the closure — no join, no
    shuffle; 4.7× the literal-HOF form, which is CodegenFallback); each
    update is one explode + map-side-combined hash aggregate whose
    k×dims output is all that ever reaches the driver. More iterations
    (engine supports any ``n_assign``) repeat the same two operators;
    the oracle pins 2 to keep the SQL bounded — the differential check
    covers init, both assignment rules, and the update rule, which is
    every moving part an iteration has."""
    from ..functions.clustering import kmeans_int_grid

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_int_grid(emb, "embedding", "vec_id", k=_KMEANS_K, n_assign=2)


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup), training-mixture epochs, TF-IDF keywords (r4)
# --------------------------------------------------------------------------

_SEMDEDUP_GRID = 4000
#: adaptive-k target cluster size: k = max(8, ceil(n / this)) bounds
#: cluster sizes so the within-cluster pair join stays LINEAR in the
#: corpus (fixed k measured quadratic on the r4 scale curve)
_SEMDEDUP_TCS = 250
# tau^2 = 81/400 -> tau = 0.45. A production dedup threshold is 0.95+,
# but this corpus has NO true near-dups (max pairwise cosine ≈ 0.51 at
# sf0.01), so a realistic tau would leave the drop rule untested by the
# differential check; 0.45 sits inside the observed within-cluster
# similarity range, so both fates (kept AND dropped) appear in the
# output and the hash covers the whole rule, not just the happy path.
_SEMDEDUP_T2 = (81, 400)


def _semantic_dedup_oracle() -> str:
    t2n, t2d = _SEMDEDUP_T2
    tcs = _SEMDEDUP_TCS
    cdist = (
        "CAST(list_sum(list_transform(range(1, len(v.qv) + 1),"
        " i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS BIGINT)"
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_SEMDEDUP_GRID}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qn AS (
        SELECT vec_id, qv,
               CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS n2
        FROM q
    ),
    kk AS (
        SELECT GREATEST(8, (COUNT(*) + {tcs} - 1) // {tcs}) AS k FROM q
    ),
    c0 AS (
        SELECT cid, cv FROM (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                   qv AS cv
            FROM q
        ) c, kk WHERE c.cid < kk.k
    ),
    a AS (
        SELECT vec_id, qv, n2, cid FROM (
            SELECT v.vec_id, v.qv, v.n2, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {cdist}, c.cid) AS rn
            FROM qn v CROSS JOIN c0 c
        ) WHERE rn = 1
    ),
    p AS (
        SELECT DISTINCT b_id FROM (
            SELECT r.vec_id AS b_id,
                   CAST(list_sum(list_transform(range(1, len(l.qv) + 1),
                        i -> l.qv[i] * r.qv[i])) AS BIGINT) AS dot,
                   l.n2 AS ln2, r.n2 AS rn2
            FROM a l JOIN a r ON l.cid = r.cid AND l.vec_id < r.vec_id
        ) WHERE dot > 0 AND dot * dot * {t2d} >= {t2n} * ln2 * rn2
    )
    SELECT a.vec_id, a.cid AS cluster_id,
           CAST(CASE WHEN p.b_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
    FROM a LEFT JOIN p ON a.vec_id = p.b_id
    """


@query("semantic_dedup", oracle=_semantic_dedup_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, public arXiv:2303.09540): the
    embedding-space twin of MinHash near-dup — cluster the corpus,
    then inside each cluster drop every vector with a τ-close
    smaller-id neighbor. One row per vector with its cluster and fate,
    so the differential check covers the assignment AND the keep rule.

    Exactness: assignment + cosine test run on the integer grid
    (functions/clustering.semantic_dedup_int_grid) — cos ≥ τ becomes
    dot > 0 AND dot²·400 ≥ 81·‖a‖²·‖b‖², all BIGINT, so the kept
    set is bit-identical across engines (no float cosine anywhere;
    grid=4000 sized so the squared dot stays under 2⁶³). τ = 0.45 is
    pinned BELOW a production dedup threshold on purpose: the comment
    at _SEMDEDUP_T2 records why (this corpus has no τ≥0.95 pairs, and
    a rule the data never fires is a rule the hash never checks).

    Scale shape: the cluster id is the blocking key — the only join is
    the within-cluster self-equi-join (Σ|c|² candidate pairs, bounded
    by sizing k ∝ √n as SemDeDup does); assignment is scan-local
    codegen over k literal centroids. Compare embedding_near_dup
    (LSH-bucket blocking, data-independent) — same discipline, trained
    vs untrained blocking."""
    from ..functions.clustering import semantic_dedup_int_grid

    t2n, t2d = _SEMDEDUP_T2
    from ..functions.dedupe import fan_out

    # fan_out: one-split embeddings scan — see retrieval_ndcg_eval (r12)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    out = semantic_dedup_int_grid(
        emb,
        "embedding",
        "vec_id",
        k=None,  # adaptive: max(8, ceil(n / target)) — linear pair join
        target_cluster_size=_SEMDEDUP_TCS,
        grid=_SEMDEDUP_GRID,
        tau2_num=t2n,
        tau2_den=t2d,
    )
    # BIGINT 0/1 rather than boolean at the driver surface: no
    # driver-checked query has ever exercised the comparator's bool
    # dtype path, and the HUGEINT saga (rule #9) is the standing lesson
    # on letting an unproven fetch-side rendering carry a window row
    return out.withColumn("is_kept", F.col("is_kept").cast("long"))


_MIX_EPOCHS = {"en": 0.5, "de": 2.25, "es": 1.0, "fr": 1.75, "zh": 3.0}
_MIX_SEED = "mx1"


def _mixture_oracle() -> str:
    from ..functions.sampling import threshold

    whole_cases = " ".join(
        f"WHEN '{lang}' THEN {int(e)}" for lang, e in _MIX_EPOCHS.items()
    )
    frac_cases = " ".join(
        f"WHEN '{lang}' THEN {threshold(e - int(e))}"
        for lang, e in _MIX_EPOCHS.items()
    )
    return f"""
    WITH reps AS (
        SELECT doc_id, lang,
               (CASE lang {whole_cases} ELSE 1 END)
               + (CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                             || ':{_MIX_SEED}'), 1, 15))::BIGINT
                            < (CASE lang {frac_cases} ELSE 0 END)
                       THEN 1 ELSE 0 END) AS n_reps
        FROM documents
    )
    SELECT doc_id, lang, CAST(u.e AS BIGINT) AS epoch_i
    FROM reps, unnest(generate_series(1, n_reps)) AS u(e)
    """


@query("dataset_mixture_epochs", oracle=_mixture_oracle())
def dataset_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture materialization: replicate each document
    ``epochs[lang]`` times (en ×0.5, de ×2.25, es ×1.0, fr ×1.75,
    zh ×3.0) — the data-mixing step that turns curation weights into a
    physical training set. Fractional epochs resolve per-row via the
    md5 hash draw (functions/sampling.mixture_epochs), so the realized
    replica set is deterministic across engines, partitionings and
    re-runs: e = 2.25 rows appear twice always, three times iff
    hash(id‖seed) < 0.25·2^60; e = 0.5 degenerates to rate sampling.

    Shape at 100 TB: pure scan-local explode(sequence(1, reps)) — zero
    shuffle, zero state; output volume is exactly the Σe·|stratum| the
    schedule asks for. epoch_i keeps replicas distinct for downstream
    packing/shuffling. Oracle replays the hash draw and the replication
    with generate_series — row-for-row identical."""
    from ..functions.sampling import mixture_epochs

    docs = load_table(spark, sf_dir, "documents")
    return mixture_epochs(
        docs.select("doc_id", "lang"),
        "lang",
        _MIX_EPOCHS,
        "doc_id",
        seed=_MIX_SEED,
    ).select("doc_id", "lang", F.col("epoch_i").cast("long").alias("epoch_i"))


_TFIDF_SQL = rf"""
    WITH tok AS (
        SELECT doc_id, tok
        FROM documents, unnest({_TOKS}) AS u(tok)
        WHERE length(trim(text)) > 0
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df_docs FROM tok GROUP BY tok
    )
    SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf,
           CAST(df_docs AS BIGINT) AS df_docs,
           CAST(score_micro AS BIGINT) AS score_micro,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT t.doc_id, t.tok, t.tf, d.df_docs,
               (t.tf * 1000000) // d.df_docs AS score_micro,
               row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY (t.tf * 1000000) // d.df_docs DESC, t.tok
               ) AS rk
        FROM tf t JOIN dfreq d USING (tok)
    ) WHERE rk <= 3
"""


@query("doc_tfidf_keywords", oracle=_TFIDF_SQL)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf·idf with a
    RATIONAL idf — score = tf/df scaled to exact micro-units
    ((tf·10⁶) div df) instead of tf·log(N/df), because an exact-integer
    score is the only ranking that hash-matches cross-engine
    (determinism rule #2; same trade doc_token_commonness makes for
    unigram log-probability). Ties break on the token text so top-3 is
    deterministic.

    Shape at 100 TB: token-exploded corpus → two hash aggregates (tf
    keyed on (doc, token); df keyed on token, COUNT(DISTINCT doc)
    partial-aggregated as usual) → equi shuffle join on the token key
    (no broadcast hint: a corpus vocabulary scales with the corpus) →
    per-doc window top-k. The window partitions on doc_id — millions
    of small partitions, never a global sort."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("tok").agg(
        F.count_distinct(F.col("doc_id")).alias("df_docs")
    )
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "tok")
        .withColumn(
            "score_micro",
            F.expr("(tf * CAST(1000000 AS BIGINT)) div df_docs"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score_micro").desc(), F.col("tok").asc()
                )
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    return scored.select("doc_id", "tok", "tf", "df_docs", "score_micro", "rk")


_INC_MINHASH_SQL = rf"""
    WITH hist AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
    ),
    inc AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + {_DUP_SHIFT} AS doc_id, text
        FROM documents WHERE doc_id % 10 = 1
    ),
    h_base AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+1], ' ')
                              for i in range(1, len(t))]) AS sh
        FROM (SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t FROM hist)
    ),
    i_base AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+1], ' ')
                              for i in range(1, len(t))]) AS sh
        FROM (SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t FROM inc)
    ),
    h_banded AS (
        SELECT doc_id, sh, b,
               md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS key
        FROM (SELECT doc_id, sh,
                     [list_min([md5(s || ':' || i) for s in sh])
                      for i in range(0, 16)] AS sig
              FROM h_base WHERE len(sh) > 0), range(0, 4) t(b)
    ),
    i_banded AS (
        SELECT doc_id, sh, b,
               md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS key
        FROM (SELECT doc_id, sh,
                     [list_min([md5(s || ':' || i) for s in sh])
                      for i in range(0, 16)] AS sig
              FROM i_base WHERE len(sh) > 0), range(0, 4) t(b)
    ),
    cands AS (
        SELECT DISTINCT i.doc_id AS inc_id, h.doc_id AS hist_id,
               i.sh AS i_sh, h.sh AS h_sh
        FROM i_banded i JOIN h_banded h ON i.b = h.b AND i.key = h.key
    ),
    verified AS (
        SELECT inc_id, COUNT(*) AS n
        FROM cands
        WHERE ROUND(len(list_intersect(i_sh, h_sh))
                    / len(list_distinct(i_sh || h_sh)), 6) >= 0.8
        GROUP BY inc_id
    )
    SELECT inc.doc_id,
           CAST(COALESCE(v.n, 0) AS BIGINT) AS n_dup_matches,
           CAST(CASE WHEN v.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM inc LEFT JOIN verified v ON inc.doc_id = v.inc_id
"""


@query("dedup_incremental_minhash", oracle=_INC_MINHASH_SQL)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the day-2 shape of every curation
    pipeline: an incoming batch (20% of the corpus as genuinely new
    docs, plus exact copies of every 10th historical doc) is checked
    against the ALREADY-CURATED history via MinHash banding, and
    history-vs-history pairs are never re-mined. History contributes
    only its banded signature index (in production a persisted table;
    derived in-plan here so DuckDB can replay it); per-batch cost is
    |incoming| signatures + one equi band join + Jaccard verification
    of candidates only. One row per incoming doc with its verified
    match count and fate — both fates present by construction.

    Same 16-hash / 4-band / bigram-shingle / τ=0.8 model as
    dedup_minhash_lsh, so the two queries share the oracle idiom and
    the blocking guarantees (functions/dedupe.py scale notes)."""
    from ..functions.dedupe import minhash_new_vs_history

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1).select(
                (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), "text"
            )
        )
    )
    return minhash_new_vs_history(
        history, incoming, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    )


_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM events
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@query("table_profile_events", oracle=_profile_oracle())
def table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the event stream: per-column
    nonnull/null/distinct counts for all six columns, ONE scan
    (functions/profiling.py) — the gate an ingest pipeline runs before
    promoting a bronze batch. Exact BIGINTs only, so the profile
    itself is hash-comparable: a profile diff is a data diff.

    Shape at 100 TB: single hash aggregate with map-side partials;
    multi-distinct plans via Expand (×6 rows into the aggregate) but
    still one scan and one exchange. The long-form stack runs on the
    ONE aggregated row, not on data. (The oracle's UNION ALL of
    per-column scans is the naive 6-pass twin — the differential
    check doubles as the one-pass ≡ six-pass equivalence proof.)"""
    from ..functions.profiling import profile_columns

    events = load_table(spark, sf_dir, "events")
    return profile_columns(events, _PROFILE_COLS)


@query(
    "cluster_prototypes",
    oracle=f"""
    WITH a AS ({_kmeans_oracle()}),
    r AS (
        SELECT cluster_id, vec_id, dist2,
               row_number() OVER (
                   PARTITION BY cluster_id ORDER BY dist2, vec_id) AS rn
        FROM a
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(dist2) AS BIGINT) AS min_dist2,
           CAST(MIN(CASE WHEN rn = 1 THEN vec_id END) AS BIGINT) AS medoid_id
    FROM r GROUP BY cluster_id
    """,
)
def cluster_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census + prototype selection over the k-means
    assignment: per cluster, its size and the medoid (the member
    closest to the centroid; ties break to the smaller id via the
    (dist2, id) struct-order argmin — max_by/min_by semantics both
    engines share). The inspection/labeling step after any clustering
    run: k rows summarize the whole corpus partition.

    Composes the kmeans_embedding_clusters plan (same two assignment
    passes — the oracle literally wraps that query's SQL) with one
    more k-bounded hash aggregate; nothing after the assignment scales
    with the corpus."""
    from ..functions.clustering import kmeans_int_grid

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_int_grid(emb, "embedding", "vec_id", k=_KMEANS_K, n_assign=2)
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("dist2").alias("min_dist2"),
        F.min_by(F.col("vec_id"), F.struct(F.col("dist2"), F.col("vec_id"))).alias(
            "medoid_id"
        ),
    )


_RP_PLANES = 16
_RP_GRID = 1000


def _rp_oracle() -> str:
    from ..functions.similarity import deterministic_planes_int

    planes = deterministic_planes_int(_RP_PLANES, 64, grid=_RP_GRID)
    values = ", ".join(
        f"({j}, [{', '.join(str(c) for c in row)}])"
        for j, row in enumerate(planes)
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {_RP_GRID}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    p(j, pv) AS (VALUES {values})
    SELECT q.vec_id,
           CAST(p.j AS INTEGER) AS plane_idx,
           CAST(list_sum(list_transform(range(1, 65),
                i -> q.qv[i] * p.pv[i])) AS BIGINT) AS component
    FROM q CROSS JOIN p
    """


@query("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64-d → 16-d on the exact
    integer grid (functions/similarity.random_projection_int): the
    dimensionality-reduction step that shrinks downstream ANN/cluster
    distance work 4×. Planes are md5-derived and floor-quantized to
    integers, vectors likewise, so EVERY projected component is an
    exact BIGINT — the output here is the full exploded (vector, plane,
    component) grid, hash-verified component-for-component (float
    projections could never be: fold order differs across engines).

    Shape at 100 TB: scan-local Arrow matmul (plane matrix rides the
    closure), no join, no shuffle; row width drops dim → n_planes.
    The oracle replays the identical integer planes as a VALUES
    literal and cross-joins them — its 16× row blowup is the naive
    twin of the engine's single matmul."""
    from ..functions.similarity import random_projection_int

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection_int(
        emb, "embedding", "vec_id",
        n_planes=_RP_PLANES, dim=64, vec_grid=_RP_GRID, plane_grid=_RP_GRID,
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("plane_idx", "component")
    )


@query(
    "source_dup_profile",
    oracle=rf"""
    WITH fp AS (
        SELECT source, md5({_NORM}) AS fp FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST(((COUNT(*) - COUNT(DISTINCT fp)) * 1000000) // COUNT(*)
                AS BIGINT) AS dup_rate_micro
    FROM fp GROUP BY source
    """,
)
def source_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-rate diagnostics — the curation report that
    decides which crawl/source gets down-weighted or dropped: per
    source, document count, distinct normalized-content count, and the
    exact-integer duplicate rate ((n−u)·10⁶ div n). Rates in micro
    units keep the ranking hash-comparable (rule #2: no float division
    in a verified column).

    Shape at 100 TB: one hash aggregate keyed on source with
    COUNT(DISTINCT md5) planned via partial aggregation of the
    (source, fp) grain — no joins, no windows; output is
    source-cardinality-bounded."""
    from ..functions.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("fp")).alias("n_unique"),
        )
        .withColumn(
            "dup_rate_micro",
            F.expr(
                "((n_docs - n_unique) * CAST(1000000 AS BIGINT)) div n_docs"
            ),
        )
    )


_CMS_DEPTH = 4
# width 16 on a ~31-token vocabulary FORCES bucket collisions
# (pigeonhole), so the overcount path — the whole point of a CMS —
# is exercised and verified by the data; a rule the data never fires
# is a rule the hash never checks (the semantic-dedup τ lesson).
# Production widths are orders of magnitude larger; depth/width are
# free parameters of the same plan.
_CMS_WIDTH = 16


def _cms_oracle() -> str:
    rows = ", ".join(str(j) for j in range(_CMS_DEPTH))
    return rf"""
    WITH tok AS (
        SELECT tok FROM documents, unnest({_TOKS}) AS u(tok)
        WHERE length(trim(text)) > 0
    ),
    keyed AS (
        SELECT tok, d.j,
               ('0x' || substr(md5(tok || ':cms' || d.j), 1, 15))::BIGINT
                   % {_CMS_WIDTH} AS bucket
        FROM tok, (SELECT unnest([{rows}]) AS j) d
    ),
    cms AS (
        SELECT j, bucket, COUNT(*) AS c FROM keyed GROUP BY j, bucket
    ),
    exact AS (
        SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok
        ORDER BY exact_n DESC, tok LIMIT 20
    ),
    probes AS (
        SELECT e.tok, e.exact_n, d.j,
               ('0x' || substr(md5(e.tok || ':cms' || d.j), 1, 15))::BIGINT
                   % {_CMS_WIDTH} AS bucket
        FROM exact e, (SELECT unnest([{rows}]) AS j) d
    )
    SELECT p.tok, CAST(MIN(p.exact_n) AS BIGINT) AS exact_n,
           CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.c) - MIN(p.exact_n) AS BIGINT) AS overcount
    FROM probes p JOIN cms c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.tok
    """


@query("sketch_count_min_tokens", oracle=_cms_oracle())
def sketch_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream (depth 4 × width 1024,
    md5-salted rows) probed at the exact top-20 tokens — the mergeable
    frequency sketch behind heavy-hitter monitoring at stream scale.
    Deterministic hashing makes the ESTIMATES themselves exactly
    replayable cross-engine, so the differential check verifies the
    whole structure, not just an error bound; `overcount` =
    estimate − exact is ≥ 0 by the CMS one-sided guarantee (min over
    rows can only overcount collisions) and is nonzero here by
    construction — width 16 against a ~31-token vocabulary pigeonholes
    collisions into every row (see _CMS_WIDTH).

    Shape at 100 TB: the sketch build is explode → one hash aggregate
    keyed on (row, bucket) whose OUTPUT is depth×width rows regardless
    of corpus size — partial counts combine map-side, and two sketches
    merge by adding cells (the groupBy IS the merge). The probe side
    joins 20×4 keys against the 4096-row sketch — broadcast-sized by
    construction."""
    from ..functions.dedupe import fan_out
    from ..functions.text import tokens

    # fan_out: tokenize+explode is the heavy per-row stage and runs on
    # the one-file documents scan's single split without it (r12 rule).
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
    )
    salts = spark.range(_CMS_DEPTH).select(F.col("id").cast("int").alias("j"))
    # ONE tokenize pass (r13): the CMS cell counts are linear in the
    # per-token exact counts (cell = Σ n_tok over tokens hashing to it
    # — every occurrence of a token lands in the same (j, bucket)), so
    # building the sketch from the vocab-sized count table is
    # cell-for-cell identical to counting the exploded stream twice,
    # and strictly better at scale: the crossJoin×depth now multiplies
    # |vocab| rows, not the corpus token stream.
    tok_counts = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=False)  # vocab-sized; feeds cms + top-20
    )
    keyed = tok_counts.crossJoin(F.broadcast(salts)).select(
        "tok",
        "exact_n",
        "j",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("tok"), F.lit(":cms"), F.col("j"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        ).alias("bucket"),
    )
    cms = keyed.groupBy("j", "bucket").agg(F.sum("exact_n").alias("c"))
    exact = (
        tok_counts
        .orderBy(F.col("exact_n").desc(), F.col("tok"))
        .limit(20)
    )
    probes = exact.crossJoin(F.broadcast(salts)).select(
        "tok",
        "exact_n",
        "j",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("tok"), F.lit(":cms"), F.col("j"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok")
        .agg(
            F.min("exact_n").alias("exact_n"),
            F.min("c").alias("cms_estimate"),
            (F.min("c") - F.min("exact_n")).alias("overcount"),
        )
    )


_CDC_DIVISOR = 8

_CDC_ORACLE = rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0
    ),
    tok AS (
        SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM t
    ),
    b AS (
        SELECT doc_id, pos, tok,
               CASE WHEN ('0x' || substr(md5(tok || ':cdc'), 1, 15))::BIGINT
                         % {_CDC_DIVISOR} = 0 THEN 1 ELSE 0 END AS is_b
        FROM tok
    ),
    c AS (
        SELECT doc_id, pos, tok,
               COALESCE(SUM(is_b) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS chunk_id
        FROM b
    ),
    ch AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
               COUNT(*) AS n_tok
        FROM c GROUP BY doc_id, chunk_id
    ),
    sh AS (SELECT fp FROM ch GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
    per_doc AS (
        SELECT ch.doc_id,
               COUNT(*) AS n_chunks,
               SUM(CASE WHEN sh.fp IS NOT NULL THEN 1 ELSE 0 END) AS n_shared,
               SUM(CASE WHEN sh.fp IS NOT NULL THEN ch.n_tok ELSE 0 END) AS sh_tok
        FROM ch LEFT JOIN sh ON sh.fp = ch.fp
        GROUP BY ch.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared_chunks,
           CAST(COALESCE(p.sh_tok, 0) AS BIGINT) AS shared_tokens
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


@query("cdc_shared_passages", oracle=_CDC_ORACLE)
def cdc_shared_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document passage dedup via content-defined chunking
    (functions/dedupe.cdc_chunks): documents split at tokens whose
    md5-hash is 0 mod 8 (content-defined ⇒ a passage pasted into two
    different documents yields the SAME interior chunks wherever it
    sits — the word-level analogue of Lee et al. 2021's suffix-array
    substring dedup), then per document: chunk count, chunks shared
    verbatim with ≥1 OTHER document, and the token mass of those
    shared chunks — the boilerplate/template signal whole-doc dedup
    cannot see. Exact duplicate documents share every chunk; on this
    corpus short chunks from the bounded vocabulary also recur, so
    both the shared and unshared paths fire and ride the hash.

    Shape at 100 TB: explode → one PER-DOCUMENT window (cumulative
    boundary count — partitioned by doc_id, never global) → hash agg
    on (doc, chunk) → hash agg on the 128-bit fp (uniform, skew-free)
    → fp-keyed flag join (corpus-scaled: no broadcast hint, AQE
    decides) → doc-keyed rollup. Nothing is all-pairs; no state
    crosses document boundaries except the fp aggregate itself."""
    from ..functions.dedupe import cdc_shared_passage_stats, fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return cdc_shared_passage_stats(
        docs, "doc_id", "text", divisor=_CDC_DIVISOR
    )


@query("decontaminate_bloom_prefilter", oracle=_DECONTAM_ORACLE)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination with a broadcast Bloom-filter
    prefilter (functions/bloom.py) — the explicit form of Spark's
    runtime bloom-filter join pruning: the benchmark shingle set is
    folded into an md5-hashed bitmap (k=3, sized ~10 bits/element so
    it never saturates as the benchmark grows) that rides into
    the training-side scan as a literal, rejecting most non-benchmark
    shingles BEFORE the semi-join shuffle; survivors (true hits +
    Bloom false positives) then pass the exact semi join, which
    removes the false positives. The ORACLE is the plain exact semi
    join with no Bloom anywhere (decontaminate_ngrams' oracle
    verbatim), so the hash match is a differential proof that the
    prefilter composition is semantics-preserving — Bloom filters
    have no false negatives, and the exact join mops up the rest.

    Shape at 100 TB: the bitmap build collects at most ``bits``
    distinct positions (sketch-sized, data-independent — the IVF
    centroid collect budget); the bit test is pure codegen
    (one-byte binary substring of ONE bitmap literal + hex + conv +
    shiftright + mask — O(1) per probe, no UDF, no array-literal
    tree); the
    training scan's shuffle volume drops to the candidate set. bits
    is sized engine-side to the benchmark's measured shingle
    cardinality (~10 bits/element ≈ 1% FP at k=3, pow-2, floor
    16384) — adaptivity needs no oracle change because the oracle
    never sees the bitmap."""
    from ..functions.bloom import bloom_prefilter, build_bitmap
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
    # the benchmark shingle set is read three times (bitmap build,
    # exact verify join, and its own cardinality) — persist it once
    bench = sh.filter(F.col("source") == "src0").select("s").distinct().persist()
    # size the bitmap to the build side (~10 bits/element, pow-2,
    # floor 16384): a FIXED width saturates once the benchmark grows
    # past bits/10 elements and the prefilter degrades to a no-op
    # (measured at sf0.1: 36k insertions into 16k bits ≈ every test
    # passes). Adaptivity is engine-only — the oracle is the
    # bloom-free exact join, which is correct for ANY bitmap.
    n_bench = bench.count()
    bits = max(16384, 1 << (10 * max(n_bench, 1) - 1).bit_length())
    words = build_bitmap(bench, "s", bits=bits, k=3)
    train = sh.filter(F.col("source") != "src0")
    candidates = bloom_prefilter(train, "s", words, k=3)
    hits = (
        candidates.join(bench, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .fillna(0, subset=["contaminated"])
    )


_FK_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
)

_FK_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{ct}.{ck}->{pt}' AS relation,
           CAST((SELECT COUNT(*) FROM {ct}) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM {ct} c
                 WHERE NOT EXISTS (SELECT 1 FROM {pt} p
                                   WHERE p.{pk} = c.{ck})) AS BIGINT)
               AS n_orphans,
           CAST((SELECT COUNT(*) FROM {pt}) AS BIGINT) AS n_parents,
           CAST((SELECT COUNT(*) FROM {pt} p
                 WHERE NOT EXISTS (SELECT 1 FROM {ct} c
                                   WHERE c.{ck} = p.{pk})) AS BIGINT)
               AS n_childless
    """
    for ct, ck, pt, pk in _FK_RELATIONS
)


@query("fk_integrity_audit", oracle=_FK_ORACLE)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional referential-integrity audit over the warehouse's
    four FK relations (functions/profiling.fk_audit): per relation,
    child rows whose key has no parent (orphans — violations; all
    zero on this consistent corpus, and VERIFIED zero, which is what
    an audit is for) and parent rows with no child (childless —
    coverage gaps: 257 orders carry no lineitems at sf0.01, so the
    nonzero path rides the hash too). This is the ingest gate that
    catches broken feeds before a silent inner join drops the rows.

    Shape at 100 TB: each relation collapses both tables to per-key
    counts first (map-side partials), full-outer joins the
    key-cardinality-sized sides ONCE, and derives orphans and
    childless from that same join — vs the naive four scans of two
    anti-joins. The oracle IS that naive form, so the hash match
    doubles as a one-join ≡ two-anti-joins equivalence proof."""
    from ..functions.profiling import fk_audit

    out = None
    for ct, ck, pt, pk in _FK_RELATIONS:
        row = fk_audit(
            load_table(spark, sf_dir, ct),
            ck,
            load_table(spark, sf_dir, pt),
            pk,
            f"{ct}.{ck}->{pt}",
        )
        out = row if out is None else out.unionByName(row)
    return out


_TRANSITION_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type, next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
"""


@query("event_transition_matrix", oracle=_TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: for
    every ordered pair of consecutive events in a user's timeline
    (ordered by ts with event_id as the unique tiebreak — rule: every
    window order must be total), the transition count and the number
    of distinct users making it. This is the sequence-analytics
    building block behind next-action prediction features and funnel
    discovery (which transitions exist at all, vs the fixed funnel
    query's assumed order).

    Shape at 100 TB: one PER-USER window (lead over ts — partitioned
    by user_id, never global) then one hash aggregate on the
    |event_types|² grain with map-side partials; output is
    vocabulary-squared-bounded, independent of corpus size. The
    count_distinct plans via Expand — one pass, one exchange."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.count_distinct("user_id").alias("n_users"),
    )


_PR_SCALE = 1_000_000
_PR_BASE = (_PR_SCALE * 15) // 100

_PAGERANK_ORACLE = rf"""
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
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT doc_id, {_PR_SCALE}::BIGINT AS r FROM corpus),
    r1 AS (
        SELECT c.doc_id, {_PR_BASE} + COALESCE(s.inflow, 0) AS r
        FROM corpus c LEFT JOIN (
            SELECT e.dst, SUM((85 * r0.r) // (100 * deg.d)) AS inflow
            FROM edges e JOIN r0 ON r0.doc_id = e.src
                         JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) s ON s.dst = c.doc_id
    ),
    r2 AS (
        SELECT c.doc_id, {_PR_BASE} + COALESCE(s.inflow, 0) AS r
        FROM corpus c LEFT JOIN (
            SELECT e.dst, SUM((85 * r1.r) // (100 * deg.d)) AS inflow
            FROM edges e JOIN r1 ON r1.doc_id = e.src
                         JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) s ON s.dst = c.doc_id
    ),
    r3 AS (
        SELECT c.doc_id, {_PR_BASE} + COALESCE(s.inflow, 0) AS r
        FROM corpus c LEFT JOIN (
            SELECT e.dst, SUM((85 * r2.r) // (100 * deg.d)) AS inflow
            FROM edges e JOIN r2 ON r2.doc_id = e.src
                         JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) s ON s.dst = c.doc_id
    )
    SELECT doc_id, CAST(r AS BIGINT) AS rank FROM r3
"""


@query("pagerank_dup_graph", oracle=_PAGERANK_ORACLE)
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (functions/graph.pagerank, 3 rounds,
    damping 85/100, scale 10⁶) over the SAME symmetrized MinHash
    near-dup graph that dedup_clusters resolves into components —
    link analysis answering the question components can't: WITHIN a
    duplicate cluster, which member is most central (highest-degree
    canonical candidate)? Hub members of exact-dup cliques score above
    their leaves, isolated near-dup pairs sit at the two-node
    fixpoint, and nodes with no edges rest at the base rank — all
    three regimes present in the injected-dup corpus and all riding
    the hash, per-node, exactly.

    Shape at 100 TB: degree is one hash aggregate; each of the FIXED
    3 rounds is one src-keyed equi join (edge frame persisted once,
    reused every round) + one dst-keyed hash aggregate — the
    Pregel-style round as two bounded shuffles, no driver state, no
    data-dependent round count. Integer floor-div keeps every rank
    engine-replayable; the oracle unrolls the three rounds as CTEs
    over the identical banded-MinHash edge set."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import pagerank

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    # Lazy cut before the symmetrizing union (r13): pairs feeds FOUR
    # copies of the miner subplan into the lazy pagerank build (two
    # union branches, each consumed by both deg and ed — no exchange
    # reuse across their differing projections). One shared RDD = the
    # scheduler dedups the lineage; the miner runs once.
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select("a_id", "b_id").localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    nodes = corpus.select("doc_id")
    return pagerank(
        edges, nodes, id_col="doc_id", iterations=3, scale=_PR_SCALE
    )


_DIFF_V1_END = "2024-01-08 00:00:00"
_DIFF_STAGE_END = "2024-01-09 00:00:00"

_SNAPSHOT_DIFF_ORACLE = f"""
    WITH v1 AS (
        SELECT user_id, event_type, event_id, ts, value FROM events
        WHERE ts < TIMESTAMP '{_DIFF_V1_END}'
        QUALIFY row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) = 1
    ), stage AS (
        SELECT user_id, event_type, event_id, ts, value FROM events
        WHERE ts >= TIMESTAMP '{_DIFF_V1_END}'
          AND ts < TIMESTAMP '{_DIFF_STAGE_END}'
        QUALIFY row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) = 1
    ), merged AS (
        SELECT * FROM v1 t
        WHERE NOT EXISTS (SELECT 1 FROM stage s
                          WHERE s.user_id = t.user_id
                            AND s.event_type = t.event_type)
        UNION ALL
        SELECT * FROM stage
    ), v2 AS (SELECT * FROM merged WHERE value >= 10.0)
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(a.event_type, b.event_type) AS event_type,
           CASE WHEN a.user_id IS NULL THEN 'added'
                WHEN b.user_id IS NULL THEN 'removed'
                WHEN a.event_id <> b.event_id THEN 'changed'
                ELSE 'unchanged' END AS status,
           a.event_id AS old_event_id,
           b.event_id AS new_event_id
    FROM v1 a FULL OUTER JOIN v2 b
      ON a.user_id = b.user_id AND a.event_type = b.event_type
"""


@query("txlog_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def txlog_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL SNAPSHOT DIFF across a txlog commit chain
    (operators/diff.snapshot_diff over sources/txlog.py versions):
    commit v1 (overwrite: latest (user, event_type) state before
    Jan 8), merge a one-day stage slice, then delete-by-overwrite
    (drop rows with value < 10) — and diff the FIRST version against
    the HEAD, classifying every key as added / removed / changed /
    unchanged. This is the logical CDC read a rewrite-heavy history
    needs when file-level read_changes refuses (rewrites restate the
    snapshot); the windows are sized so ALL FOUR statuses fire at
    every test SF (added is the rarest — keys first active on Jan 8).

    Shape at 100 TB: both snapshots are already key-grain (the table
    is merge-maintained), so the diff is ONE full-outer join on the
    key — key-cardinality-sized sides, one shuffle each — and a pure
    projection for the classification. The oracle replays the whole
    commit chain set-theoretically (merge = anti-join ∪ stage, delete
    = filter), so the hash verifies the txlog's version isolation AND
    the diff logic in one check."""
    import tempfile

    from ..operators.dedup import dedup_latest_wins
    from ..operators.diff import snapshot_diff
    from ..sources.txlog import TxLogTable

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    order = [F.col("ts").desc(), F.col("event_id").desc()]
    v1_end = F.to_timestamp(F.lit(_DIFF_V1_END))
    stage_end = F.to_timestamp(F.lit(_DIFF_STAGE_END))
    v1_state = dedup_latest_wins(
        events.filter(F.col("ts") < v1_end), ["user_id", "event_type"], order
    )
    stage = dedup_latest_wins(
        events.filter((F.col("ts") >= v1_end) & (F.col("ts") < stage_end)),
        ["user_id", "event_type"],
        order,
    )
    table = TxLogTable(tempfile.mkdtemp(prefix="wistia_diff_") + "/tbl")
    v_base = table.overwrite(v1_state)
    table.merge(spark, stage, ["user_id", "event_type"])
    merged = table.read(spark)
    table.overwrite(merged.filter(F.col("value") >= 10.0))
    v_head = table.current_version()

    old = table.read(spark, version=v_base)
    new = table.read(spark, version=v_head)
    return snapshot_diff(
        old, new, ["user_id", "event_type"], ["event_id"]
    )


_PARETO_ORACLE = rf"""
    WITH s AS (
        SELECT doc_id, n_chars,
               CAST(len(list_distinct(regexp_split_to_array({_NORM}, '\s+')))
                    AS BIGINT) AS n_tok
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT a.doc_id, a.n_chars, a.n_tok
    FROM s a
    WHERE NOT EXISTS (
        SELECT 1 FROM s b
        WHERE b.n_chars <= a.n_chars AND b.n_tok >= a.n_tok
          AND (b.n_chars < a.n_chars OR b.n_tok > a.n_tok)
    )
"""


@query("pareto_doc_frontier", oracle=_PARETO_ORACLE)
def pareto_doc_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-dominance query: documents for which no other
    document is at least as good in BOTH dimensions (fewer-or-equal
    chars, more-or-equal distinct tokens) and strictly better in one —
    the "most vocabulary per byte" frontier a curation pass uses to
    pick exemplars without collapsing two objectives into one weight.
    Identical points co-occupy the frontier (standard skyline tie
    rule); empty documents are excluded on both engines.

    Shape at 100 TB: the naive skyline is O(n²) dominance — the
    ORACLE is exactly that NOT EXISTS form, so the hash match proves
    the engine's linear plan equivalent. The engine first collapses
    to one (n_chars → max n_tok) point per distinct chars value (hash
    agg, map-side partials), runs the dominance sweep as a running
    max over that VALUE-CARDINALITY-bounded table (the only window;
    bounded by |distinct lengths|, not corpus size), and equi-joins
    winners back to docs on (n_chars, n_tok). Nothing corpus-sized is
    ever windowed or paired."""
    from pyspark.sql import Window
    from ..functions.dedupe import fan_out
    from ..functions.text import normalize_text, tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    s = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(tokens(normalize_text(F.col("text")))))
        .cast("long")
        .alias("n_tok"),
    )
    g = s.groupBy("n_chars").agg(F.max("n_tok").alias("n_tok"))
    w = (
        Window.orderBy("n_chars")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        g.withColumn("__m", F.max("n_tok").over(w))
        .filter(F.col("__m").isNull() | (F.col("__m") < F.col("n_tok")))
        .select("n_chars", "n_tok")
    )
    return s.join(frontier, ["n_chars", "n_tok"], "left_semi").select(
        "doc_id", "n_chars", "n_tok"
    )


_SSJ_NUM, _SSJ_DEN = 19, 20

_SSJOIN_ORACLE = rf"""
    WITH t AS (
        SELECT doc_id, source,
               list_distinct(regexp_split_to_array({_NORM}, '\s+')) AS toks
        FROM documents WHERE length(trim(text)) > 0
    ),
    n AS (SELECT doc_id, source, toks, len(toks) AS n FROM t),
    tok AS (SELECT doc_id, source, n, unnest(toks) AS tok FROM n),
    df AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
    ranked AS (
        SELECT tok.doc_id, tok.source, tok.n, tok.tok,
               row_number() OVER (
                   PARTITION BY tok.doc_id ORDER BY df.df, tok.tok
               ) AS rk
        FROM tok JOIN df ON df.tok = tok.tok
    ),
    prefix AS (
        SELECT doc_id, source, n, tok FROM ranked
        WHERE rk <= n - (({_SSJ_NUM} * n + {_SSJ_DEN - 1}) // {_SSJ_DEN}) + 1
    ),
    cand AS (
        SELECT DISTINCT q.doc_id AS q_id, c.doc_id AS c_id
        FROM prefix q JOIN prefix c ON q.tok = c.tok
        WHERE q.source = 'src0' AND c.source <> 'src0'
          AND {_SSJ_DEN} * c.n >= {_SSJ_NUM} * q.n
          AND {_SSJ_DEN} * q.n >= {_SSJ_NUM} * c.n
    ),
    verified AS (
        SELECT cand.q_id, cand.c_id,
               len(list_intersect(x.toks, y.toks)) AS inter,
               x.n + y.n - len(list_intersect(x.toks, y.toks)) AS uni
        FROM cand
        JOIN n x ON x.doc_id = cand.q_id
        JOIN n y ON y.doc_id = cand.c_id
        WHERE {_SSJ_DEN} * len(list_intersect(x.toks, y.toks))
              >= {_SSJ_NUM} * (x.n + y.n - len(list_intersect(x.toks, y.toks)))
    ),
    scored AS (
        SELECT q_id, c_id, (inter * 1000000) // uni AS score_micro,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY (inter * 1000000) // uni DESC, c_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY q_id) AS n_matches
        FROM verified
    )
    SELECT d.doc_id AS q_id,
           CAST(COALESCE(s.n_matches, 0) AS BIGINT) AS n_matches,
           s.c_id AS best_match_id,
           CAST(s.score_micro AS BIGINT) AS best_score_micro
    FROM (SELECT doc_id FROM documents
          WHERE source = 'src0' AND length(trim(text)) > 0) d
    LEFT JOIN (SELECT * FROM scored WHERE rn = 1) s ON s.q_id = d.doc_id
"""


@query("ssjoin_prefix_filter", oracle=_SSJOIN_ORACLE)
def ssjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity search with prefix filtering
    (functions/dedupe.prefix_filtered_jaccard_pairs — the SSJoin /
    PPJoin technique): every benchmark document (source src0) matched
    against the rest of the corpus at token-set Jaccard ≥ 19/20,
    rolled up per query as (match count, best match, integer-micro
    best score). Complements the dedup family's other members: MinHash
    is probabilistic recall, SimHash is hamming-bounded, this one is
    EXACT — candidates are generated only from each document's
    ``n − ⌈τ·n⌉ + 1`` globally-RAREST tokens (a pair at ≥ τ must share
    one: pigeonhole under the common rarity order), then verified with
    integer intersection arithmetic. Queries with zero matches emit a
    zero row, so both fates ride the hash.

    Shape at 100 TB: document frequency is one hash aggregate; rarity
    needs NO global rank ((df, token) is itself the order), so the
    only windows are per-document row_numbers and a per-query top-1;
    the candidate join blocks on rare tokens — the smallest blocks the
    data allows — plus a size-ratio prune. The oracle replays every
    stage; prefix lengths use the identical integer ceil on both
    engines."""
    from pyspark.sql import Window
    from ..functions.dedupe import fan_out, prefix_filtered_jaccard_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = prefix_filtered_jaccard_pairs(
        docs.withColumn("is_q", F.col("source") == "src0"),
        "doc_id",
        "text",
        "is_q",
        tau_num=_SSJ_NUM,
        tau_den=_SSJ_DEN,
    )
    scored = pairs.withColumn(
        "score_micro",
        F.expr("(inter * CAST(1000000 AS BIGINT)) div uni"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_micro").desc(), F.col("c_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_matches", F.count(F.lit(1)).over(Window.partitionBy("q_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("n_matches").cast("long").alias("n_matches"),
            F.col("c_id").alias("best_match_id"),
            F.col("score_micro").cast("long").alias("best_score_micro"),
        )
    )
    queries_all = (
        docs.filter(
            (F.col("source") == "src0")
            & (F.length(F.trim(F.col("text"))) > 0)
        )
        .select(F.col("doc_id").alias("q_id"))
    )
    return (
        queries_all.join(best, "q_id", "left")
        .withColumn("n_matches", F.coalesce("n_matches", F.lit(0)))
    )


_GAPFILL_ORACLE = """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS dt,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 6) AS v
        FROM events WHERE value > 150.0 GROUP BY 1, 2
    ),
    b AS (SELECT user_id, MIN(dt) AS d0, MAX(dt) AS d1 FROM daily GROUP BY 1),
    spine AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS dt
        FROM b
    ),
    j AS (
        SELECT s.user_id, s.dt, d.n, d.v
        FROM spine s LEFT JOIN daily d
          ON d.user_id = s.user_id AND d.dt = s.dt
    )
    SELECT user_id, dt,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled
    FROM j
"""


@query("timeseries_gap_fill", oracle=_GAPFILL_ORACLE)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES RESAMPLING with forward fill: each user's sparse
    high-value activity (value > 150 — ~22% of days observed at every
    SF, so gaps genuinely dominate) is expanded to a dense daily spine
    between their first and last active day, missing days flagged and
    counted as zero, and the daily value sum carried forward (LOCF —
    last observation carried forward, the standard state-between-
    readings semantics for sensor/engagement series). The feature-
    engineering shape every training pipeline needs before windowed
    models: regular grid in, irregular observations out.

    Per-day sums route through DECIMAL and round BEFORE the carry, so
    LOCF copies identical doubles on both engines (rule #1); the first
    spine day is always observed (the spine starts at MIN(dt)), so
    v_filled is never NULL.

    Shape at 100 TB: the spine is generated per key with
    explode(sequence(d0, d1)) — size |keys|·|span|, never a global
    calendar cross join; the fill is one PER-KEY window (last over
    ignorenulls, running frame); the join is key+date equi. All
    exchanges are keyed by user_id — uniform, bounded, and the grid
    never crosses keys."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("value") > 150.0)
        .groupBy("user_id", F.to_date("ts").alias("dt"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
            ).alias("v"),
        )
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("dt").alias("d0"), F.max("dt").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("dt"),
    )
    joined = spine.join(daily, ["user_id", "dt"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "dt",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("n").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


_MAP_SURFACE_ORACLE = """
    WITH g AS (
        SELECT user_id, event_type,
               COUNT(*) AS n,
               COUNT(DISTINCT CAST(ts AS DATE)) AS d
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(d AS BIGINT) AS n_days,
           CAST((n * 1000000) // d AS BIGINT) AS per_day_micro
    FROM g WHERE n >= 10
"""


@query("map_functions_surface", oracle=_MAP_SURFACE_ORACLE)
def map_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user activity folded into MAPS
    (map_from_entries over collected (key, value) structs), screened
    with map_filter (keep event types with ≥ 10 events — both fates
    fire at every SF), combined across two maps with map_zip_with
    (events-per-active-day as exact integer micro units), and exploded
    back to rows. The ORACLE is the plain relational GROUP BY +
    HAVING — so the hash match proves the map roundtrip (rows → map →
    filter/zip → rows) loses and invents nothing, which is the
    property that matters when map columns feed a feature store.

    Map entry ORDER never reaches the hash (the output is exploded
    rows, compared order-insensitively) — maps as VALUES would be
    engine-rendering-dependent, the same class of trap as HUGEINT
    (rule #9).

    Shape at 100 TB: one hash aggregate to the (user, type) grain,
    one to the user grain (collect_list is bounded by |event_types|
    per user — vocabulary-sized, not event-sized); the map lambdas run
    per entry on rows already local to their task; explode restores
    the grain without a shuffle."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.to_date("ts")).alias("d"),
    )
    maps = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("counts"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "d"))
        ).alias("days"),
    )
    zipped = maps.select(
        "user_id",
        F.map_zip_with(
            F.map_filter("counts", lambda k, v: v >= F.lit(10)),
            F.col("days"),
            lambda k, c, d: F.when(
                c.isNotNull(), F.struct(c.alias("n"), d.alias("d"))
            ),
        ).alias("z"),
    )
    ex = zipped.select("user_id", F.explode("z").alias("event_type", "s"))
    return ex.filter(F.col("s").isNotNull()).select(
        "user_id",
        "event_type",
        F.col("s.n").cast("long").alias("n_events"),
        F.col("s.d").cast("long").alias("n_days"),
        # exact integer floor div OUTSIDE the lambda (a float `/` in a
        # verified column is the rule-#2 trap even when the divisor
        # bound makes it accidentally safe)
        F.expr(
            "(cast(s.n as bigint) * CAST(1000000 AS BIGINT)) div cast(s.d as bigint)"
        ).alias("per_day_micro"),
    )


_EWMA_ORACLE = """
    WITH RECURSIVE daily AS (
        SELECT user_id, CAST(ts AS DATE) AS dt, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT user_id, dt, n,
               row_number() OVER (PARTITION BY user_id ORDER BY dt) AS rn
        FROM daily
    ),
    rec AS (
        SELECT user_id, rn, dt, n, n AS e FROM idx WHERE rn = 1
        UNION ALL
        SELECT i.user_id, i.rn, i.dt, i.n, (i.n + r.e) // 2
        FROM idx i JOIN rec r
          ON i.user_id = r.user_id AND i.rn = r.rn + 1
    )
    SELECT user_id, dt, CAST(n AS BIGINT) AS n_events,
           CAST(e AS BIGINT) AS ewma
    FROM rec
"""


@query("ewma_user_activity", oracle=_EWMA_ORACLE)
def ewma_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIALLY-WEIGHTED MOVING AVERAGE over each user's daily
    event counts — the linear-recurrence family member no standard
    window frame can express (e_t depends on e_{t-1}, not on a frame
    of inputs): e_1 = n_1, e_t = (n_t + e_{t-1}) div 2, i.e. α = 1/2
    on the exact integer grid, implemented as a fold with
    shiftright(n + e_prev, 1) so every smoothed value replays
    bit-for-bit; the DuckDB oracle is a recursive CTE running the
    identical recurrence (the BPE merge-replay pattern applied to a
    numeric series).

    Shape at 100 TB: one hash aggregate to the (user, day) grain,
    then the fold runs SCAN-LOCAL per user over its sorted day array
    (collect_list bounded by the key's date span — 30 here; for
    multi-year spans the same recurrence moves to applyInPandas, the
    plumbing grouped_robust_outliers already pins). No window, no
    self-join, no driver state; output explodes back to the daily
    grain shuffle-free."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("dt")
    ).agg(F.count(F.lit(1)).alias("n"))
    arr = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("dt", "n"))).alias("s")
    )
    folded = arr.select(
        "user_id",
        F.aggregate(
            "s",
            F.array().cast("array<struct<dt:date,n:bigint,e:bigint>>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.struct(
                        x["dt"].alias("dt"),
                        x["n"].cast("long").alias("n"),
                        F.when(F.size(acc) == 0, x["n"].cast("long"))
                        .otherwise(
                            F.shiftright(
                                x["n"].cast("long")
                                + F.element_at(acc, -1)["e"],
                                1,
                            )
                        )
                        .alias("e"),
                    )
                ),
            ),
        ).alias("es"),
    )
    ex = folded.select("user_id", F.explode("es").alias("s"))
    return ex.select(
        "user_id",
        F.col("s.dt").alias("dt"),
        F.col("s.n").alias("n_events"),
        F.col("s.e").alias("ewma"),
    )


_NEG_K = 4

_NEG_SAMPLING_ORACLE = f"""
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    pairs AS (
        SELECT d.doc_id AS anchor_id, js.j,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':neg'
                                   || js.j), 1, 15))::BIGINT
                   % (n.n - 1) AS raw
        FROM documents d,
             (SELECT unnest([{", ".join(str(j) for j in range(_NEG_K))}])
                     AS j) js,
             n
    ),
    neg AS (
        SELECT anchor_id, j,
               CASE WHEN raw >= anchor_id THEN raw + 1 ELSE raw END AS neg_id
        FROM pairs
    )
    SELECT neg.anchor_id, CAST(neg.j AS BIGINT) AS j, neg.neg_id,
           d.source AS neg_source
    FROM neg JOIN documents d ON d.doc_id = neg.neg_id
"""


@query("negative_sampling_pairs", oracle=_NEG_SAMPLING_ORACLE)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for contrastive training: every
    document gets k=4 uniform negatives drawn by hash — self-exclusion
    is EXACT, not rejection-sampled (draw over n−1 slots, shift slots
    at-or-past the anchor by one), so the sample is reproducible
    across engines, partitionings, and reruns, and every anchor gets
    exactly k rows (rejection loops can't promise either). Relies on
    dense ids (the corpus guarantees 0..n−1; in general, densify once
    with a row_number and keep the mapping).

    Shape at 100 TB: generation is a zero-shuffle explode (k rows per
    anchor, ids computed arithmetically — no shuffle, no RNG state, no
    sampling join); the only exchange is the equi join that resolves
    negative ids to their rows — corpus-keyed, uniform, and exactly
    the join a feature-fetch would do anyway. The corpus count is the
    single driver-side scalar (O(1), the IVF-centroid budget)."""
    docs = load_table(spark, sf_dir, "documents")
    # one O(1) scalar: the corpus cardinality the modulus needs
    n = docs.count()
    pairs = docs.select(F.col("doc_id").alias("anchor_id")).select(
        "anchor_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_NEG_K - 1))
        ).alias("j"),
    )
    raw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("anchor_id").cast("string"),
                        F.lit(":neg"),
                        F.col("j"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(n - 1)
    )
    neg = pairs.withColumn("raw", raw).select(
        "anchor_id",
        F.col("j").cast("long").alias("j"),
        F.when(F.col("raw") >= F.col("anchor_id"), F.col("raw") + 1)
        .otherwise(F.col("raw"))
        .alias("neg_id"),
    )
    lookup = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return neg.join(lookup, "neg_id").select(
        "anchor_id", "j", "neg_id", "neg_source"
    )


def _dq_suite_oracle() -> str:
    fk = " UNION ALL ".join(
        f"""
        SELECT 'fk' AS component, '{ct}.{ck}->{pt}' AS k1, m.k2,
               CASE m.k2
                    WHEN 'n_child' THEN (SELECT COUNT(*) FROM {ct})
                    WHEN 'n_orphans' THEN
                        (SELECT COUNT(*) FROM {ct} c
                         WHERE NOT EXISTS (SELECT 1 FROM {pt} p
                                           WHERE p.{pk} = c.{ck}))
                    WHEN 'n_parents' THEN (SELECT COUNT(*) FROM {pt})
                    ELSE (SELECT COUNT(*) FROM {pt} p
                          WHERE NOT EXISTS (SELECT 1 FROM {ct} c
                                            WHERE c.{ck} = p.{pk}))
               END AS v_int
        FROM (SELECT unnest(['n_child','n_orphans','n_parents',
                             'n_childless']) AS k2) m
        """
        for ct, ck, pt, pk in _FK_RELATIONS
    )
    prof = " UNION ALL ".join(
        f"""
        SELECT 'profile', '{c}', m.k2,
               CASE m.k2 WHEN 'n_nonnull' THEN COUNT({c})
                    WHEN 'n_null' THEN COUNT(CASE WHEN {c} IS NULL THEN 1 END)
                    ELSE COUNT(DISTINCT {c}) END
        FROM events,
             (SELECT unnest(['n_nonnull','n_null','n_distinct']) AS k2) m
        GROUP BY m.k2
        """
        for c in _PROFILE_COLS
    )
    return rf"""
    WITH dup AS (
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT md5({_NORM})) AS n_unique
        FROM documents GROUP BY source
    ),
    gf AS (
        SELECT user_id, CAST(ts AS DATE) AS dt, COUNT(*) AS n
        FROM events WHERE value > 150.0 GROUP BY 1, 2
    ),
    gb AS (SELECT user_id, MIN(dt) AS d0, MAX(dt) AS d1 FROM gf GROUP BY 1),
    spine AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS dt
        FROM gb
    ),
    gj AS (
        SELECT s.user_id, s.dt, f.n
        FROM spine s LEFT JOIN gf f
          ON f.user_id = s.user_id AND f.dt = s.dt
    )
    SELECT component, k1, k2, CAST(v_int AS BIGINT) AS v_int FROM (
        {fk}
        UNION ALL
        SELECT 'source_dup', source, m.k2,
               CASE m.k2 WHEN 'n_docs' THEN n_docs
                    WHEN 'n_unique' THEN n_unique
                    ELSE ((n_docs - n_unique) * 1000000) // n_docs END
        FROM dup, (SELECT unnest(['n_docs','n_unique','dup_rate_micro'])
                   AS k2) m
        UNION ALL
        {prof}
        UNION ALL
        SELECT 'gapfill', '', m.k2,
               CASE m.k2 WHEN 'n_rows' THEN (SELECT COUNT(*) FROM gj)
                    WHEN 'n_gaps' THEN
                        (SELECT COUNT(*) FROM gj WHERE n IS NULL)
                    ELSE (SELECT COUNT(DISTINCT user_id) FROM gj) END
        FROM (SELECT unnest(['n_rows','n_gaps','n_series']) AS k2) m
    )
    """


@query("data_quality_suite", oracle=_dq_suite_oracle())
def data_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound DATA-QUALITY suite — the pre-promotion gate report as
    ONE hash in long format (component, k1, k2, v_int): referential
    integrity for all four FK relations (orphans + childless), per-
    source duplicate rates, the six-column event profile, and the
    sparse-series gap census. Exists so the whole quality family can
    hold a single driver-window row (the rank_set_suite pattern); the
    standalone variants stay registered for plan tests and sweeps.

    Shape at 100 TB: every section is the already-audited scale shape
    of its standalone query (per-key-count full-outer joins, one-scan
    stacked profile, hash-keyed dup aggregate, per-key spine); the
    suite just unions their long forms — no new shuffle topology."""
    from ..functions.profiling import fk_audit, profile_columns
    from ..functions.text import fingerprint_md5

    s = lambda c: F.col(c).cast("string")  # noqa: E731

    parts = []
    for ct, ck, pt, pk in _FK_RELATIONS:
        row = fk_audit(
            load_table(spark, sf_dir, ct), ck,
            load_table(spark, sf_dir, pt), pk, f"{ct}.{ck}->{pt}",
        )
        parts.append(
            row.unpivot(
                ids="relation",
                values=["n_child", "n_orphans", "n_parents", "n_childless"],
                variableColumnName="k2",
                valueColumnName="v_int",
            ).select(
                F.lit("fk").alias("component"),
                F.col("relation").alias("k1"),
                "k2",
                F.col("v_int").cast("long"),
            )
        )

    docs = load_table(spark, sf_dir, "documents")
    dup = (
        docs.select("source", fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
        )
        .withColumn(
            "dup_rate_micro",
            F.expr("((n_docs - n_unique) * CAST(1000000 AS BIGINT)) div n_docs"),
        )
    )
    parts.append(
        dup.unpivot(
            ids="source",
            values=["n_docs", "n_unique", "dup_rate_micro"],
            variableColumnName="k2",
            valueColumnName="v_int",
        ).select(
            F.lit("source_dup").alias("component"),
            F.col("source").alias("k1"),
            "k2",
            F.col("v_int").cast("long"),
        )
    )

    events = load_table(spark, sf_dir, "events")
    prof = profile_columns(events, _PROFILE_COLS)
    parts.append(
        prof.unpivot(
            ids="column_name",
            values=["n_nonnull", "n_null", "n_distinct"],
            variableColumnName="k2",
            valueColumnName="v_int",
        ).select(
            F.lit("profile").alias("component"),
            F.col("column_name").alias("k1"),
            "k2",
            F.col("v_int").cast("long"),
        )
    )

    gf = timeseries_gap_fill(spark, sf_dir)
    gap = gf.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_gap").alias("n_gaps"),
        F.count_distinct("user_id").alias("n_series"),
    )
    parts.append(
        gap.unpivot(
            ids=[],
            values=["n_rows", "n_gaps", "n_series"],
            variableColumnName="k2",
            valueColumnName="v_int",
        ).select(
            F.lit("gapfill").alias("component"),
            F.lit("").alias("k1"),
            "k2",
            F.col("v_int").cast("long"),
        )
    )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_FH_DIMS = 64

_FEATURE_HASH_ORACLE = rf"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array({_NORM}, '\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok || ':fh'), 1, 15))::BIGINT
                   % {_FH_DIMS} AS dim,
               CASE WHEN ('0x' || substr(md5(tok || ':fhsign'), 1, 15))::BIGINT
                         % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM tok
    )
    SELECT doc_id, CAST(dim AS BIGINT) AS dim,
           CAST(SUM(sgn) AS BIGINT) AS weight
    FROM h GROUP BY doc_id, dim
    HAVING SUM(sgn) <> 0
"""


@query("doc_feature_hashing", oracle=_FEATURE_HASH_ORACLE)
def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick, Weinberger et al. 2009):
    every document becomes a fixed-width sparse integer vector with NO
    vocabulary pass — token → md5 dimension in [0, 64), a second hash
    picks the ±1 sign (signed sums keep collisions unbiased in
    expectation), weights are signed token counts, zero dims dropped.
    This is the model-free text vectorizer that bridges the text and
    embedding families: its output feeds the same cosine / LSH / 
    clustering operators the float embeddings use, and two documents'
    hashed vectors agree exactly iff their token multisets do.

    Shape at 100 TB: explode → one hash aggregate on (doc, dim) with
    map-side partials — the vectorizer is a pure streaming aggregation
    with NO vocabulary table, no fit step, no join (the whole point of
    the trick vs count-vectorizers: new tokens never change the
    schema). Output is bounded by |docs|·dims."""
    from ..functions.dedupe import fan_out
    from ..functions.text import normalize_text, tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.explode(tokens(normalize_text(F.col("text")))).alias("tok"),
        )
    )
    h = tok.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("tok"), F.lit(":fh"))), 1, 15),
                16, 10,
            ).cast("long")
            % _FH_DIMS
        ).alias("dim"),
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("tok"), F.lit(":fhsign"))), 1, 15
                ),
                16, 10,
            ).cast("long")
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


#: relative support: 8% of eligible docs (integer ceil) — an absolute
#: threshold silently degrades to "everything is frequent" at larger
#: SFs; relative keeps the prune semantics at every scale
_FIM_SUPPORT_NUM, _FIM_SUPPORT_DEN = 8, 100

_FREQ_PAIRS_ORACLE = rf"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array({_NORM}, '\s+')) AS toks
        FROM documents WHERE length(trim(text)) > 0
    ),
    item AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    ms AS (
        SELECT ({_FIM_SUPPORT_NUM} * COUNT(*) + {_FIM_SUPPORT_DEN - 1})
               // {_FIM_SUPPORT_DEN} AS v
        FROM t
    ),
    freq AS (
        SELECT tok FROM item GROUP BY tok
        HAVING COUNT(*) >= (SELECT v FROM ms)
    ),
    fitem AS (
        SELECT i.doc_id, i.tok FROM item i JOIN freq f ON f.tok = i.tok
    ),
    pairs AS (
        SELECT a.doc_id, a.tok AS tok_a, b.tok AS tok_b
        FROM fitem a JOIN fitem b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
    )
    SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY tok_a, tok_b
    HAVING COUNT(*) >= (SELECT v FROM ms)
"""


@query("frequent_token_pairs", oracle=_FREQ_PAIRS_ORACLE)
def frequent_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENT-ITEMSET MINING at the pair level with A-PRIORI pruning
    (Agrawal & Srikant 1994): token pairs co-occurring in ≥ 8% of
    documents (integer-ceil relative support — absolute thresholds
    silently stop pruning as the corpus grows), where candidate pairs are generated ONLY among tokens
    individually frequent — the downward-closure property guarantees
    no frequent pair is lost (a pair's support is ≤ either member's),
    while the prune bounds the per-document pair blow-up to the
    frequent-item subset. The collocation counterpart to PMI bigrams:
    PMI ranks ADJACENT sequence pairs; this counts UNORDERED
    co-occurrence anywhere in the document.

    Shape at 100 TB: item support is one hash aggregate; the prune is
    a semi-shaped join against the frequent-token set; pair generation
    is a per-document self-join on doc_id whose fan-out is bounded by
    each document's FREQUENT-token count (the a-priori bound — on a
    heavy-tailed real vocabulary most tokens are pruned before
    pairing); final support is one hash aggregate on the pair key.
    The support scalar is one O(1) driver count."""
    from ..functions.dedupe import fan_out
    from ..functions.text import normalize_text, tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    item = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(tokens(normalize_text(F.col("text"))))
            ).alias("tok"),
        )
    )
    n_docs = docs.filter(F.length(F.trim(F.col("text"))) > 0).count()
    min_support = (
        _FIM_SUPPORT_NUM * n_docs + _FIM_SUPPORT_DEN - 1
    ) // _FIM_SUPPORT_DEN
    freq = (
        item.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_support)
        .select("tok")
    )
    fitem = item.join(freq, "tok")
    a = fitem.select("doc_id", F.col("tok").alias("tok_a"))
    b = fitem.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = a.join(b, "doc_id").filter(F.col("tok_a") < F.col("tok_b"))
    return (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )


_IVM_JOIN_ORACLE = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6)))
                      AS STRING) AS DOUBLE) AS revenue_sum
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
"""


@query("incremental_join_view", oracle=_IVM_JOIN_ORACLE)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE for a JOIN view (the delta rule:
    Δ(O ⋈ C) = ΔO ⋈ C_prev ∪ O_prev ⋈ ΔC ∪ ΔO ⋈ ΔC) — the companion
    to incremental_gold_maintenance, which maintains AGGREGATE state:
    here BOTH base tables grow in batches (orders and customers each
    split into 3 deterministic deltas), the join view accumulates only
    delta joins, and no batch ever re-joins the full accumulated
    history against itself. The oracle is the from-scratch join — the
    hash match proves the delta decomposition exhaustive and disjoint
    (miss a term and rows vanish; overlap terms and rows double).

    Shape at 100 TB: each maintenance step joins a BATCH-sized delta
    against the accumulated other side (and delta×delta) — the
    standard IVM cost model where per-batch work is O(|Δ| join
    matches), never O(|history|²); the final rollup is one hash
    aggregate. At real scale the accumulated sides live in the txlog
    table and each delta join prunes by key-range file skipping."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    view = None
    o_prev = None
    c_prev = None
    for i in range(3):
        d_o = orders.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == i)
        d_c = customer.filter(F.pmod(F.col("c_custkey"), F.lit(3)) == i)
        deltas = d_o.join(d_c, d_o.o_custkey == d_c.c_custkey)
        if o_prev is not None:
            deltas = deltas.unionByName(
                d_o.join(c_prev, d_o.o_custkey == c_prev.c_custkey)
            ).unionByName(
                o_prev.join(d_c, o_prev.o_custkey == d_c.c_custkey)
            )
        view = deltas if view is None else view.unionByName(deltas)
        o_prev = d_o if o_prev is None else o_prev.unionByName(d_o)
        c_prev = d_c if c_prev is None else c_prev.unionByName(d_c)
    return view.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("revenue_sum"),
    )


_SC_RATE_DEN = 10  # a span starts at ~10% of eligible positions
_SC_SPAN_LEN = 3

_SPAN_CORRUPTION_ORACLE = rf"""
    WITH RECURSIVE t AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0
    ),
    n AS (SELECT doc_id, len(toks) AS n FROM t),
    pos AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p,
               unnest(toks) AS tok
        FROM t
    ),
    rec AS (
        SELECT t.doc_id, 0 AS p,
               CASE WHEN s THEN {_SC_SPAN_LEN - 1} ELSE 0 END AS rem,
               CASE WHEN s THEN 1 ELSE 0 END AS k,
               CASE WHEN s THEN 0 ELSE -1 END AS label
        FROM t, LATERAL (
            SELECT ('0x' || substr(md5(t.doc_id || ':0:sc'), 1, 15))::BIGINT
                   % {_SC_RATE_DEN} = 0 AS s
        ) q
        UNION ALL
        SELECT r.doc_id, r.p + 1,
               CASE WHEN r.rem > 0 THEN r.rem - 1
                    WHEN q.s THEN {_SC_SPAN_LEN - 1} ELSE 0 END,
               r.k + CASE WHEN r.rem = 0 AND q.s THEN 1 ELSE 0 END,
               CASE WHEN r.rem > 0 THEN -2
                    WHEN q.s THEN r.k ELSE -1 END
        FROM rec r
        JOIN n ON n.doc_id = r.doc_id AND r.p + 1 < n.n,
        LATERAL (
            SELECT ('0x' || substr(md5(r.doc_id || ':' || (r.p + 1)
                                       || ':sc'), 1, 15))::BIGINT
                   % {_SC_RATE_DEN} = 0 AS s
        ) q
    ),
    lab AS (
        SELECT pos.doc_id, pos.p, pos.tok, rec.label
        FROM pos JOIN rec ON rec.doc_id = pos.doc_id AND rec.p = pos.p
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (label >= 0) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (label <> -1) AS BIGINT) AS n_masked,
           COALESCE(string_agg(
               CASE WHEN label = -1 THEN tok
                    WHEN label >= 0 THEN '<X' || label || '>' END,
               ' ' ORDER BY p), '') AS input_text,
           COALESCE(string_agg(
               CASE WHEN label >= 0 THEN '<X' || label || '> ' || tok
                    WHEN label = -2 THEN tok END,
               ' ' ORDER BY p), '') AS target_text
    FROM lab GROUP BY doc_id
"""


@query("span_corruption_layout", oracle=_SPAN_CORRUPTION_ORACLE)
def span_corruption_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-SUPERVISED SPAN-CORRUPTION layout (the T5 denoising
    objective's data prep, Raffel et al. 2020): ~10% of token
    positions open a 3-token mask span (spans never overlap — a
    position inside an active span cannot start a new one, which makes
    the rule SEQUENTIAL, not per-row), the input text replaces each
    span with a <Xk> sentinel, and the target lists each sentinel
    followed by the tokens it hides. Span starts are md5-drawn per
    (doc, position), so the corruption is reproducible end-to-end —
    the property that lets a training run resume mid-corpus and a
    debugging session reproduce any example byte-for-byte.

    The sequential state (remaining-span-length, next-sentinel-id)
    rides a scan-local integer array fold per document — the EWMA
    recurrence pattern applied to a labeling automaton — and the
    oracle replays the identical automaton as a recursive CTE, then
    both engines rebuild the exact input/target STRINGS, compared
    byte-for-byte.

    Shape at 100 TB: zero joins, zero windows — one fold and two
    array rebuilds per row, all scan-local; the only exchange is
    whatever the sink needs. Fold cost is O(tokens) per doc."""
    from ..functions.dedupe import fan_out
    from ..functions.text import normalize_text, tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", tokens(normalize_text(F.col("text"))).alias("toks")
    )

    def _start(i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                            F.lit(":sc"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _SC_RATE_DEN
            == 0
        )

    acc0 = F.struct(
        F.array().cast("array<int>").alias("labels"),
        F.lit(0).alias("rem"),
        F.lit(0).alias("k"),
    )
    folded = base.withColumn(
        "st",
        F.aggregate(
            F.sequence(F.lit(0), F.size("toks") - 1),
            acc0,
            lambda acc, i: F.struct(
                F.concat(
                    acc["labels"],
                    F.array(
                        F.when(acc["rem"] > 0, F.lit(-2))
                        .when(_start(i), acc["k"])
                        .otherwise(F.lit(-1))
                        .cast("int")
                    ),
                ).alias("labels"),
                F.when(acc["rem"] > 0, acc["rem"] - 1)
                .when(_start(i), F.lit(_SC_SPAN_LEN - 1))
                .otherwise(F.lit(0))
                .alias("rem"),
                (
                    acc["k"]
                    + F.when((acc["rem"] == 0) & _start(i), 1).otherwise(0)
                ).alias("k"),
            ),
        ),
    )
    z = folded.withColumn(
        "zipped",
        F.zip_with(
            "toks",
            F.col("st.labels"),
            lambda t, l: F.struct(t.alias("tok"), l.alias("label")),
        ),
    )
    return z.select(
        "doc_id",
        F.size(
            F.filter("zipped", lambda s: s["label"] >= 0)
        ).cast("long").alias("n_spans"),
        F.size(
            F.filter("zipped", lambda s: s["label"] != -1)
        ).cast("long").alias("n_masked"),
        F.concat_ws(
            " ",
            F.filter(
                F.transform(
                    "zipped",
                    lambda s: F.when(s["label"] == -1, s["tok"]).when(
                        s["label"] >= 0,
                        F.concat(F.lit("<X"), s["label"].cast("string"), F.lit(">")),
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        ).alias("input_text"),
        F.concat_ws(
            " ",
            F.filter(
                F.transform(
                    "zipped",
                    lambda s: F.when(
                        s["label"] >= 0,
                        F.concat(
                            F.lit("<X"),
                            s["label"].cast("string"),
                            F.lit("> "),
                            s["tok"],
                        ),
                    ).when(s["label"] == -2, s["tok"]),
                ),
                lambda x: x.isNotNull(),
            ),
        ).alias("target_text"),
    )


_SKEW_ORACLE = """
    WITH k AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows,
               CAST(MAX(n) AS BIGINT) AS max_n
        FROM k
    )
    SELECT k.user_id, CAST(k.n AS BIGINT) AS n_rows,
           CAST((k.n * 1000000) // t.n_rows AS BIGINT) AS share_micro,
           CAST((k.n * t.n_keys * 1000000) // t.n_rows AS BIGINT)
               AS skew_ratio_micro
    FROM k, tot t
    ORDER BY k.n DESC, k.user_id LIMIT 10
"""


@query("key_skew_profile", oracle=_SKEW_ORACLE)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-SKEW DIAGNOSIS — the report you run BEFORE reaching for the
    salted join/agg (gold_rollup_salted, salted_join_first_seen): the
    top-10 heaviest join/grouping keys with their row share and skew
    ratio (key count ÷ mean key count, micro units — 1e6 = perfectly
    uniform). A skew ratio of 20× on one key is the signal that a
    plain shuffle will straggle and the salting pattern pays for
    itself; exact integers so the report is hash-stable.

    Shape at 100 TB: per-key counts partial-aggregate map-side; the
    totals row is a 3-scalar aggregate cross-joined as a broadcast
    literal (1 row); top-10 is TakeOrderedAndProject — per-partition
    heaps, never a global sort of the key space."""
    events = load_table(spark, sf_dir, "events")
    k = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows_t"),
    )
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_rows"),
            F.expr(
                "(n * CAST(1000000 AS BIGINT)) div n_rows_t"
            ).alias("share_micro"),
            F.expr(
                "(n * n_keys * CAST(1000000 AS BIGINT)) div n_rows_t"
            ).alias("skew_ratio_micro"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("user_id"))
        .limit(10)
    )


@query(
    "langid_confusion_matrix",
    oracle=f"""
    WITH pred AS ({{pred}})
    SELECT lang_declared, lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang_declared, lang_guess
    """.replace("{pred}", _lang_id_oracle()),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-EVALUATION family: the CONFUSION MATRIX of the stopword
    language-ID heuristic against the corpus's declared language —
    (declared, predicted, count), the artifact that turns "we have a
    lang-id filter" into "we know its error structure per language"
    (which languages leak into which, where 'und' falls). Exact counts
    ride the hash; the oracle composes the full scorer replay with the
    aggregation, so a scorer regression OR an aggregation bug flips it.

    Shape at 100 TB: the scorer is per-row scan-local expressions; the
    matrix is one hash aggregate bounded by |langs|² + und."""
    return (
        text_lang_id(spark, sf_dir)
        .groupBy("lang_declared", "lang_guess")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_DEDUP_EVAL_ORACLE = rf"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, regexp_split_to_array({_NORM}, '\s+') AS t,
               md5({_NORM}) AS fp
        FROM corpus
    ),
    base AS (
        SELECT doc_id, fp,
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
    pred AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM banded l
        JOIN banded r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
        WHERE len(list_intersect(l.sh, r.sh))
              / len(list_distinct(l.sh || r.sh)) >= 0.8
    ),
    truth AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM base x JOIN base y ON x.fp = y.fp AND x.doc_id < y.doc_id
    ),
    m AS (
        SELECT COALESCE(p.a, t.a) AS a, COALESCE(p.b, t.b) AS b,
               p.a IS NOT NULL AS in_pred, t.a IS NOT NULL AS in_truth
        FROM pred p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
    ),
    c AS (
        SELECT COUNT(*) FILTER (in_pred AND in_truth) AS tp,
               COUNT(*) FILTER (in_pred AND NOT in_truth) AS fp,
               COUNT(*) FILTER (in_truth AND NOT in_pred) AS fn
        FROM m
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro,
           CAST((tp * 1000000) // (tp + fn) AS BIGINT) AS recall_micro
    FROM c
"""


@query("dedup_eval_metrics", oracle=_DEDUP_EVAL_ORACLE)
def dedup_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-EVALUATION family, second member: PRECISION / RECALL of
    the MinHash near-dup miner against the exact-duplicate ground
    truth on the injected-dup corpus — the harness that turns "we run
    LSH dedup" into "we know its operating point". Identical texts
    produce identical signatures, so recall against exact truth should
    be total (a miss is an LSH implementation bug — this query is a
    standing regression tripwire for the banding math); precision < 1
    is legitimate and MEASURED: it counts genuine near-dups (Jaccard
    ≥ 0.8, not byte-identical) that exact truth doesn't contain.

    Shape at 100 TB: both pair sets are blocked joins (band-key /
    128-bit fp); the comparison is ONE full-outer join on the pair
    key; metrics are a 1-row aggregate with integer-micro ratios."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.text import fingerprint_md5

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pred = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    fps = corpus.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
    x = fps.select(F.col("doc_id").alias("a"), "fp")
    y = fps.select(F.col("doc_id").alias("b"), "fp")
    truth = x.join(y, "fp").filter(F.col("a") < F.col("b")).select("a", "b")
    m = (
        pred.withColumn("__p", F.lit(1))
        .join(truth.withColumn("__t", F.lit(1)), ["a", "b"], "full_outer")
    )
    c = m.agg(
        F.count(F.when(F.col("__p").isNotNull() & F.col("__t").isNotNull(), 1))
        .alias("tp"),
        F.count(F.when(F.col("__p").isNotNull() & F.col("__t").isNull(), 1))
        .alias("fp"),
        F.count(F.when(F.col("__p").isNull() & F.col("__t").isNotNull(), 1))
        .alias("fn"),
    )
    return c.select(
        F.col("tp").cast("long"),
        F.col("fp").cast("long"),
        F.col("fn").cast("long"),
        F.expr("(tp * CAST(1000000 AS BIGINT)) div (tp + fp)")
        .alias("precision_micro"),
        F.expr("(tp * CAST(1000000 AS BIGINT)) div (tp + fn)")
        .alias("recall_micro"),
    )


_SPLIT_LEAKAGE_ORACLE = rf"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    s AS (
        SELECT doc_id, md5({_NORM}) AS fp,
               CASE WHEN ('0x' || substr(md5('wistia-split:'
                              || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 1000 < 100
                    THEN 'test' ELSE 'train' END AS split
        FROM corpus
    ),
    g AS (
        SELECT fp,
               COUNT(*) FILTER (split = 'train') AS n_train,
               COUNT(*) FILTER (split = 'test') AS n_test
        FROM s GROUP BY fp
    )
    SELECT CAST(COUNT(*) FILTER (n_train > 0 AND n_test > 0) AS BIGINT)
               AS leaked_contents,
           CAST(COALESCE(SUM(n_test) FILTER (n_train > 0 AND n_test > 0), 0)
               AS BIGINT) AS leaked_test_docs,
           CAST(COUNT(*) FILTER (n_train + n_test > 1
                                 AND NOT (n_train > 0 AND n_test > 0))
               AS BIGINT) AS contained_dup_contents,
           CAST(COUNT(*) AS BIGINT) AS distinct_contents
    FROM g
"""


@query("split_leakage_audit", oracle=_SPLIT_LEAKAGE_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST-SET CONTAMINATION audit: content-identical documents
    landing on BOTH sides of the hash split — the classic eval leak
    (the split is by doc_id, duplicates have different ids, so each
    copy draws independently and a duplicated content crosses the
    boundary with prob 1−p²−q²). One row: leaked distinct contents,
    leaked TEST docs (the rows whose eval scores are compromised),
    duplicate contents fully contained in one side (dups that did NOT
    leak — the benign fate, verified too), distinct contents total.
    Run on the injected-dup corpus (the raw sf0.01 slice has zero
    exact dups — measured, and a leak rule the data never fires is a
    rule the hash never checks): every content has ≥2 ids, each
    drawing its split independently, so ~18% of contents leak. The fix
    this audit motivates is split-by-FINGERPRINT, not by id (or dedup
    before splitting — corpus_curation_e2e's order).

    Shape at 100 TB: fingerprint + split are scan-local expressions;
    one hash aggregate on the 128-bit fp; one 1-row rollup."""
    from ..functions.text import dataset_split, fingerprint_md5

    docs = dataset_split(
        _dup_corpus(load_table(spark, sf_dir, "documents")), "doc_id"
    ).select("split", fingerprint_md5(F.col("text")).alias("fp"))
    g = docs.groupBy("fp").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
    )
    leaked = F.col("n_train") > 0
    both = (F.col("n_train") > 0) & (F.col("n_test") > 0)
    return g.agg(
        F.count(F.when(both, 1)).cast("long").alias("leaked_contents"),
        F.coalesce(F.sum(F.when(both, F.col("n_test"))), F.lit(0))
        .cast("long")
        .alias("leaked_test_docs"),
        F.count(
            F.when((F.col("n_train") + F.col("n_test") > 1) & ~both, 1)
        )
        .cast("long")
        .alias("contained_dup_contents"),
        F.count(F.lit(1)).cast("long").alias("distinct_contents"),
    )


_RFM_ORACLE = """
    WITH base AS (
        SELECT o_custkey AS custkey,
               CAST(date_diff('day',
                    CAST(MAX(o_orderdate) AS DATE),
                    (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                    AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                          AS DOUBLE), 6) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT custkey, recency_days, frequency, monetary,
               NTILE(5) OVER (ORDER BY recency_days, custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary DESC, custkey) AS m_score
        FROM base
    )
    SELECT custkey, recency_days, frequency, monetary,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
    FROM scored
"""


@query("customer_rfm_segments", oracle=_RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic warehouse customer scoring:
    recency (days since last order, vs the corpus max date), frequency
    (order count), monetary (DECIMAL-routed revenue), each quintiled
    into 1-5 scores (NTILE over a TOTAL order — metric + custkey
    tiebreak, determinism rule: every ntile needs a unique sort) and
    composed into the 3-digit RFM code marketing segments key on.

    Shape at 100 TB: the base is one hash aggregate per customer; the
    corpus max-date is a 1-row broadcast scalar; the three NTILEs are
    GLOBAL windows over the CUSTOMER-grain table — key-cardinality
    data, not order-grain (the same bounded-global-window budget as
    the skyline's point table; for a billion-customer table the
    quantile boundaries would come from approx_percentile instead,
    trading the exact quintile split for full parallelism)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("__maxd")
    )
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast(
                    "double"
                ),
                6,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "custkey",
            F.datediff(F.col("__maxd"), F.col("__last"))
            .cast("long")
            .alias("recency_days"),
            F.col("frequency").cast("long"),
            "monetary",
        )
    )
    r = F.ntile(5).over(Window.orderBy("recency_days", "custkey"))
    f = F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), "custkey"))
    m = F.ntile(5).over(Window.orderBy(F.col("monetary").desc(), "custkey"))
    scored = base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        r.cast("long").alias("r_score"),
        f.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("long"),
    )


# --------------------------------------------------------------------------
