"""KMV/CMS/HLL sketch family, A/B stats, graph density/communities, rolling distinct, BFS.

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
from .q01_core_gold_silver import _DUP_CORPUS_SQL, _NORM, _TOKS, _dup_corpus

# Round-5 continuation wave 2: KMV set-algebra sketch, A/B chi-square,
# mixture drift, graph walks/cores, attribution, stream-stream join
# --------------------------------------------------------------------------

# KMV (k-minimum-values / bottom-k) sketch constants: k = 32 samples,
# 56-bit hash (14 hex chars) so the estimator numerator (k-1)*2^56 =
# 2233785415175766016 stays inside BIGINT on both engines (the 60-bit
# hash the HLL family uses would overflow it at k = 32).
_KMV_K = 32
_KMV_NUM = (_KMV_K - 1) * (1 << 56)

_KMV_EL_SQL = """
    SELECT DISTINCT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 14))::BIGINT AS hv
    FROM events WHERE user_id IS NOT NULL
"""

_KMV_ORACLE = f"""
    WITH el AS ({_KMV_EL_SQL}),
    samp AS (
        SELECT event_type, hv FROM (
            SELECT event_type, hv,
                   row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM el
        ) WHERE rn <= {_KMV_K}
    ),
    tp AS (SELECT DISTINCT event_type FROM el),
    pr AS (
        SELECT l.event_type AS t1, r.event_type AS t2
        FROM tp l JOIN tp r ON l.event_type < r.event_type
    ),
    ps AS (
        SELECT t1, t2, hv,
               MAX(CASE WHEN s.event_type = t1 THEN 1 ELSE 0 END) AS in1,
               MAX(CASE WHEN s.event_type = t2 THEN 1 ELSE 0 END) AS in2
        FROM pr JOIN samp s ON s.event_type = t1 OR s.event_type = t2
        GROUP BY t1, t2, hv
    ),
    pk AS (
        SELECT t1, t2, hv, in1, in2 FROM (
            SELECT t1, t2, hv, in1, in2,
                   row_number() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn
            FROM ps
        ) WHERE rn <= {_KMV_K}
    ),
    merged AS (
        SELECT t1, t2, MAX(hv) AS kth_m, COUNT(*) AS nku,
               CAST(SUM(in1 * in2) AS BIGINT) AS matches
        FROM pk GROUP BY t1, t2
    ),
    pe AS (
        SELECT t1, t2, hv,
               MAX(CASE WHEN e.event_type = t1 THEN 1 ELSE 0 END) AS in1,
               MAX(CASE WHEN e.event_type = t2 THEN 1 ELSE 0 END) AS in2
        FROM pr JOIN el e ON e.event_type = t1 OR e.event_type = t2
        GROUP BY t1, t2, hv
    ),
    ex AS (
        SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS exact_union,
               CAST(SUM(in1 * in2) AS BIGINT) AS exact_inter
        FROM pe GROUP BY t1, t2
    ),
    dk AS (
        SELECT t1, t2, MAX(hv) AS kth_d FROM (
            SELECT t1, t2, hv,
                   row_number() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn
            FROM pe
        ) WHERE rn <= {_KMV_K} GROUP BY t1, t2
    )
    SELECT m.t1, m.t2,
           CAST(CASE WHEN m.nku < {_KMV_K} THEN m.nku
                     ELSE {_KMV_NUM} // m.kth_m END AS BIGINT) AS union_est,
           ex.exact_union,
           CAST(m.matches * 1000000 // m.nku AS BIGINT) AS jaccard_micro,
           CAST(m.matches * (CASE WHEN m.nku < {_KMV_K} THEN m.nku
                                  ELSE {_KMV_NUM} // m.kth_m END)
                // m.nku AS BIGINT) AS inter_est,
           ex.exact_inter,
           CAST(CASE WHEN m.kth_m = dk.kth_d THEN 1 ELSE 0 END AS BIGINT)
               AS merge_exact
    FROM merged m
    JOIN ex ON ex.t1 = m.t1 AND ex.t2 = m.t2
    JOIN dk ON dk.t1 = m.t1 AND dk.t2 = m.t2
"""


@query("sketch_kmv_distinct", oracle=_KMV_ORACLE)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with SET
    ALGEBRA — the member of the sketch family HLL cannot provide:
    because a KMV sketch is a uniform sample of the hashed universe,
    two sketches support union AND intersection estimates (Beyer et
    al., SIGMOD'07 "distinct-value synopses"), where HLL registers
    only union. Per event-type pair over (user, day) activity
    elements: union estimate (k-1)*2^56 div kth_min, KMV Jaccard
    matches/k, intersection = Jaccard * union — all exact integer
    floor-div micro units both engines reproduce bit-for-bit.

    Two contracts ride the hash: (a) ``merge_exact`` pins the KMV
    merge lemma — the k smallest of (S1 union S2) computed from the
    two k-sized SKETCHES equals the k smallest of the full element
    union (the O(state) mergeability that makes bottom-k a rollup
    sketch); (b) exact union/intersection counts sit next to the
    estimates so the approximation error is inspectable (tau lesson:
    at sf0.01 every pair overlaps partially -- jaccard_micro is
    non-degenerate, strictly between 0 and 10^6).

    Shape at 100 TB: elements dedupe via one hash aggregate; per-set
    sketches are a rank<=k filter the optimizer rewrites to
    WindowGroupLimit (per-partition top-k then merge -- never a full
    per-key sort); pair algebra runs on k*|types|^2 rows of sketch
    state. The exact-count columns are the verification harness, not
    the production path -- a deployment emits sketches only."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("user_id").cast("string"),
                    F.to_date("ts").cast("string"),
                )
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")
    # The element frame feeds four consumers (per-type sketches, the
    # pair-element grid twice, the type dimension); a lazy checkpoint
    # pins the dedupe scan to one computation.
    el = (
        events.where(F.col("user_id").isNotNull())
        .select("event_type", hv.alias("hv"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    wt = Window.partitionBy("event_type").orderBy("hv")
    samp = (
        el.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    types = el.select("event_type").distinct()
    pr = (
        types.alias("l")
        .join(
            types.alias("r"),
            F.col("l.event_type") < F.col("r.event_type"),
        )
        .select(
            F.col("l.event_type").alias("t1"),
            F.col("r.event_type").alias("t2"),
        )
    )

    def _pair_elements(src: DataFrame) -> DataFrame:
        s = src.withColumnRenamed("event_type", "et")
        return (
            F.broadcast(pr)
            .join(s, (F.col("et") == F.col("t1")) | (F.col("et") == F.col("t2")))
            .groupBy("t1", "t2", "hv")
            .agg(
                F.max(
                    F.when(F.col("et") == F.col("t1"), 1).otherwise(0)
                ).alias("in1"),
                F.max(
                    F.when(F.col("et") == F.col("t2"), 1).otherwise(0)
                ).alias("in2"),
            )
        )
    ps = _pair_elements(samp)
    wu = Window.partitionBy("t1", "t2").orderBy("hv")
    pk = (
        ps.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _KMV_K)
    )
    merged = pk.groupBy("t1", "t2").agg(
        F.max("hv").alias("kth_m"),
        F.count(F.lit(1)).alias("nku"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("matches"),
    )
    pe = _pair_elements(el)
    ex = pe.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("exact_inter"),
    )
    dk = (
        pe.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("t1", "t2")
        .agg(F.max("hv").alias("kth_d"))
    )
    est = (
        f"CASE WHEN nku < {_KMV_K} THEN nku ELSE {_KMV_NUM} div kth_m END"
    )
    return (
        merged.join(ex, ["t1", "t2"])
        .join(dk, ["t1", "t2"])
        .select(
            "t1",
            "t2",
            F.expr(f"CAST({est} AS BIGINT)").alias("union_est"),
            "exact_union",
            F.expr("CAST(matches * 1000000 div nku AS BIGINT)").alias(
                "jaccard_micro"
            ),
            F.expr(f"CAST(matches * ({est}) div nku AS BIGINT)").alias(
                "inter_est"
            ),
            "exact_inter",
            F.expr(
                "CAST(CASE WHEN kth_m = kth_d THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("merge_exact"),
        )
    )


# chi-square(1 dof) critical value at alpha = 0.05. The chi2 column is
# computed as ONE identically-ordered double expression on both engines
# (per-row IEEE ops are bit-deterministic; an integer formulation
# overflows int64 at sf1 cohort sizes, and Spark's decimal `div`
# silently wraps to a negative BIGINT -- measured, not theoretical).
_CHI2_EXPR = (
    "CASE WHEN den = 0 THEN 0.0 "
    "ELSE CAST(n AS DOUBLE) * dev * dev / den END"
)
_CHI2_CRIT = "3.841458820694124"

_AB_ORACLE = f"""
    WITH pu AS (
        SELECT event_type, user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2 AS t,
               MAX(value) AS mx
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type, user_id
    ),
    outcomes AS (
        SELECT event_type, 'null' AS experiment, t,
               CASE WHEN mx >= 100 THEN 1 ELSE 0 END AS y
        FROM pu
        UNION ALL
        SELECT event_type, 'planted' AS experiment, t,
               CASE WHEN (t = 1 AND mx >= 80) OR (t = 0 AND mx >= 120)
                    THEN 1 ELSE 0 END AS y
        FROM pu
    ),
    cont AS (
        SELECT event_type, experiment,
               CAST(SUM(t * y) AS BIGINT)             AS a,
               CAST(SUM(t * (1 - y)) AS BIGINT)       AS b,
               CAST(SUM((1 - t) * y) AS BIGINT)       AS c,
               CAST(SUM((1 - t) * (1 - y)) AS BIGINT) AS d
        FROM outcomes GROUP BY event_type, experiment
    ),
    stat AS (
        SELECT event_type, experiment, a, b, c, d,
               a + b + c + d AS n,
               a * d - b * c AS dev,
               (a + b) * (c + d) * (a + c) * (b + d) AS den
        FROM cont
    )
    SELECT event_type, experiment, a, b, c, d,
           {_CHI2_EXPR} AS chi2,
           CAST(CASE WHEN {_CHI2_EXPR} > {_CHI2_CRIT} THEN 1 ELSE 0 END
                AS BIGINT) AS significant
    FROM stat
"""


@query("experiment_ab_chisq", oracle=_AB_ORACLE)
def experiment_ab_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT ANALYSIS: deterministic hash-parity cohort
    assignment (the md5-split every experimentation platform uses --
    sticky, uniform, needs no assignment table) and a 2x2 chi-square
    independence test per (event_type, experiment). Two experiments
    ride the same cohorts so BOTH fates land on the hash (tau lesson):
    'null' applies one outcome threshold to both arms (treatment is
    independent of outcome -- chi2 small, flag rarely fires) and
    'planted' biases the threshold by arm (80 vs 120 on a max-value
    outcome: a ~20-point lift on n=150 -- chi2 >> 3.84, flag fires at
    every SF).

    Determinism: the contingency table is exact integers (two hash
    aggregates); chi2 = n*(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)) is ONE
    identically-ordered double expression on both engines -- per-row
    IEEE arithmetic is bit-deterministic (registry rule #2), while the
    all-integer form overflows int64 at sf1 cohort sizes and Spark's
    decimal `div` wraps to a negative BIGINT rather than erroring
    (measured on 4.7e12 * 4.7e12).

    Shape at 100 TB: per-(type,user) reduction is one hash aggregate
    with map-side combine; the contingency/statistic stage runs on
    |types|x|experiments| rows. No window, no collect, no skew (the
    md5 split is uniform by construction)."""
    events = load_table(spark, sf_dir, "events")
    t = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    pu = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.max("value").alias("mx"))
        .select("event_type", t.alias("t"), "mx")
    )
    null_y = F.when(F.col("mx") >= 100, 1).otherwise(0)
    planted_y = F.when(
        ((F.col("t") == 1) & (F.col("mx") >= 80))
        | ((F.col("t") == 0) & (F.col("mx") >= 120)),
        1,
    ).otherwise(0)
    outcomes = pu.select(
        "event_type", F.lit("null").alias("experiment"), "t", null_y.alias("y")
    ).unionByName(
        pu.select(
            "event_type",
            F.lit("planted").alias("experiment"),
            "t",
            planted_y.alias("y"),
        )
    )
    cont = outcomes.groupBy("event_type", "experiment").agg(
        F.sum(F.col("t") * F.col("y")).cast("long").alias("a"),
        F.sum(F.col("t") * (1 - F.col("y"))).cast("long").alias("b"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("c"),
        F.sum((1 - F.col("t")) * (1 - F.col("y"))).cast("long").alias("d"),
    )
    stat = cont.withColumn("n", F.expr("a + b + c + d")).withColumn(
        "dev", F.expr("a * d - b * c")
    ).withColumn("den", F.expr("(a + b) * (c + d) * (a + c) * (b + d)"))
    return stat.select(
        "event_type",
        "experiment",
        "a",
        "b",
        "c",
        "d",
        F.expr(_CHI2_EXPR).alias("chi2"),
        F.expr(
            f"CAST(CASE WHEN {_CHI2_EXPR} > {_CHI2_CRIT} THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("significant"),
    )


_TV_ORACLE = rf"""
    WITH tok AS (
        SELECT source, tok
        FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    sc AS (SELECT source, tok, COUNT(*) AS cs FROM tok GROUP BY source, tok),
    vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
             FROM tok GROUP BY source),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    grid AS (
        SELECT s.source, s.ns, v.tok, v.c,
               COALESCE(sc.cs, 0) AS cs
        FROM srcs s CROSS JOIN vocab v
        LEFT JOIN sc ON sc.source = s.source AND sc.tok = v.tok
    ),
    dev AS (
        SELECT source, ns, abs(cs * (SELECT n FROM tot) - c * ns) AS term
        FROM grid
    )
    SELECT source,
           ns AS n_tokens,
           CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE)
               / (2.0 * ns * (SELECT n FROM tot)) AS tv,
           CAST(MAX(term) AS BIGINT) AS max_dev
    FROM dev GROUP BY source, ns
"""


@query("source_tv_divergence", oracle=_TV_ORACLE)
def source_tv_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE-DRIFT MONITORING: total-variation distance between each
    source's unigram token distribution and the corpus-wide
    distribution — the metric a data-mixture pipeline tracks per
    ingest batch to catch a source whose content shifted (crawler
    broke, domain pivoted) before it skews training. TV is chosen
    over KL precisely because it is RATIONAL: TV(p,q) =
    sum|c_s(w)*N - c(w)*N_s| / (2*N_s*N) needs no logarithm, so the
    per-term deviations are exact integers both engines agree on
    (ln() is not cross-engine stable — the HLL family's lesson), and
    only the final normalization is one identically-ordered double
    division (registry rule #2: per-row IEEE is bit-deterministic).

    The zero-count cells matter: a token the source never emits still
    contributes c(w)*N_s to the distance, so the grid is the FULL
    sources x vocabulary frame (coalesce 0), not the inner join —
    dropping them silently underestimates drift for narrow sources.

    Shape at 100 TB: token counts are two hash aggregates with
    map-side combine (zipfian head absorbed); the grid is
    |sources| x |vocab| — model-sized (vocabulary-bounded, the BPE
    family's budget), never corpus-sized; the corpus total is a 1-row
    broadcast. Deviation sums route through BIGINT (bounded by
    vocab * c_max * N_s — safe well past sf1)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    sc = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cs"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    srcs = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("ns"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(sc, ["source", "tok"], "left")
        .select(
            "source",
            "ns",
            "tok",
            "c",
            F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
        )
        .crossJoin(F.broadcast(tot))
    )
    dev = grid.select(
        "source",
        "ns",
        "n",
        F.abs(F.col("cs") * F.col("n") - F.col("c") * F.col("ns")).alias(
            "term"
        ),
    )
    return dev.groupBy("source", "ns", "n").agg(
        F.sum("term").cast("long").alias("s"),
        F.max("term").cast("long").alias("max_dev"),
    ).select(
        "source",
        F.col("ns").alias("n_tokens"),
        F.expr("CAST(s AS DOUBLE) / (2.0 * ns * n)").alias("tv"),
        "max_dev",
    )


def _minhash_pairs_ctes(corpus_sql: str) -> str:
    """The DuckDB CTE chain re-deriving the MinHash near-dup edge list
    (identical parameters to ``dedup_clusters``: 16 hashes, 4 bands,
    2-shingles, tau = 0.8) over the given corpus — shared by every
    graph-family oracle so the edge set is provably the same one."""
    return rf"""corpus AS ({corpus_sql}),
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
    edges AS MATERIALIZED (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs
    )"""


def _walk_step_sql(step: int) -> str:
    prev = f"s{step - 1}"
    return f"""s{step} AS (
        SELECT s.node, s.walk_id, n.dst AS cur,
               s.path || '-' || CAST(n.dst AS VARCHAR) AS path
        FROM {prev} s
        JOIN deg d ON d.src = s.cur
        JOIN nbr n ON n.src = s.cur
         AND n.nrank = 1 + ('0x' || substr(md5(CAST(s.cur AS VARCHAR)
             || ':' || CAST(s.walk_id AS VARCHAR) || ':{step}'), 1, 15))::BIGINT
             % d.d
    )"""


_WALKS_ORACLE = f"""
    WITH {_minhash_pairs_ctes(_DUP_CORPUS_SQL)},
    nbr AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS nrank
        FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    s0 AS (
        SELECT d.src AS node, w.range AS walk_id, d.src AS cur,
               CAST(d.src AS VARCHAR) AS path
        FROM deg d, range(1, 3) w
    ),
    {_walk_step_sql(1)},
    {_walk_step_sql(2)},
    {_walk_step_sql(3)}
    SELECT node, CAST(walk_id AS BIGINT) AS walk_id, path,
           cur AS end_node
    FROM s3
"""


@query("random_walks_dup_graph", oracle=_WALKS_ORACLE)
def random_walks_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM-WALK CORPUS over the near-dup graph — the DeepWalk /
    node2vec (p=q=1) sequence generator (Perozzi et al. KDD'14) that
    turns a graph into training sentences for embedding models: 2
    walks x 3 steps from every node, next hop drawn uniformly from the
    ranked adjacency by a content-derived hash (md5 of
    "cur:walk:step"), so the walk corpus is bit-reproducible with no
    stored RNG state — the derandomization rule every sampling query
    in this engine follows. The oracle replays every hop with unrolled
    CTEs over the identical edge list, so the hash proves path-exact
    equality, not just distributional agreement.

    Walks never dead-end: in the doubled corpus every node has its
    exact copy as a neighbor (degree >= 1 everywhere — the tau lesson
    checked before shipping: 906 degree-1 nodes, 94 higher).

    Shape at 100 TB: see functions/graph.random_walks — per-step equi
    joins of the walk frontier (1 row per node x walk) against the
    ranked adjacency; no driver state, no Python row path."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import random_walks

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select("a_id", "b_id")
    return random_walks(pairs, walks_per_node=2, walk_length=3,
                        src="a_id", dst="b_id")


def _kcore_round_sql(r: int, k: int) -> str:
    prev_e = "edges" if r == 1 else f"e{r - 1}"
    prev_n = "n0" if r == 1 else f"n{r - 1}"
    # MATERIALIZED is load-bearing: each round references the previous
    # round's frames multiple times, and DuckDB inlines plain CTEs —
    # the 6-round chain would otherwise expand the MinHash mining
    # 3^6 times (measured: file-handle exhaustion, not just slowness).
    return f"""d{r} AS MATERIALIZED (
        SELECT n.node, COALESCE(c.d, 0) AS d
        FROM {prev_n} n LEFT JOIN (
            SELECT src, COUNT(*) AS d FROM {prev_e} GROUP BY src
        ) c ON c.src = n.node
    ),
    p{r} AS (SELECT node FROM d{r} WHERE d < {k}),
    n{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {k}),
    e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {prev_e} e
        JOIN n{r} a ON a.node = e.src
        JOIN n{r} b ON b.node = e.dst
    )"""


# 4 = 4x the measured peel depth: max peel_round is 1 on EVERY corpus
# (driver sf0.001/0.01/0.1 and .scaledata sf1/sf2 and zipf sf2, probed
# r11) and the docstring's degeneracy argument bounds dedup graphs at
# ~2. Both engines unroll the SAME ladder, and the Spark side RAISES
# if a 5th round would peel, so a corpus that ever needs more rounds
# fails loudly instead of silently truncating. Was 6 through r10; each
# spare round costs a fixed ladder segment (~0.15-0.2 s at sf0.1) that
# became the query's dominant cost after the r11 peel rewrite.
_KCORE_ROUNDS = 4

_KCORE_ORACLE = f"""
    WITH {_minhash_pairs_ctes(_DUP_CORPUS_SQL)},
    n0 AS (SELECT DISTINCT src AS node FROM edges),
    {','.join(_kcore_round_sql(r, 2) for r in range(1, _KCORE_ROUNDS + 1))},
    peeled AS (
        {' UNION ALL '.join(f"SELECT node, {r} AS pr FROM p{r}" for r in range(1, _KCORE_ROUNDS + 1))}
    ),
    fin AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS cd
        FROM e{_KCORE_ROUNDS} GROUP BY src
    )
    SELECT n.node,
           CAST(COALESCE(MIN(p.pr), 0) AS BIGINT) AS peel_round,
           CAST(COALESCE(MIN(f.cd), 0) AS BIGINT) AS core_deg
    FROM n0 n
    LEFT JOIN peeled p ON p.node = n.node
    LEFT JOIN fin f ON f.node = n.node
    GROUP BY n.node
"""


@query("kcore_decomposition", oracle=_KCORE_ORACLE)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-CORE of the near-dup graph by iterative peeling
    (functions/graph.kcore_peel, Matula-Beck): exact-dup pairs are
    degree-1 appendages that peel in round 1, near-dup groups are
    cliques whose members survive with their within-core degree — the
    structural quality signal (template farms, mirrored spam) that
    degree counts alone cannot separate from honest one-off
    duplicates. Both fates dominate the output at every SF (906
    peeled / 94 core members at sf0.01 — tau-checked before shipping).

    The oracle UNROLLS the peel as _KCORE_ROUNDS fixed rounds of CTEs; the Spark
    side iterates to fixpoint and RAISES if it exceeds the same bound,
    so the differential hash proves round-for-round equality and the
    bound's honesty simultaneously (a graph needing more rounds fails
    loudly on the engine side, never silently on the oracle side).

    Shape at 100 TB: each round is one hash aggregate + two semi-joins
    (see kcore_peel); rounds bounded by degeneracy depth — 2 on dedup
    graphs, never corpus-scale."""
    from ..functions.dedupe import minhash_near_dup_pairs
    from ..functions.graph import kcore_peel

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
    ).select("a_id", "b_id")
    return kcore_peel(pairs, k=2, max_rounds=_KCORE_ROUNDS,
                      src="a_id", dst="b_id")


# U-shaped (position-based) multi-touch weights in micro units, exact:
# n=1 -> 10^6; n=2 -> 500000 each; n>=3 -> 400000 first and last,
# floor(200000/(n-2)) per middle, remainder added to the FIRST touch so
# per-purchase weights sum to exactly 10^6 (credit conservation is an
# invariant, not an approximation).
_ATTR_W = """
    CASE WHEN n = 1 THEN 1000000
         WHEN n = 2 THEN 500000
         WHEN pos = 1 THEN 400000 + (200000 - (n - 2) * (200000 {D} (n - 2)))
         WHEN pos = n THEN 400000
         ELSE 200000 {D} (n - 2) END
"""

_ATTR_ORACLE = f"""
    WITH purch AS (
        SELECT event_id AS pid, user_id, ts AS pts,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               CAST(ts AS DATE) AS dt
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    touch AS (
        SELECT p.pid, p.dt, p.cents, e.event_type AS channel,
               e.ts AS tts, e.event_id AS tid
        FROM purch p
        JOIN events e ON e.user_id = p.user_id
         AND e.event_type IN ('view', 'click')
         AND e.ts < p.pts
         AND e.ts >= p.pts - INTERVAL 3 DAY
    ),
    pos AS (
        SELECT pid, dt, cents, channel,
               row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS pos,
               COUNT(*) OVER (PARTITION BY pid) AS n
        FROM touch
    ),
    credited AS (
        SELECT channel, dt, cents * ({_ATTR_W.format(D='//')}) AS micro
        FROM pos
        UNION ALL
        SELECT 'direct' AS channel, p.dt, p.cents * 1000000 AS micro
        FROM purch p
        WHERE NOT EXISTS (SELECT 1 FROM touch t WHERE t.pid = p.pid)
    )
    SELECT channel, dt,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(micro) AS BIGINT) AS attributed_micro_cents
    FROM credited GROUP BY channel, dt
"""


@query("attribution_position_weighted", oracle=_ATTR_ORACLE)
def attribution_position_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION, position-based (U-shaped): every
    purchase distributes its revenue over the user's view/click
    touchpoints in the preceding 3 days — 40% to the first touch, 40%
    to the last, the middle 20% split evenly across interior touches —
    and purchases with no preceding touch credit a 'direct' channel
    (both fates on the hash). The weights are exact integer micro
    units with the floor-division remainder pinned to the first touch,
    so per-purchase credit sums to exactly 10^6 x value: conservation
    is an invariant the hash enforces, where a float split would leak
    ulps per purchase.

    Revenue enters as floor(value*100) cents (per-row IEEE double ops
    are bit-deterministic — registry rule #2); everything after is
    integer.

    Shape at 100 TB: the purchase-touch association is an equi join on
    user_id with a bounded time-range predicate (the as-of/range-join
    family's shape — state bounded by 3 days per user, never the full
    history); position/count windows are per-purchase, bounded by
    touches-in-3-days; the rollup is one hash aggregate. The
    NOT EXISTS for direct credit is an anti join on the purchase key."""
    events = load_table(spark, sf_dir, "events")
    purch = events.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.to_date("ts").alias("dt"),
    )
    touches = events.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
    )
    # The association result feeds the position windows AND the direct-
    # credit anti join; the purchase slice feeds the join and the anti
    # join — lazy checkpoints pin each to one events scan.
    purch = purch.localCheckpoint(eager=False)
    touch = purch.join(
        touches,
        (purch["user_id"] == touches["user_id"])
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 3 DAY")),
    ).select(
        "pid", "dt", "cents", "channel", "tts", "tid"
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    wp = Window.partitionBy("pid")
    pos = touch.select(
        "pid",
        "dt",
        "cents",
        "channel",
        F.row_number().over(wp.orderBy("tts", "tid")).alias("pos"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    credited = pos.select(
        "channel",
        "dt",
        F.expr(f"cents * ({_ATTR_W.format(D='div')})").alias("micro"),
    ).unionByName(
        purch.join(touch.select("pid").distinct(), "pid", "left_anti").select(
            F.lit("direct").alias("channel"),
            "dt",
            (F.col("cents") * F.lit(1000000)).alias("micro"),
        )
    )
    return credited.groupBy("channel", "dt").agg(
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.sum("micro").cast("long").alias("attributed_micro_cents"),
    )


_INVIDX_TOP = 12

_INVIDX_ORACLE = rf"""
    WITH tok AS (
        SELECT doc_id, tok
        FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    dt AS (
        SELECT tok, doc_id, COUNT(*) AS tf
        FROM tok GROUP BY tok, doc_id
    ),
    ranked AS (
        SELECT tok, doc_id, tf,
               row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        FROM dt
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT)  AS cf,
           CAST(MAX(tf) AS BIGINT)  AS max_tf,
           string_agg(CASE WHEN rn <= {_INVIDX_TOP}
                           THEN CAST(doc_id AS VARCHAR) END, '-'
                      ORDER BY doc_id) AS head_postings
    FROM ranked GROUP BY tok
"""


@query("inverted_index_postings", oracle=_INVIDX_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERTED-INDEX BUILD — the batch side of lexical retrieval
    (BM25's storage layer): per token, document frequency, collection
    frequency, max within-doc tf, and the HEAD of the posting list
    (first 12 doc ids ascending, '-'-joined) — the index page a
    search shard serves. Emitting the head rather than the full list
    is the scale contract: per-token state in the final aggregate is
    capped at 12 ids, while df/cf/max_tf summarize the tail — a full
    posting string would make one zipfian stopword token hold a
    corpus-sized row (the anti-pattern this query exists to show
    avoided).

    Shape at 100 TB: explode -> (tok, doc) hash aggregate with
    map-side combine; the head selection is rank <= 12 under a
    per-token window the optimizer rewrites to WindowGroupLimit
    (per-partition top-k, then merge — never a full per-token sort of
    the posting list); final per-token aggregate carries bounded
    state. Postings ride as a string so the differential hash
    byte-compares ordered list content cross-engine."""
    from pyspark.sql import Window
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    dt = tok.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    ranked = dt.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("tok").orderBy("doc_id")),
    )
    return ranked.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.max("tf").cast("long").alias("max_tf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") <= _INVIDX_TOP, F.col("doc_id"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            "-",
        ).alias("head_postings"),
    )


_STREAM_JOIN_SQL = """
    SELECT CAST(v.ts AS DATE) AS dt,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT v.user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(p.value AS DECIMAL(25,6))) AS DOUBLE), 6)
               AS purchase_value
    FROM events v
    JOIN events p ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.user_id IS NOT NULL
    GROUP BY CAST(v.ts AS DATE)
"""


@query("streaming_stream_join", oracle=_STREAM_JOIN_SQL)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM INTERVAL JOIN — the marquee Structured Streaming
    operator the other three streaming rows don't touch: a views
    stream joined to a purchases stream on user with purchase time
    inside [view, view + 1h), BOTH sides watermarked 30 minutes so
    join state is bounded (a view is evicted once the watermark passes
    view + 1h — it can no longer match an on-time purchase; without
    the time-range condition Spark would have to hold every view
    forever). Inner join, so matched pairs emit as soon as both sides
    arrive; the oracle is the plain batch interval join, making the
    driver hash the stream==batch equivalence proof for two-sided
    state.

    Why no rows drop: both streams stage on the SAME calendar cuts,
    one write job per range (the mtime lesson — FileStreamSource
    replays oldest-mtime-first, and equal mtimes randomize replay
    order, silently dropping months-late events under the watermark;
    measured in streaming_session_windows). Range k+1 events are all
    newer than watermark(k), and evicted views can only have matched
    purchases that already passed — so the streamed join is EXACTLY
    the batch join, which is what the hash checks.

    Shape at 100 TB: state is per-user views within a 90-minute
    horizon (watermark + interval), independent of stream length;
    the post-join rollup is a batch aggregate over the transactional
    file sink's output."""
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_stream_join_")
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("vts")
    )
    purch = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("value").alias("p_value"),
    )
    cuts = ["2024-02-01", "2024-03-01", "2024-04-01", "2024-05-01",
            "2024-06-01", "2100-01-01"]
    # One scan + one write job per side (was: one filtered scan per
    # range per side = 10 scans of events); the staged contract — one
    # file per range, strictly increasing mtimes — is identical, set
    # explicitly via utime instead of sequential-write scheduling.
    from ..streaming.staging import stage_time_ordered

    v_path = stage_time_ordered(views, "vts", os.path.join(root, "views"), cuts)
    p_path = stage_time_ordered(purch, "pts", os.path.join(root, "purchases"), cuts)
    v_src = spark.read.schema(as_nullable(views.schema)).parquet(v_path)
    p_src = spark.read.schema(as_nullable(purch.schema)).parquet(p_path)
    v_stream = (
        spark.readStream.schema(v_src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(v_path)
        .withWatermark("vts", "30 minutes")
    )
    p_stream = (
        spark.readStream.schema(p_src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(p_path)
        .withWatermark("pts", "30 minutes")
    )
    joined = v_stream.join(
        p_stream,
        F.expr(
            "v_user = p_user AND pts >= vts"
            " AND pts <= vts + INTERVAL 1 HOUR"
        ),
        "inner",
    )
    out = os.path.join(root, "out")
    # the width comes from both sides: the join keeps 4 state stores per
    # partition per side
    run_available(
        spark,
        joined.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append"),
        os.path.join(root, "ckpt"),
        [v_src, p_src],
    )
    pairs = spark.read.schema(joined.schema).parquet(out)
    return pairs.groupBy(F.to_date("vts").alias("dt")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count_distinct("v_user").cast("long").alias("n_users"),
        F.round(
            F.sum(F.col("p_value").cast("decimal(25,6)")).cast("double"), 6
        ).alias("purchase_value"),
    )


_COOC_CAP = 32
_COOC_TOPK = 5

_COOC_ORACLE = f"""
    WITH ui AS (
        SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item,
               MAX(ts) AS last_ts
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id, item
    ),
    recent AS (
        SELECT user_id, item FROM (
            SELECT user_id, item,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY last_ts DESC, item
                   ) AS rn
            FROM ui
        ) WHERE rn <= {_COOC_CAP}
    ),
    cooc AS (
        SELECT a.item AS i1, b.item AS i2, COUNT(*) AS c
        FROM recent a JOIN recent b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    ni AS (SELECT item, COUNT(*) AS n FROM recent GROUP BY item),
    sym AS (
        SELECT i1 AS item, i2 AS other, c FROM cooc
        UNION ALL
        SELECT i2 AS item, i1 AS other, c FROM cooc
    ),
    sim AS (
        SELECT s.item, s.other, s.c,
               s.c * 1000000 // (n1.n + n2.n - s.c) AS jaccard_micro
        FROM sym s
        JOIN ni n1 ON n1.item = s.item
        JOIN ni n2 ON n2.item = s.other
    )
    SELECT item, other, CAST(c AS BIGINT) AS cooc_users,
           CAST(jaccard_micro AS BIGINT) AS jaccard_micro,
           CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT item, other, c, jaccard_micro,
               row_number() OVER (
                   PARTITION BY item
                   ORDER BY jaccard_micro DESC, other
               ) AS rn
        FROM sim
    ) WHERE rn <= {_COOC_TOPK}
"""


@query("item_cooccurrence_topk", oracle=_COOC_ORACLE)
def item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-TO-ITEM COLLABORATIVE FILTERING (Linden et al., the
    Amazon item-item paper, IEEE IC'03): users who touched item A also
    touched B — co-occurrence counts over per-user interaction sets,
    scored by exact-integer Jaccard c*10^6 div (nA + nB - c), top-5
    similar items per item (rank ties broken by item id — the
    deterministic-top-k rule).

    The load-bearing scale decision is the PER-USER CAP: interactions
    dedupe to (user, item) and only the 32 most-RECENT items per user
    enter the pair expansion, so the self-join fans out at most
    cap*(cap-1)/2 pairs per user regardless of how heavy a power user
    is — without the cap the expansion is quadratic in per-user
    history and one crawler account dominates the shuffle (the
    documented reason every production item-item pipeline caps or
    samples). Recency is the cap's ordering so the similarity tracks
    current behavior; the cap is part of the query's SEMANTICS (the
    oracle applies it identically), not a silent approximation.

    Shape at 100 TB: (user, item, max ts) hash aggregate; per-user
    top-32 via WindowGroupLimit; bounded pair explosion -> (i1, i2)
    hash aggregate; item-degree join is |items|-sized; final top-5 per
    item again WindowGroupLimit. Item ids come from the VARIANT path
    (parse_json once, typed variant_get — the Spark 4 idiom)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    ui = (
        events.where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.variant_get(F.parse_json("props"), "$.k", "bigint").alias(
                "item"
            ),
            "ts",
        )
        .groupBy("user_id", "item")
        .agg(F.max("ts").alias("last_ts"))
    )
    # Three consumers (both self-join sides + the degree table) would
    # re-scan events and re-run the top-32 window; one lazy checkpoint
    # pins the capped interaction set to a single computation.
    recent = (
        ui.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("last_ts").desc(), "item"
                )
            ),
        )
        .filter(F.col("rn") <= _COOC_CAP)
        .select("user_id", "item")
        .localCheckpoint(eager=False)
    )
    a, b = recent.alias("a"), recent.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i1"), F.col("b.item").alias("i2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ni = recent.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    sym = cooc.select(
        F.col("i1").alias("item"), F.col("i2").alias("other"), "c"
    ).unionByName(
        cooc.select(
            F.col("i2").alias("item"), F.col("i1").alias("other"), "c"
        )
    )
    sim = (
        sym.join(ni.select(F.col("item"), F.col("n").alias("n1")), "item")
        .join(
            ni.select(
                F.col("item").alias("other"), F.col("n").alias("n2")
            ),
            "other",
        )
        .select(
            "item",
            "other",
            "c",
            F.expr("c * 1000000 div (n1 + n2 - c)").alias("jaccard_micro"),
        )
    )
    ranked = sim.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("item").orderBy(
                F.col("jaccard_micro").desc(), "other"
            )
        ),
    ).filter(F.col("rn") <= _COOC_TOPK)
    return ranked.select(
        "item",
        "other",
        F.col("c").cast("long").alias("cooc_users"),
        F.col("jaccard_micro").cast("long").alias("jaccard_micro"),
        F.col("rn").cast("long").alias("rank"),
    )


_MAD_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS dt, COUNT(*) AS n_events
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    med AS (
        SELECT event_type, n_events AS med FROM (
            SELECT event_type, n_events,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY n_events, dt
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT d.event_type, d.dt, d.n_events, m.med,
               abs(d.n_events - m.med) AS ad
        FROM daily d JOIN med m ON m.event_type = d.event_type
    ),
    mad AS (
        SELECT event_type, ad AS mad FROM (
            SELECT event_type, ad,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY ad, dt
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, d.dt,
           CAST(d.n_events AS BIGINT) AS n_events,
           CAST(d.med AS BIGINT) AS med,
           CAST(m.mad AS BIGINT) AS mad,
           CAST(CASE WHEN d.ad > 2 * m.mad THEN 1 ELSE 0 END AS BIGINT)
               AS is_outlier
    FROM dev d JOIN mad m ON m.event_type = d.event_type
"""


@query("mad_robust_outliers", oracle=_MAD_ORACLE)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier flags via MEDIAN ABSOLUTE DEVIATION — the
    breakdown-resistant twin of anomaly_days_zscore: mean/sigma flags
    move when the outlier itself inflates sigma (masking), while
    median/MAD have a 50% breakdown point, so a burst day cannot hide
    itself. Flags |x - med| > 2*MAD per (event_type, day) — every
    quantity exact integers: the median follows the engine-pinned
    value-at-rank-(n+1) div 2 convention (the lower median — same
    rank selection family as customer_rfm_boundaries, tie order
    (value, dt) so the selected VALUE is deterministic), the MAD is
    the median of integer absolute deviations, and the comparison
    needs no scaling because 2*MAD stays integral. No sqrt, no float
    anywhere (the anomaly_days_zscore trick, one step further: even
    the centre is integral).

    Shape at 100 TB: the day grain is bounded (|types| x |days|), so
    the two value-at-rank windows run on a model-sized frame — this is
    the token_budget_selection bounded-global-window budget, not a
    data-sized sort; the daily reduction itself is one hash aggregate
    with map-side combine. Medians broadcast back onto the day grain."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # Day grain feeds both median passes and the final frame — pin the
    # scan+aggregate to one computation (model-sized: |types| x |days|).
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("dt"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .localCheckpoint(eager=False)
    )

    def _median_of(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            F.col(col),
            F.row_number()
            .over(w.orderBy(F.col(col), F.col("dt")))
            .alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        return ranked.filter(
            F.col("rn") == F.expr("(n + 1) div 2")
        ).select("event_type", F.col(col).alias(out))

    med = _median_of(daily, "n_events", "med")
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = _median_of(dev, "ad", "mad")
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "dt",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("med").cast("long").alias("med"),
        F.col("mad").cast("long").alias("mad"),
        F.expr(
            "CAST(CASE WHEN ad > 2 * mad THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_outlier"),
    )


_COHORT_ORACLE = """
    WITH firstd AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    cohorts AS (
        SELECT user_id, d0,
               date_diff('day', DATE '2024-01-01', d0) AS cohort_day
        FROM firstd
    ),
    sizes AS (
        SELECT cohort_day, COUNT(*) AS cohort_size
        FROM cohorts GROUP BY cohort_day
    ),
    activity AS (
        SELECT DISTINCT c.cohort_day, c.user_id,
               date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7 AS offset_week
        FROM cohorts c JOIN events e ON e.user_id = c.user_id
    ),
    revenue AS (
        SELECT c.cohort_day,
               date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7 AS offset_week,
               CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM cohorts c JOIN events e ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY c.cohort_day, date_diff('day', c.d0, CAST(e.ts AS DATE)) // 7
    ),
    act AS (
        SELECT cohort_day, offset_week,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM activity GROUP BY cohort_day, offset_week
    )
    SELECT a.cohort_day, a.offset_week, a.n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(a.n_active * 1000000 // s.cohort_size AS BIGINT)
               AS retention_micro,
           COALESCE(r.revenue_cents, 0) AS revenue_cents
    FROM act a
    JOIN sizes s ON s.cohort_day = a.cohort_day
    LEFT JOIN revenue r ON r.cohort_day = a.cohort_day
     AND r.offset_week = a.offset_week
"""


@query("user_ltv_cohort", oracle=_COHORT_ORACLE)
def user_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT-RETENTION TRIANGLE with LTV — the growth-analytics
    artifact behind every retention dashboard: users cohorted by
    first-activity DAY, tracked per week-offset since their OWN start
    (not calendar weeks — the triangle's defining diagonal), with
    distinct-user retention in exact micro units and cumulative-able
    purchase revenue in integer cents per (cohort, offset) cell. Day
    cohorts x week offsets because the testdata's arrival pattern
    concentrates first activity into a few days — week cohorts
    collapse to one row and verify nothing (the tau lesson, applied
    before shipping).

    Time indices are day-diffs from a fixed origin (offset floor-div
    7), NOT date_trunc('week', ...): the engines agree on datediff
    arithmetic unconditionally, while week truncation drags in
    locale/ISO start-of-week conventions — the same
    divergence-avoidance rule as the datetime_surface family. Revenue
    enters as floor(value*100) cents (rule #2).

    Shape at 100 TB: first-activity is one hash aggregate; the
    activity join is user-keyed (co-partitioned with the cohort
    frame); cells are |days| x |weeks|-bounded — the triangle is
    model-sized however large the corpus. Cohort sizes broadcast onto
    the cells."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    firstd = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    cohorts = firstd.select(
        "user_id",
        "d0",
        F.expr("datediff(d0, DATE '2024-01-01')").alias("cohort_day"),
    ).localCheckpoint(eager=False)
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ej = events.join(cohorts, "user_id").withColumn(
        "offset_week", F.expr("datediff(to_date(ts), d0) div 7")
    )
    act = (
        ej.select("cohort_day", "user_id", "offset_week")
        .distinct()
        .groupBy("cohort_day", "offset_week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    rev = (
        ej.where(F.col("event_type") == "purchase")
        .groupBy("cohort_day", "offset_week")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    return (
        act.join(F.broadcast(sizes), "cohort_day")
        .join(rev, ["cohort_day", "offset_week"], "left")
        .select(
            "cohort_day",
            "offset_week",
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.expr(
                "CAST(n_active * 1000000 div cohort_size AS BIGINT)"
            ).alias("retention_micro"),
            F.coalesce("revenue_cents", F.lit(0)).alias("revenue_cents"),
        )
    )


_HAZARD_ORACLE = """
    WITH life AS (
        SELECT user_id,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS lifetime
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    byl AS (SELECT lifetime, COUNT(*) AS churned FROM life GROUP BY lifetime),
    curve AS (
        SELECT lifetime, churned,
               SUM(churned) OVER (
                   ORDER BY lifetime DESC ROWS UNBOUNDED PRECEDING
               ) AS at_risk
        FROM byl
    )
    SELECT lifetime AS day_offset,
           CAST(churned AS BIGINT) AS churned,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(churned * 1000000 // at_risk AS BIGINT) AS hazard_micro
    FROM curve
"""


@query("churn_hazard_curve", oracle=_HAZARD_ORACLE)
def churn_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE-TIME CHURN HAZARD — the survival-analysis summary
    (lifetime = days between a user's first and last event; hazard at
    offset d = users churning at d over users still at risk at d). The
    at-risk denominator is a SUFFIX sum over the lifetime grain — one
    descending cumulative window on a |days|-bounded frame, the
    standard life-table construction — so the whole curve needs no
    per-user window at all. Hazard lands in exact integer micro units;
    the Kaplan-Meier cumulative product is deliberately NOT emitted
    (an exact rational product overflows, a float product is
    order-fragile cross-engine; the hazard curve carries the same
    information losslessly).

    Shape at 100 TB: one (user -> min/max day) hash aggregate, one
    |days|-bounded grain, one bounded window. Nothing else."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    life = events.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "lifetime"
        )
    )
    byl = life.groupBy("lifetime").agg(F.count(F.lit(1)).alias("churned"))
    w = Window.orderBy(F.col("lifetime").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = byl.withColumn("at_risk", F.sum("churned").over(w))
    return curve.select(
        F.col("lifetime").alias("day_offset"),
        F.col("churned").cast("long").alias("churned"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.expr("CAST(churned * 1000000 div at_risk AS BIGINT)").alias(
            "hazard_micro"
        ),
    )


_ZIPF_ORACLE = rf"""
    WITH tok AS (
        SELECT tok FROM documents, unnest({_TOKS}) AS u(tok)
    ),
    vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
        FROM vocab
    ),
    pts AS (
        SELECT length(bin(r)) - 1 AS x, length(bin(c)) - 1 AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts
    )
    SELECT n AS n_tokens,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro,
           CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx)) * sx) // n AS BIGINT)
               AS intercept_micro
    FROM s
"""


@query("zipf_fit_tokens", oracle=_ZIPF_ORACLE)
def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT of the token frequency distribution: OLS slope of
    log2(freq) against log2(rank) — the corpus-law profile that flags
    a scraped batch whose head is too flat (template spam) or too
    steep (boilerplate collapse) before it trains. Logarithms are
    FLOOR-log2 via bit length (length(bin(x)) - 1): exact integers
    both engines agree on, where ln/log10 are not cross-engine stable
    (the HLL lesson) — the quantization is part of the metric's
    definition, not an approximation of a float fit. The slope then
    falls out of the five integer sufficient sums exactly as
    user_activity_trend's per-key OLS, with ranks tie-broken by token
    text so the rank assignment is deterministic.

    Shape at 100 TB: one token hash aggregate (map-side combine
    absorbs the zipfian head), a vocabulary-bounded rank window (the
    BPE family's budget), a 1-row sufficient-statistics aggregate."""
    from pyspark.sql import Window
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = vocab.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "tok"))
        .alias("r"),
    )
    pts = ranked.select(
        (F.length(F.bin("r")) - 1).alias("x"),
        (F.length(F.bin("c")) - 1).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_tokens"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx)) * sx) div n AS BIGINT)"
        ).alias("intercept_micro"),
    )


_BITMAP_ORACLE = """
    WITH cells AS (
        SELECT CAST(ts AS DATE) AS dt,
               user_id // 32 AS word_idx,
               1::BIGINT << CAST(user_id % 32 AS INTEGER) AS bit
        FROM events WHERE user_id IS NOT NULL
    ),
    words AS (
        SELECT dt, word_idx, bit_or(bit) AS bits
        FROM cells GROUP BY dt, word_idx
    ),
    active AS (
        SELECT dt, CAST(SUM(bit_count(bits)) AS BIGINT) AS active_users
        FROM words GROUP BY dt
    ),
    retained AS (
        SELECT a.dt,
               CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS retained_next
        FROM words a
        JOIN words b ON b.word_idx = a.word_idx AND b.dt = a.dt + 1
        GROUP BY a.dt
    )
    SELECT a.dt, a.active_users,
           CAST(COALESCE(r.retained_next, 0) AS BIGINT) AS retained_next
    FROM active a LEFT JOIN retained r ON r.dt = a.dt
"""


@query("bitmap_retention_rollup", oracle=_BITMAP_ORACLE)
def bitmap_retention_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX DISTINCT ROLLUP — the Druid/ClickHouse groupBitmap
    pattern: users land in 32-bit words (word = id div 32, one BIGINT
    per word so 1<<31 never wraps), per-(day, word) segments are built
    with ONE bit_or hash aggregate over the raw scan, and every
    distinct-user question after that is set algebra on the segments:
    daily actives = sum(bit_count(word)), day-over-day retention =
    bit_count(AND) under a word-aligned equi-join. The raw event table
    is touched exactly once; COUNT(DISTINCT) never appears.

    Shape at 100 TB: segment state is |user-space|/32 words per day —
    independent of event count — and word_idx is a dense uniform key,
    so both the bit_or aggregate and the self-join shard evenly. This
    is the precomputed-bitmap answer to the same question
    retention_7d answers with a distinct-pair join: build once, then
    every cohort/retention/overlap query is bitwise math on bounded
    state.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cells = ev.select(
        F.to_date("ts").alias("dt"),
        F.expr("user_id div 32").alias("word_idx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
        ).alias("bit"),
    )
    words = cells.groupBy("dt", "word_idx").agg(
        F.expr("bit_or(bit)").alias("bits")
    )
    active = words.groupBy("dt").agg(
        F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias("active_users")
    )
    nxt = words.select(
        F.date_sub("dt", 1).alias("dt"), "word_idx",
        F.col("bits").alias("bits_next"),
    )
    retained = (
        words.join(nxt, ["dt", "word_idx"])
        .groupBy("dt")
        .agg(
            F.expr(
                "CAST(SUM(bit_count(bits & bits_next)) AS BIGINT)"
            ).alias("retained_next")
        )
    )
    return (
        active.join(retained, "dt", "left")
        .select(
            "dt", "active_users",
            F.coalesce("retained_next", F.lit(0)).cast("long").alias(
                "retained_next"
            ),
        )
    )


_INTERVAL_ORACLE = """
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) // 1000000 AS s,
               epoch_us(ts) // 1000000
                   + 60 * CAST(floor(value) AS BIGINT) + 60 AS e
        FROM events WHERE user_id IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s <= COALESCE(MAX(e) OVER (
                   PARTITION BY user_id ORDER BY s, e, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -1) THEN 0 ELSE 1 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e, new_island
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island_id
        FROM flagged
    ),
    extents AS (
        SELECT user_id, island_id,
               COUNT(*) AS n_iv, MAX(e) - MIN(s) AS covered
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(covered) AS BIGINT) AS covered_seconds
    FROM extents GROUP BY user_id
"""


@query("interval_union_coverage", oracle=_INTERVAL_ORACLE)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION (gaps-and-islands) — each event claims the span
    [ts, ts + 60*floor(value) + 60] seconds and the engine reports, per
    user, the measure of the UNION of those spans: total covered
    seconds, interval count, and merged-island count. The classic
    construction: one running MAX(end) over a per-user ordered window
    flags island starts (an interval whose start exceeds every prior
    end), a running SUM turns flags into island ids, and each island
    contributes max(end) - min(start) — overlap-proof because islands
    are contiguous by construction. Complements peak_concurrency_daily
    (sweep-line MAX) with the union-MEASURE question sweep lines
    cannot answer without carrying counters.

    Determinism: all arithmetic in integer epoch seconds; the window
    order (s, e, event_id) is a total order per user, and the island
    running-sum orders by (s, e, new_island) so tied flags accumulate
    identically on both engines. Touching intervals ([a,b],[b,c])
    merge (<=, not <) — pinned in tests.

    Shape at 100 TB: both windows are partitioned by user_id — a hash
    exchange on the natural key and a per-partition sort, never a
    global window; the island aggregate reuses the same partitioning.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    iv = ev.select(
        "user_id", "event_id", "value",
        F.expr("unix_micros(ts) div 1000000").alias("s"),
    ).withColumn(
        "e", F.col("s") + 60 * F.floor("value").cast("long") + 60
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id", "s", "e",
        F.when(
            F.col("s") <= F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 0
        ).otherwise(1).alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "new_island")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(w_run))
    extents = islands.groupBy("user_id", "island_id").agg(
        F.count(F.lit(1)).alias("n_iv"),
        (F.max("e") - F.min("s")).alias("covered"),
    )
    return extents.groupBy("user_id").agg(
        F.sum("n_iv").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("covered").cast("long").alias("covered_seconds"),
    )


_BFS_ROUNDS = 10


def _bfs_round_sql(r: int) -> str:
    prev, vprev = f"f{r - 1}", f"v{r - 1}"
    return f"""f{r} AS MATERIALIZED (
        SELECT DISTINCT s.dst AS node
        FROM sym s JOIN {prev} p ON p.node = s.src
        WHERE NOT EXISTS (SELECT 1 FROM {vprev} v WHERE v.node = s.dst)
    ),
    v{r} AS MATERIALIZED (
        SELECT node FROM {vprev} UNION ALL SELECT node FROM f{r}
    )"""


_BFS_ORACLE = f"""
    WITH e AS (
        SELECT o_custkey AS c, l_suppkey AS s
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
    ),
    sym AS MATERIALIZED (
        SELECT 'C' || c AS src, 'S' || s AS dst FROM e
        UNION ALL
        SELECT 'S' || s AS src, 'C' || c AS dst FROM e
    ),
    f0 AS MATERIALIZED (
        SELECT DISTINCT 'C' || c_custkey AS node FROM customer
        WHERE c_nationkey = 8
          AND 'C' || c_custkey IN (SELECT src FROM sym)
    ),
    v0 AS (SELECT node FROM f0),
    {','.join(_bfs_round_sql(r) for r in range(1, _BFS_ROUNDS + 1))}
    SELECT node, CAST(dist AS BIGINT) AS dist FROM (
        {' UNION ALL '.join(f"SELECT node, {r} AS dist FROM f{r}" for r in range(0, _BFS_ROUNDS + 1))}
    )
"""


@query("bfs_customer_supplier_reach", oracle=_BFS_ORACLE)
def bfs_customer_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE BFS (functions/graph.bfs_layers) over the
    customer-supplier trading graph: nodes are customers and suppliers,
    an edge means >= 3 lineitems shipped between the pair (the
    threshold keeps the bipartite graph sparse enough to have real
    multi-hop structure — 6 populated layers at the sf0.01 gate,
    simulated before shipping; unthresholded the graph is a dense
    near-clique and every BFS is depth 2, the tau trap). Seeds are
    nation-8 customers; ``dist`` is the supply-chain hop distance —
    the reachability question behind contagion/exposure analyses
    (which suppliers are N trading hops from a sanctioned region).

    The oracle unrolls 10 frontier CTEs with NOT EXISTS visited
    checks; the engine raises past the same bound, so the hash proves
    layer-for-layer equality and the bound's honesty (kcore's
    contract). Unreached nodes are absent on both sides by design.

    Shape at 100 TB: per-round cost is frontier-proportional (join +
    distinct + anti-join on the node key); the edge list checkpoints
    once; rounds bound by graph diameter, small-world small."""
    from ..functions.graph import bfs_layers

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    seeds = cust.where(F.col("c_nationkey") == 8).select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("node")
    )
    return bfs_layers(e, seeds, max_rounds=_BFS_ROUNDS)


