"""Corpus deduplication at scale — exact, MinHash+LSH, SimHash,
n-gram Jaccard (BASELINE.json north-star extensions).

Design for 100 TB:

- **Exact** (:func:`curate_corpus`): md5(normalized text) is the key
  (``text.fingerprint_md5``). One shuffle keyed by a 128-bit hash —
  perfectly uniform, no skew.
- **MinHash + LSH** (:func:`minhash_near_dup_pairs`): the only way
  near-dup discovery scales is to never compare all pairs. Shingle →
  per-seed min-hash → band keys → self-join *on band key*. The join
  fans out only within buckets; candidate pairs are then verified with
  true Jaccard so LSH false positives never reach the output. Banding
  math: P(pair in ≥1 common band) = 1-(1-j^r)^b for Jaccard j,
  r rows/band, b bands.
- **SimHash** (:func:`with_simhash_pandas`; :func:`with_simhash` is
  its expression-form reference): 64-bit bit-vote signature;
  near-dups differ in ≤k bits. Bucket on bit-ranges for the scale
  path (same band-join trick on hamming pieces).
- All hashing is md5-derived: deterministic, identical across engines
  (differential-testable), and — unlike hash()/xxhash64 — identical
  across Spark versions too, so persisted signatures stay valid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .graph import dup_clusters
from .text import dataset_split, normalize_text, quality_score, tokens

#: Distinct-shingle cap for the MinHash digest-dictionary path (see
#: _staged_bands). The dictionary must stay model-sized (it is
#: broadcast); 65536 × num_hashes md5 strings ≈ 35 MB (0 would disable
#: the dictionary path entirely).
_MINHASH_DICT_CAP = 65536

#: Minimum shingle OCCURRENCES before the dictionary engages. The
#: dictionary path replaces per-occurrence digests with three extra
#: jobs (distinct shuffle, broadcast, min-aggregate shuffle) whose
#: fixed latencies dominate small corpora: measured at the 5k-doc
#: bench grain it REGRESSED every minhash consumer by 1-3 s while
#: saving <1 s of digests, and at the 150k-doc grain it saved 60 s.
#: Below this floor the inline path is simply cheaper regardless of
#: redundancy.
_MINHASH_DICT_MIN_OCC = 2_000_000

#: (r12) The former SPARK_GRAFT_MINHASH_MAX_SH_PER_DOC pre-gate is
#: gone: the exact occurrence count now rides the cache-materializing
#: aggregate for free, so the probe decision needs no generous bound.


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Repartition to the session's parallelism when the source scan
    yields fewer partitions — CPU-bound per-row work (shingling,
    hashing) otherwise runs on however few tasks a small parquet file
    happens to split into. At real scale the scan already has ≥
    parallelism partitions and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df


def shingles(col: Column | str, *, k: int = 3) -> Column:
    """Word k-shingles (array<string>). Texts shorter than k tokens
    yield [] — guarded because sequence(1, n) with n<1 would generate
    a *descending* sequence rather than an empty one."""
    toks = tokens(col)
    n = F.size(toks) - F.lit(k - 1)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def band_keys(signature: Column, *, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: md5 of each contiguous ``rows_per_band`` slice of
    the signature → array<string> of length ``bands``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws("|", F.slice(signature, b * rows_per_band + 1, rows_per_band))
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (n-gram Jaccard
    when fed shingle arrays)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union.cast("double"))


def _staged_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_k: int,
):
    """(shingle frame, exploded band-key frame) for a corpus — the
    shared front half of every MinHash consumer.

    Staged projections: norm → sh → sig are each computed ONCE per row.
    Building sig directly from the text Column would inline the whole
    tokenize subtree into all num_hashes transform bodies
    (CollapseProject only keeps stages for multi-use attributes) —
    measured ~30× slower.

    Both derived frames are persisted because BOTH are read twice:
    the band join's two sides have different downstream projections
    (no ReusedExchange — NOTES rule #7), and the verification joins
    read the shingle frame for each candidate side. Without the caches
    the tokenizer runs 3× and the 16-hash signature 2× over the
    corpus; with them, once each. MEMORY_AND_DISK: a 100 TB corpus's
    shingle cache won't fit RAM — spilled blocks are still far cheaper
    than recomputation.

    ADAPTIVE signature computation (r6): the inline form evaluates
    num_hashes salted md5s PER SHINGLE OCCURRENCE — corpus_rows ×
    shingles_per_doc × num_hashes digest calls. When the distinct-
    shingle universe is small (repetitive corpora: boilerplate, tiny
    vocabularies, short n-grams — here ≤961 distinct bigrams over a
    31-token vocabulary while 150k docs carry ~30M occurrences), the
    same digests are recomputed ~500k times each. In that regime the
    hash family is evaluated ONCE PER DISTINCT SHINGLE into a
    model-sized dictionary, broadcast onto the exploded (doc, shingle)
    pairs, and the signature becomes num_hashes map-side-combined MIN
    aggregates — identical values (same md5 family over the same
    distinct-shingle multiset, min is order-free), so candidates,
    verification, and every downstream oracle are bit-unchanged; only
    the digest count drops from occurrences×num_hashes to
    distinct×num_hashes. The regime probe is one count +
    approx_count_distinct scan; the dictionary engages only when the
    universe fits the broadcast cap AND the occurrence volume clears
    the floor where the digest saving outweighs the path's three fixed
    extra jobs (_MINHASH_DICT_MIN_OCC — measured: 1-3 s REGRESSION per
    query at the 5k-doc grain, 60 s saving at the 150k-doc grain).
    Outside the regime the inline path is unchanged (natural corpora
    grow their distinct-shingle set with the data — exactly when the
    per-occurrence digest count is no longer redundant)."""
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands

    def _salted(i: int):
        salt = F.lit(f":{i}")
        return lambda s: F.md5(F.concat(s, salt))

    df = fan_out(df, id_col)
    staged_sh = (
        df.select(F.col(id_col).alias("doc"), normalize_text(F.col(text_col)).alias("__norm"))
        .select("doc", F.array_distinct(shingles(F.col("__norm"), k=shingle_k)).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Hierarchical regime decision, cheapest evidence first:
    # 1. the EXACT occurrence count, folded into the action that
    #    materializes staged_sh (sum(size(sh)) rides the same
    #    aggregate; work every consumer needs anyway, so the probe
    #    costs zero extra passes). r12, twice over: counting ``df``
    #    instead re-evaluated the corpus plan uncached — for derived
    #    corpora whose union branches each filter on a shingle-count
    #    expression (the wedge-injected link-prediction graph) that was
    #    4 redundant tokenize passes before any useful work — and the
    #    old generous n_rows × MAX_SH_PER_DOC bound sent every
    #    bench-grain corpus through an explode+agg distinct probe that
    #    always concluded "inline" (occurrences were known exact one
    #    job later anyway).
    # 2. only corpora whose exact occurrence volume clears the floor
    #    pay the one extra pass over the cached shingle frame for the
    #    distinct-universe estimate.
    stats0 = staged_sh.agg(
        F.coalesce(F.sum(F.size("sh")), F.lit(0)).alias("occ")
    ).first()
    use_dictionary = False
    if stats0["occ"] >= _MINHASH_DICT_MIN_OCC:
        occurrences = staged_sh.select(F.explode("sh").alias("__s"))
        n_distinct = occurrences.agg(
            F.approx_count_distinct("__s").alias("n")
        ).first()["n"]
        use_dictionary = n_distinct <= _MINHASH_DICT_CAP
    if use_dictionary:
        hash_cols = [
            F.md5(F.concat(F.col("__s"), F.lit(f":{i}"))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
        dictionary = occurrences.distinct().select("__s", *hash_cols)
        sig_rows = (
            staged_sh.filter(F.size("sh") > 0)
            .select("doc", F.explode("sh").alias("__s"))
            .join(F.broadcast(dictionary), "__s")
            .groupBy("doc")
            .agg(*[F.min(f"__h{i}").alias(f"__h{i}") for i in range(num_hashes)])
            .select(
                "doc",
                F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
            )
        )
    else:
        sig_rows = staged_sh.filter(F.size("sh") > 0).select(
            "doc",
            F.array(
                *[F.array_min(F.transform(F.col("sh"), _salted(i))) for i in range(num_hashes)]
            ).alias("sig"),
        )
    banded = (
        sig_rows.select(
            "doc",
            F.posexplode(
                band_keys(F.col("sig"), bands=bands, rows_per_band=rows_per_band)
            ).alias("band", "key"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return staged_sh, banded


def minhash_new_vs_history(
    history: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 2,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Incremental corpus dedup: which INCOMING docs are new relative
    to an already-curated HISTORY. Returns one row per incoming doc:
    (id, n_dup_matches, is_new) — is_new = 1 iff no history doc shares
    a band AND verifies at the Jaccard threshold.

    This is the shape a 100 TB curation pipeline actually runs day to
    day: history-vs-history pairs are NEVER re-mined — history
    contributes only its banded signature index (in production that
    index is a persisted table, e.g. a txlog partition per band; here
    it is derived in-plan from the history frame so the oracle can
    replay it). Cost per batch is |incoming| signatures + an equi join
    of incoming band keys against the index + Jaccard verification of
    the candidates only. Matches are counted per distinct history doc,
    so re-banding collisions can't double-count."""
    hist_sh, hist_banded = _staged_bands(
        history, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    inc_sh, inc_banded = _staged_bands(
        incoming, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    cands = (
        inc_banded.alias("i")
        .join(
            hist_banded.alias("h"),
            (F.col("i.band") == F.col("h.band"))
            & (F.col("i.key") == F.col("h.key")),
        )
        .select(F.col("i.doc").alias("inc_id"), F.col("h.doc").alias("hist_id"))
        .dropDuplicates(["inc_id", "hist_id"])
    )
    verified = (
        cands.join(inc_sh.select(F.col("doc").alias("inc_id"), F.col("sh").alias("i_sh")), "inc_id")
        .join(hist_sh.select(F.col("doc").alias("hist_id"), F.col("sh").alias("h_sh")), "hist_id")
        .filter(F.round(jaccard(F.col("i_sh"), F.col("h_sh")), 6) >= jaccard_threshold)
        .groupBy("inc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_matches"))
    )
    return (
        incoming.select(F.col(id_col).alias("inc_id"))
        .join(verified, "inc_id", "left")
        .select(
            F.col("inc_id").alias(id_col),
            F.coalesce(F.col("n_dup_matches"), F.lit(0)).cast("long").alias(
                "n_dup_matches"
            ),
            F.when(F.col("n_dup_matches").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_new"),
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 1,
    jaccard_threshold: float | None = 0.8,
    return_counts: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (a_id < b_id) via MinHash banding.

    Plan shape: per-doc signature (narrow, no shuffle) → explode band
    keys (×bands) → self-join on (band, key) → distinct pairs →
    optional exact-Jaccard verification. The self-join never sees two
    docs that share no band — that's the whole scale trick.

    ``return_counts=True`` appends the exact integer intersection /
    union sizes (``li``, ``lu``) computed from the SAME cached shingle
    frame the miner already joins for verification. Consumers that
    need the exact integers (threshold algebra in cross-multiplied
    form) must use this instead of re-deriving shingles themselves:
    an external re-derivation scans + regex-shingles the corpus once
    per join side UNCACHED — measured 71 s of a 99 s query at sf1,
    invisible to a count() probe because count prunes the array
    payloads (r6 lesson).
    """
    staged_sh, banded = _staged_bands(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a_id"), F.col("r.doc").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # Verification fetches shingles for CANDIDATE docs only (pairs ≪
    # corpus at any scale) from the cached shingle frame.
    pairs = (
        cands.join(staged_sh.select(F.col("doc").alias("a_id"), F.col("sh").alias("a_sh")), "a_id")
        .join(staged_sh.select(F.col("doc").alias("b_id"), F.col("sh").alias("b_sh")), "b_id")
    )
    out = pairs.withColumn("jaccard_sim", F.round(jaccard(F.col("a_sh"), F.col("b_sh")), 6))
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard_sim") >= jaccard_threshold)
    if return_counts:
        return out.select(
            "a_id",
            "b_id",
            "jaccard_sim",
            F.size(F.array_intersect("a_sh", "b_sh")).alias("li"),
            F.size(F.array_union("a_sh", "b_sh")).alias("lu"),
        )
    return out.select("a_id", "b_id", "jaccard_sim")


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.5,
    jaccard: float = 0.8,
    test_permille: int = 100,
) -> DataFrame:
    """The corpus-curation pipeline: ``docs`` with every column kept,
    restricted to the curated documents, plus ``split``.

      → quality gate (composite heuristic score ≥ ``min_quality``)
      → exact dedup (min-id winner per normalized-text fingerprint)
      → near-dup removal (MinHash bands → pair join at ``jaccard`` →
        distributed connected components → keep cluster minimum)
      → deterministic train/test split (``test_permille``)

    Every stage is shuffle-bounded: the quality gate is scan-local,
    exact dedup is one window on the fingerprint key, MinHash banding
    joins signatures (never documents), the component rounds are
    O(log n) equi-joins and the split is a pure expression.
    """
    q = docs.filter(quality_score(text_col, lang="en") >= min_quality)
    w = Window.partitionBy(F.md5(normalize_text(F.col(text_col)))).orderBy(id_col)
    # Three downstream subtrees consume s1 (signature mining, the
    # keep-list semi join, the split); without a materialization each
    # recomputes the quality scan + dedup window (NOTES rule #7 — no
    # ReusedExchange across different downstream plans). At 100 TB
    # this would be a checkpoint to a table.
    s1 = (
        q.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=False)
    )
    pairs = minhash_near_dup_pairs(
        s1, id_col, text_col,
        num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=jaccard,
    ).select("a_id", "b_id")
    assign = dup_clusters(pairs, universe=s1.select(id_col), id_col=id_col)
    keep = assign.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    s2 = s1.join(keep, id_col, "left_semi")
    return dataset_split(s2, id_col, test_permille=test_permille)


def with_simhash(df: DataFrame, text_col: str, *, k: int = 1) -> DataFrame:
    """Staged SimHash (the corpus-scale path): shingle hashes are
    materialized once per row as a projection column, then 60 bit-vote
    aggregates reference that column (multi-use → CollapseProject keeps
    the stage; the Column form would inline the md5 pipeline into every
    vote). Adds a ``simhash`` bigint column."""
    out_cols = [*df.columns, "simhash"]

    def _vote(bit: int):
        mask = F.lit(1 << bit)
        return lambda acc, x: acc + F.when(x.bitwiseAND(mask) != 0, F.lit(1)).otherwise(
            F.lit(-1)
        )

    staged = (
        df.withColumn("__sh", F.array_distinct(shingles(F.col(text_col), k=k)))
        .withColumn(
            "__h",
            F.transform(
                F.col("__sh"),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            ),
        )
    )
    total = None
    for bit in range(60):
        votes = F.aggregate(F.col("__h"), F.lit(0), _vote(bit))
        e = F.when(votes > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        total = e if total is None else total + e
    return staged.withColumn(
        "simhash",
        F.when(F.size("__sh") == 0, F.lit(0)).otherwise(total).cast("bigint"),
    ).select(*out_cols)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of
    XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sig_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """SimHash near-duplicate pairs (a_id < b_id, hamming ≤
    ``max_hamming``) via a hamming band-join — the SimHash analogue of
    :func:`minhash_near_dup_pairs`'s LSH banding.

    ``materialize`` persists the signature frame before the self-join:
    both join sides reference it, and without a materialization Spark
    recomputes the whole Arrow-batched signature stage twice (no
    ReusedExchange across the differing band explodes). At corpus scale
    the same principle says: WRITE signatures to a table at ingest and
    band-join the table — signatures are computed once per document
    lifetime, not once per dedup run.

    The signature is cut into ``n_bands`` disjoint bit-ranges; docs are
    self-joined ON EQUAL BANDS only, then candidates are verified with
    the true hamming distance. Pigeonhole guarantee: a pair within
    hamming ``n_bands - 1`` differs in at most ``n_bands - 1`` bit
    positions, so at least one band is untouched — with the default
    ``max_hamming = 3 ≤ n_bands - 1`` the blocking is LOSSLESS, never
    a recall trade. Plan shape: signature (Arrow-batched, no shuffle)
    → ×n_bands explode → equi hash self-join on (band, value) →
    distinct → verify. Never all-pairs, never a cartesian."""
    from .text import normalize_text

    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} with {n_bands} bands would make the "
            "band blocking lossy (pigeonhole needs max_hamming <= n_bands-1); "
            "raise n_bands instead"
        )
    band_bits = sig_bits // n_bands
    mask = (1 << band_bits) - 1
    sigs = with_simhash_pandas(
        fan_out(df, id_col).select(
            F.col(id_col).alias("doc"), normalize_text(F.col(text_col)).alias("__nt")
        ),
        "__nt",
    )
    if materialize:
        from pyspark import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bval"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a_id"),
            F.col("r.doc").alias("b_id"),
            F.col("l.simhash").alias("a_sim"),
            F.col("r.simhash").alias("b_sim"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    return (
        cand.withColumn(
            "hamming", hamming64(F.col("a_sim"), F.col("b_sim")).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_dup_degree(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sig_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Per-document near-duplicate DEGREE — the bounded twin of
    :func:`simhash_near_dup_pairs` (VERDICT r8 #4): instead of
    materializing every (a, b) pair to the sink, fold the verified
    candidate stream to one row per document holding ``dup_degree``
    (distinct near-dup neighbors) and ``min_hamming`` (its closest
    neighbor's distance).

    This is the shape a 100-TB run actually ships: a near-dup PAIR
    DUMP is output-bound quadratic by definition (a 1M-copy cluster is
    ~5·10^11 pairs — no plan fixes that; PLANS.md crossover table),
    while the degree answer is at most one row per document.

    The stage ORDER differs from the pair miner deliberately, and it
    is the scale story: the pair form dedups band collisions FIRST
    (``dropDuplicates`` on the full candidate stream — a shuffle
    carrying every collision, verified or not), which is fine when the
    pair set is the answer but is exactly the stage that ran a 32-task
    local JVM out of heap at sf2's ~10^8 collisions. Here the hamming
    verify runs BEFORE any shuffle — xor+bit_count inside the join's
    own codegen stage, discarding non-duplicates while they are still
    a stream — and per-pair distinctness folds into the degree
    aggregate itself (``count_distinct(neighbor)``: band-duplicate
    copies of one pair carry the identical hamming, so the only
    shuffle in the whole plan moves verified near-dup edges, at most
    ``n_bands`` copies each, into a two-level hash aggregate."""
    band_bits = sig_bits // n_bands
    mask = (1 << band_bits) - 1
    from .text import normalize_text

    sigs = with_simhash_pandas(
        fan_out(df, id_col).select(
            F.col(id_col).alias("doc"), normalize_text(F.col(text_col)).alias("__nt")
        ),
        "__nt",
    )
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bval"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    verified = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .withColumn(
            "hamming",
            hamming64(F.col("l.simhash"), F.col("r.simhash")).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("l.doc").alias("a_id"),
            F.col("r.doc").alias("b_id"),
            "hamming",
        )
    )
    sym = verified.select(
        F.col("a_id").alias("doc"), F.col("b_id").alias("nbr"), "hamming"
    ).unionByName(
        verified.select(
            F.col("b_id").alias("doc"), F.col("a_id").alias("nbr"), "hamming"
        )
    )
    return sym.groupBy("doc").agg(
        F.count_distinct(F.col("nbr")).alias("dup_degree"),
        F.min("hamming").alias("min_hamming"),
    )


def with_simhash_pandas(df: DataFrame, text_col: str) -> DataFrame:
    """Arrow-batched SimHash — identical output to :func:`with_simhash`
    (unit-tested), ~9× faster at corpus scale.

    The usual rule is "UDFs are the slow path", but SimHash is the
    counterexample shape: the expression form re-traverses the hash
    array 60 times through interpreted higher-order functions, while
    one numpy kernel does all 60 bit-votes in a single (n_shingles, 60)
    matrix op per document. Arbitration measured at sf0.1: 3.9 s
    expression vs 0.4 s Arrow.

    Input must carry NORMALIZED text (single-spaced — e.g.
    ``text.normalize_text``); output is (original id columns…,
    ``simhash`` bigint). Unigram shingles.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    id_cols = [c for c in df.columns if c != text_col]

    def run(batches):
        for pdf in batches:
            sigs = []
            for nt in pdf[text_col]:
                toks = set(nt.split()) if nt and nt.strip() else set()
                if not toks:
                    sigs.append(0)
                    continue
                hs = np.fromiter(
                    (int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> np.arange(60)) & 1
                votes = (2 * bits - 1).sum(axis=0)
                sigs.append(int(((votes > 0).astype(np.int64) << np.arange(60)).sum()))
            out = pdf[id_cols].copy()
            out["simhash"] = sigs
            yield out

    schema = ", ".join(
        f"{c} {t}" for c, t in df.dtypes if c != text_col
    ) + ", simhash long"
    return df.mapInPandas(run, schema)


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    divisor: int = 8,
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking: split each document at token positions
    where an md5-derived hash of the token is ``0 mod divisor`` (a
    boundary closes the chunk AFTER that token), yielding chunks of
    ~``divisor`` tokens on average whose boundaries depend only on
    CONTENT, never on position. That is the property that makes chunk
    fingerprints usable for shared-passage detection: a passage pasted
    into two different documents produces the SAME interior chunks in
    both, regardless of where it starts (a fixed-stride splitter would
    misalign them). This is the passage-level member of the dedup
    family — exact (whole doc) / MinHash-SimHash (whole doc, fuzzy) /
    CDC chunks (sub-document, exact passages), the word-level analogue
    of the suffix-array substring dedup of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better").

    Returns one row per (id, chunk_id) with the chunk fingerprint
    ``fp`` (md5 of the space-joined tokens) and token count ``n_tok``.

    Shape at 100 TB: explode → ONE per-document window (cumulative
    boundary count; partitioned by doc id, never global) → one hash
    aggregate on (doc, chunk). Everything is keyed by doc id or a
    128-bit fingerprint — uniform, skew-free shuffles; nothing is ever
    all-pairs and no state outlives a document.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(normalize_text(F.col(text_col)))).alias("pos", "tok"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("tok"), F.lit(":" + salt))), 1, 15),
            16,
            10,
        ).cast("long")
        % divisor
    )
    flagged = tok.withColumn("is_boundary", (bucket == 0).cast("int"))
    w = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("is_boundary").over(w), F.lit(0)).cast("long")
    )
    return assigned.groupBy(F.col("__id").alias(id_col), "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("fp"),
        F.count(F.lit(1)).cast("long").alias("n_tok"),
    )


def cdc_shared_passage_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    divisor: int = 8,
) -> DataFrame:
    """Per-document shared-passage profile over :func:`cdc_chunks`:
    for every document, how many chunks it has and how many of them
    (and how many tokens' worth) also occur verbatim in at least one
    OTHER document. The per-source/per-doc rate is the curation signal
    for boilerplate and template text that whole-doc dedup cannot see.

    Sharing means the chunk fingerprint appears in ≥2 DISTINCT
    documents; a chunk repeated only within one document is not
    shared. Documents with no tokens get zero counts.

    Shape at 100 TB: the chunk table groups by fp (count_distinct of
    doc ids, partial-aggregated map-side), the shared set joins back
    on fp (128-bit uniform key), and the final rollup is one hash
    aggregate on doc id. No broadcast hints: the shared-fp side scales
    with the corpus, so AQE decides.
    """
    chunks = cdc_chunks(df, id_col, text_col, divisor=divisor)
    shared = (
        chunks.groupBy("fp")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("fp", F.lit(1).alias("__sh"))
    )
    marked = chunks.join(shared, "fp", "left")
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("__sh").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_shared_chunks"),
        F.sum(F.when(F.col("__sh").isNotNull(), F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("shared_tokens"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .fillna(0, subset=["n_chunks", "n_shared_chunks", "shared_tokens"])
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_query_col: str,
    *,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    """Exact set-similarity R-S join with PREFIX FILTERING (SSJoin /
    PPJoin family, Chaudhuri et al. 2006 / Bayardo et al. 2007):
    find every (query, corpus) pair whose token-set Jaccard is
    ≥ tau_num/tau_den — exactly, not probabilistically (the MinHash
    miner trades recall for speed; this one trades nothing and still
    never goes all-pairs).

    The filter: order every document's distinct tokens by GLOBAL
    rarity (document frequency asc, token asc — one shared order), and
    keep only each document's first ``n − ⌈τ·n⌉ + 1`` tokens as its
    prefix. Two sets with Jaccard ≥ τ must share a prefix token under
    a common order (pigeonhole: at most ``prefix−1`` of the required
    overlap can hide outside it), so the candidate join on prefix
    tokens loses nothing — and because prefixes hold each document's
    RAREST tokens, candidate blocks are the smallest possible ones.
    A size filter (τ·n_q ≤ n_c ≤ n_q/τ) prunes further; survivors are
    verified with exact intersection arithmetic (all integer:
    tau_den·|∩| ≥ tau_num·|∪|).

    Returns (q_id, c_id, inter, uni) for verified pairs.

    ADAPTIVE candidate generation (r6): prefix filtering degenerates on
    DENSE SMALL-UNIVERSE sets — when every document contains most of a
    small vocabulary, token document frequencies are near-uniform, so
    any common rarity order puts the SAME few tokens in every
    document's prefix and the candidate join goes quadratic (measured:
    33M candidates for 50k docs at τ=19/20 on a 31-token vocabulary,
    scale exponent 1.52). But in exactly that regime the threshold
    buys a stronger tool: J ≥ τ bounds the symmetric difference,
    |∪|−|∩| ≤ |∩|·(1−τ)/τ ≤ n_max·(den−num)/num. When that bound is
    ≤ 1, a qualifying pair is either set-identical or one side is the
    other plus ONE extra token — so joining on 1-DELETION-NEIGHBORHOOD
    signatures (the set itself + each single-token deletion, the
    Mor-Fraenkel deletion-variant technique) is lossless: if
    c = q ∪ {y} then c's deletion of y collides with q's identity
    signature. n+1 signatures per document, candidates proportional to
    true collisions — linear, not quadratic. The regime test costs one
    bounded MAX aggregate; above the bound the classic rarity-prefix
    path below is unchanged. Verification is shared and exact either
    way, so the switch can change only SPEED, never results.

    Shape at 100 TB: df is one hash aggregate; the rarity order needs
    no global rank — (df, token) itself is the order key, so the only
    windows are PER-DOCUMENT row_numbers; the candidate join is an
    equi join on rare tokens (small blocks by construction) or on
    deletion signatures (blocks = actual near-identical groups). Exact
    verification touches candidates only. Nothing is ever all-pairs
    unless the DATA's true match set is (the simhash lesson: an exact
    pair-miner is lower-bounded by its output).
    """
    from pyspark.sql import Window

    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("__id"),
            F.col(is_query_col).alias("__q"),
            F.array_distinct(tokens(normalize_text(F.col(text_col)))).alias(
                "__toks"
            ),
        )
        .withColumn("__n", F.size("__toks").cast("long"))
    )
    # Regime test: one bounded aggregate. Max symmetric difference a
    # qualifying pair can carry is floor(n_max * (den - num) / num).
    n_max = base.agg(F.max("__n")).first()[0] or 0
    if n_max * (tau_den - tau_num) // tau_num <= 1:
        # Deletion-neighborhood signatures: identity + each 1-deletion,
        # over the SORTED distinct tokens so the signature is canonical.
        sep = "\x01"
        sig_arr = F.concat(
            F.array(F.md5(F.concat_ws(sep, F.array_sort("__toks")))),
            F.transform(
                F.array_sort("__toks"),
                lambda x: F.md5(
                    F.concat_ws(
                        sep,
                        F.filter(F.array_sort("__toks"), lambda y: y != x),
                    )
                ),
            ),
        )
        sigs = base.select(
            "__id", "__q", "__n", F.explode(sig_arr).alias("__sig")
        )
        q = sigs.filter(F.col("__q")).select(
            F.col("__id").alias("q_id"), F.col("__n").alias("q_n"), "__sig"
        )
        c = sigs.filter(~F.col("__q")).select(
            F.col("__id").alias("c_id"), F.col("__n").alias("c_n"), "__sig"
        )
    else:
        tok = base.select(
            "__id", "__q", "__n", F.explode("__toks").alias("__tok")
        )
        dfreq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
        w = Window.partitionBy("__id").orderBy("__df", "__tok")
        prefix = (
            tok.join(dfreq, "__tok")
            .withColumn("__rk", F.row_number().over(w))
            .filter(
                F.col("__rk")
                <= F.col("__n")
                - F.expr(f"({tau_num} * __n + {tau_den - 1}) div {tau_den}")
                + F.lit(1)
            )
            .select("__id", "__q", "__n", "__tok")
        )
        q = prefix.filter(F.col("__q")).select(
            F.col("__id").alias("q_id"), F.col("__n").alias("q_n"), "__tok"
        )
        c = prefix.filter(~F.col("__q")).select(
            F.col("__id").alias("c_id"), F.col("__n").alias("c_n"), "__tok"
        )
    join_key = q.columns[-1]  # "__sig" or "__tok"
    cand = (
        q.join(c, join_key)
        .filter(
            (F.lit(tau_den) * F.col("c_n") >= F.lit(tau_num) * F.col("q_n"))
            & (F.lit(tau_den) * F.col("q_n") >= F.lit(tau_num) * F.col("c_n"))
        )
        .select("q_id", "c_id")
        .distinct()
    )
    qa = base.select(
        F.col("__id").alias("q_id"), F.col("__toks").alias("__qt"),
        F.col("__n").alias("q_n"),
    )
    ca = base.select(
        F.col("__id").alias("c_id"), F.col("__toks").alias("__ct"),
        F.col("__n").alias("c_n"),
    )
    verified = (
        cand.join(qa, "q_id")
        .join(ca, "c_id")
        .withColumn(
            "inter", F.size(F.array_intersect("__qt", "__ct")).cast("long")
        )
        .withColumn("uni", (F.col("q_n") + F.col("c_n") - F.col("inter")))
        .filter(
            F.lit(tau_den) * F.col("inter") >= F.lit(tau_num) * F.col("uni")
        )
    )
    return verified.select("q_id", "c_id", "inter", "uni")


def prefix_filtered_containment_pairs(
    df: DataFrame,
    id_col: str,
    elems_col: str,
    is_query_col: str,
    *,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    """Exact CONTAINMENT R-S join: find every (query, corpus) pair with
    |Q ∩ B| / |Q| ≥ tau — the asymmetric cousin of the Jaccard SSJoin
    (prefix_filtered_jaccard_pairs). Jaccard punishes the big side's
    extra tokens, so a short quote pasted into a long document scores
    near zero; containment does not — it is the right predicate for
    quote detection, benchmark-prompt leakage, and doc-in-doc
    subsumption, exactly the cases MinHash/Jaccard structurally miss.

    The prefix filter survives the asymmetry on the QUERY side only:
    if |Q∩B| ≥ o := ⌈τ·|Q|⌉ then at most |Q| − o of Q's elements miss
    B, so among Q's first |Q| − o + 1 elements under ANY fixed global
    order at least one is in B (pigeonhole). The corpus side gets NO
    prefix — B's extra elements don't reduce containment, so every
    corpus element must stay indexed. Ordering prefixes by global
    rarity (document frequency asc, element asc) keeps candidate
    blocks minimal. A size filter (|B| ≥ ⌈τ·|Q|⌉) prunes, survivors
    verify with exact integers: tau_den·|∩| ≥ tau_num·|Q|.

    ``elems_col`` is an array<string> column (tokens, shingles — the
    caller picks the containment alphabet; use k≥2 shingles when the
    unigram vocabulary is too small to discriminate). Returns
    (q_id, c_id, overlap, q_n) for verified pairs.

    Shape at 100 TB: document frequency is one hash aggregate; the
    only windows are per-QUERY row_numbers (queries are the small
    side by construction — benchmark suites, quote lists); the
    candidate join is rare-element equi; verification touches
    candidates only. The corpus is scanned, exploded, and joined —
    never self-joined.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(is_query_col).alias("__q"),
        F.array_distinct(F.col(elems_col)).alias("__el"),
    ).withColumn("__n", F.size("__el").cast("long")).filter(F.col("__n") > 0)
    el = base.select("__id", "__q", "__n", F.explode("__el").alias("__e"))
    dfreq = el.groupBy("__e").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__e")
    q_prefix = (
        el.filter(F.col("__q"))
        .join(dfreq, "__e")
        .withColumn("__rk", F.row_number().over(w))
        .filter(
            F.col("__rk")
            <= F.col("__n")
            - F.expr(f"({tau_num} * __n + {tau_den - 1}) div {tau_den}")
            + F.lit(1)
        )
        .select(F.col("__id").alias("q_id"), F.col("__n").alias("q_n"), "__e")
    )
    c_all = el.filter(~F.col("__q")).select(
        F.col("__id").alias("c_id"), F.col("__n").alias("c_n"), "__e"
    )
    cand = (
        q_prefix.join(c_all, "__e")
        .filter(
            F.lit(tau_den) * F.col("c_n") >= F.lit(tau_num) * F.col("q_n")
        )
        .select("q_id", "c_id")
        .distinct()
    )
    qa = base.filter(F.col("__q")).select(
        F.col("__id").alias("q_id"), F.col("__el").alias("__qe"),
        F.col("__n").alias("q_n"),
    )
    ca = base.filter(~F.col("__q")).select(
        F.col("__id").alias("c_id"), F.col("__el").alias("__ce")
    )
    return (
        cand.join(qa, "q_id")
        .join(ca, "c_id")
        .withColumn(
            "overlap", F.size(F.array_intersect("__qe", "__ce")).cast("long")
        )
        .filter(
            F.lit(tau_den) * F.col("overlap") >= F.lit(tau_num) * F.col("q_n")
        )
        .select("q_id", "c_id", "overlap", "q_n")
    )
