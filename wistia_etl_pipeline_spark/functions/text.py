"""Text analysis for training-data pipelines — lang-ID, quality scoring,
token counting, fingerprinting (BASELINE.json north-star extensions).

Everything is built-in-expression based (split/transform/filter/
aggregate over arrays) — no Python UDFs, so a 100 TB corpus scan stays
in WholeStageCodegen with zero Python-worker exchange. Each function
returns a Column usable in any select/filter.

Cross-engine determinism: hashes are md5 (identical everywhere);
ratios are per-row double arithmetic (IEEE-deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Tiny per-language stopword lists for the n-gram/stopword lang-ID
#: heuristic. Deliberately minimal — the heuristic's value is its
#: shape (set-overlap scoring, argmax with deterministic tiebreak),
#: not lexicon completeness.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es": ("el", "la", "los", "las", "y", "es", "en", "de", "que", "un"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
}

#: Deterministic priority order for argmax ties (first wins).
LANG_ORDER: tuple[str, ...] = ("en", "de", "es", "fr")


def normalize_text(col: Column | str) -> Column:
    """lower + collapse whitespace + trim — the canonical form every
    hash/fingerprint downstream uses."""
    col = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (array<string>); empty/blank text → []."""
    col = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def regex_token_count(col: Column | str) -> Column:
    """BPE-ish token counting: letter runs, digit runs, and single
    punctuation marks each count as one token (a cheap, deterministic
    stand-in for subword tokenizers when budgeting corpus sizes)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def char_count(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.length(col)


def punct_ratio(col: Column | str) -> Column:
    """Non-alphanumeric-non-space characters / total characters."""
    col = F.col(col) if isinstance(col, str) else col
    nonword = F.length(F.regexp_replace(col, r"[a-zA-Z0-9\s]", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        nonword / F.length(col).cast("double")
    )


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(tokens(col)), stoplist))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens (with multiplicity) that are ``lang``
    stopwords — a classic fluency signal for quality filtering."""
    toks = tokens(col)
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stoplist, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits / F.size(toks).cast("double")
    )


def quality_score(col: Column | str, *, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low
    punctuation noise, stopword fluency. The exact weights are policy;
    the shape (bounded monotone pieces, all codegen) is the point."""
    length_term = F.least(char_count(col) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(4.0), F.lit(1.0))
    fluency_term = F.least(stopword_ratio(col, lang) * F.lit(5.0), F.lit(1.0))
    return (
        F.lit(0.4) * length_term + F.lit(0.3) * punct_term + F.lit(0.3) * fluency_term
    )


def lang_id(col: Column | str) -> Column:
    """Stopword-overlap language ID with deterministic priority-order
    tiebreak; 'und' (undetermined) when nothing matches."""
    scores = {lang: stopword_hits(col, lang) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the WHEN chain in reverse priority so earlier langs win ties
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def fingerprint_md5(col: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the normalized text —
    the exact-dedup key."""
    return F.md5(normalize_text(col))


def with_fingerprints(df, text_col: str, *, k: int = 3):
    """Staged fingerprint computation — the SCALE path.

    Materializes ``nt`` (normalized text) and the shingle-hash array as
    intermediate projection columns so each is computed once per row.
    A single-Column form would inline the whole tokenize subtree into
    every lambda element — measured ~30× slower at sf0.1 because
    CollapseProject happily duplicates cheap-looking subtrees into
    transform() bodies. Multi-use staged columns are NOT collapsed
    (Catalyst only inlines attributes referenced once), which is
    exactly the sharing we want.

    Adds ``fp_md5`` and ``fp_content`` columns; drops the scratch ones.
    """
    from pyspark.sql import functions as F

    out_cols = [*df.columns, "fp_md5", "fp_content"]
    return (
        df.withColumn("__nt", normalize_text(F.col(text_col)))
        .withColumn("__toks", F.split("__nt", r"\s+"))
        .withColumn(
            "__hashes",
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("__toks") - F.lit(k - 1), F.lit(0))
                ),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
            ),
        )
        .withColumn("fp_md5", F.md5("__nt"))
        .withColumn(
            "fp_content",
            F.when(F.size("__toks") < k, F.md5("__nt")).otherwise(
                F.array_min("__hashes")
            ),
        )
        .select(*out_cols)
    )


def chunk_documents(
    df,
    text_col: str,
    *,
    chunk_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into overlapping token-window chunks — the
    standard pre-tokenization step for long-context training corpora.

    One output row per chunk: ``chunk_idx`` (0-based), ``chunk_text``,
    ``chunk_n_tokens``. Stride = chunk_tokens - overlap. Short docs
    yield exactly one chunk. Pure expressions (tokens staged once, the
    fan-out is posexplode over computed offsets) — no Python workers,
    and the explode multiplies rows ~len/stride, which is why chunking
    belongs BEFORE any shuffle-heavy stage in a 100 TB pipeline, not
    after.
    """
    from pyspark.sql import functions as F

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    out_cols = [*df.columns, "chunk_idx", "chunk_text", "chunk_n_tokens"]
    staged = (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn(
            "__n_chunks",
            F.greatest(
                F.ceil((F.size("__toks") - F.lit(overlap)) / F.lit(stride)).cast("int"),
                F.lit(1),
            ),
        )
        .withColumn(
            "__starts",
            F.transform(
                F.sequence(F.lit(0), F.col("__n_chunks") - 1),
                lambda i: i * stride + 1,  # 1-based for slice()
            ),
        )
        .select(
            *df.columns,
            "__toks",
            F.posexplode("__starts").alias("chunk_idx", "__start"),
        )
        .withColumn("__chunk_toks", F.slice(F.col("__toks"), F.col("__start"), chunk_tokens))
    )
    return staged.withColumn(
        "chunk_text", F.concat_ws(" ", F.col("__chunk_toks"))
    ).withColumn("chunk_n_tokens", F.size("__chunk_toks")).select(*out_cols)


def dataset_split(
    df,
    id_col: str,
    *,
    test_permille: int = 100,
    salt: str = "wistia-split",
):
    """Deterministic train/test assignment by hashed id — stable across
    runs, engines, partitionings, and appends (new rows never flip old
    rows' split). Adds ``split`` ∈ {'train','test'}.

    Bucket = first 15 md5 hex digits of ``salt:id`` mod 1000 — the
    same md5-family trick as the dedup signatures, so the assignment
    is reproducible anywhere (including the DuckDB oracle).
    """
    from pyspark.sql import functions as F

    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint"),
        F.lit(1000),
    )
    return df.withColumn(
        "split",
        F.when(bucket < test_permille, F.lit("test")).otherwise(F.lit("train")),
    )


#: Redaction patterns (RE2/Java-compatible subset — no lookarounds, so
#: the same pattern string runs in Spark, DuckDB, and Python).
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "PHONE": r"\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def redact_pii(col: Column | str) -> Column:
    """Scrub emails / IPv4s / phone-shaped strings to ``[TYPE]`` tokens
    — the standard pre-training privacy pass. Pure regexp_replace
    chain (codegen; one scan pass applies all patterns)."""
    out = F.col(col) if isinstance(col, str) else col
    for token, pattern in PII_PATTERNS.items():
        out = F.regexp_replace(out, pattern, f"[{token}]")
    return out
