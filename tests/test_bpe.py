"""BPE tokenizer (functions/bpe.py): training determinism, application
semantics, and the distributed surfaces. Cross-engine byte-equality of
tokenizations is covered by the registry oracles (tokenize_bpe_corpus /
text_chunking_bpe recursive-CTE replay)."""

from __future__ import annotations

from pyspark.sql import Row

from wistia_etl_pipeline_spark.functions.bpe import (
    SEED_CORPUS,
    frozen_merges,
    make_ranks,
    pretokenize,
    tokenize_word,
    tokenize_words,
    train_merges,
)


def test_train_is_deterministic_and_order_independent():
    freqs = {"the": 10, "then": 4, "table": 3, "stable": 2, "ten": 5}
    a = train_merges(freqs, 20)
    b = train_merges(dict(reversed(list(freqs.items()))), 20)
    assert a == b and len(a) > 0


def test_frozen_merges_nonempty_and_stable():
    m1 = frozen_merges()
    assert len(m1) > 50  # the seed corpus supports >50 real merges
    # lru_cache aside, retraining from scratch reproduces the table
    freqs: dict[str, int] = {}
    for w in pretokenize(SEED_CORPUS):
        freqs[w] = freqs.get(w, 0) + 1
    assert tuple(train_merges(freqs, 120)) == m1


def test_tokenize_word_conserves_characters():
    ranks = make_ranks(frozen_merges())
    for w in ["the", "tokenizer", "deduplication", "x", "watermark", "zzzq"]:
        toks = tokenize_word(w, ranks)
        assert "".join(toks) == w
        assert all(toks)


def test_tokenize_word_merges_by_rank_leftmost():
    # merges: rank0 (a,b) rank1 (ab,a)
    ranks = make_ranks([("a", "b"), ("ab", "a")])
    # 'ababa': leftmost (a,b) first -> ab,ab,a -> ranks: (ab,ab)? no;
    # (ab,a) at position 2? pairs = (ab,ab),(ab,a) -> best rank1 at pos 2
    assert tokenize_word("ababa", ranks) == ["ab", "aba"]
    assert tokenize_word("ab", ranks) == ["ab"]
    assert tokenize_word("ba", ranks) == ["b", "a"]


def test_tokenize_words_matches_pure_python(spark):
    merges = frozen_merges()
    ranks = make_ranks(merges)
    words = ["partition", "shuffle", "watermark", "q", "deterministic"]
    df = spark.createDataFrame([Row(word=w) for w in words])
    got = {r.word: (r.n_tokens, r.toks) for r in tokenize_words(df, merges).collect()}
    for w in words:
        toks = tokenize_word(w, ranks)
        assert got[w] == (len(toks), " ".join(toks)), w
