"""Byte-pair-encoding tokenizer — pure Python + Spark, zero dependencies.

The reference pipeline has no tokenizer (it ships raw text to Redshift);
a training-data engine needs one, and the container ships no tokenizer
library — so this is the public BPE algorithm (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units")
implemented from scratch:

- **Training** (``train_merges``): repeatedly merge the
  most frequent adjacent symbol pair over a word-frequency table. The
  merge loop runs driver-side over that bounded table — exactly how
  production BPE trainers work (they never stream the corpus per
  merge): a corpus reduces to one word-frequency aggregation first.
- **Application** (``tokenize_word`` / ``tokenize_words``): split a word
  into characters, then repeatedly merge the LEFTMOST occurrence of the
  best-ranked (earliest-learned) mergeable pair. One merge per step
  keeps the operational semantics trivially replayable in SQL — the
  DuckDB oracle applies the identical rule as a recursive CTE
  (``merge_steps_sql``), so the engine's tokenization is verified
  byte-for-byte cross-engine, not just property-tested.
- **Frozen tokenizer** (``frozen_merges``): trained at import from the
  embedded seed corpus below — fully self-contained and deterministic,
  so registry oracles can embed the merge table as a SQL literal that
  never drifts from the engine's behavior.

Scale notes: application is Arrow-batched ``mapInPandas`` over UNIQUE
words (tokenize each word once, join back by word — the vocabulary join
the corpus-stats family already uses), never per-occurrence Python. The
merge list (~10² entries) rides the closure to executors.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterable, Iterator

from pyspark.sql import DataFrame

#: Shared pre-tokenization rule (keep in sync with the registry oracles):
#: lowercase, split on runs of anything outside [a-z0-9], drop empties.
WORD_SPLIT_RE = r"[^a-z0-9]+"

#: Self-contained training text for the frozen tokenizer. Plain English
#: prose about the engine's own domain — enough repeated structure for
#: ~120 meaningful merges, small enough to train at import time.
SEED_CORPUS = """
the engine reads every table as a dataframe and lets the optimizer plan
the scan the filter and the join before any task runs a partition is the
unit of parallel work and the shuffle is the cost that dominates at
scale so the planner pushes filters down prunes columns early and
broadcasts the small dimension tables while the large fact tables stay
partitioned by their join keys streaming input arrives as micro batches
with watermarks that bound the lateness of events and stateful
operators keep per key state in a store that checkpoints to durable
storage the tokenizer splits text into words and merges frequent pairs
of symbols until a vocabulary of subword units covers the corpus
deduplication removes repeated documents by hashing shingles of tokens
and clustering near duplicates with minhash signatures the sampler
selects documents by quality per token under a budget and the splitter
assigns each document to a train or test partition by a deterministic
hash of its identifier every aggregate combines partial results map
side before the exchange and every join that can broadcast does so the
merge writer stages new rows joins them against the current snapshot
and commits the union atomically so readers never observe a partial
state the watermark store remembers the high water mark per media and
the incremental reader resumes from the committed offset replaying the
same pages deterministically after a crash
"""

#: Number of merges the frozen tokenizer learns from the seed corpus.
N_FROZEN_MERGES = 120


def pretokenize(text: str | None) -> list[str]:
    """Python twin of the Spark/SQL split (WORD_SPLIT_RE, empties out)."""
    if not text:
        return []
    return [w for w in re.split(WORD_SPLIT_RE, text.lower()) if w]


def train_merges(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE training over a word-frequency table.

    Each round counts adjacent symbol pairs weighted by word frequency,
    merges the winner everywhere (left-to-right within each word), and
    records it. Fully deterministic: ties on count break on the
    lexicographically smallest pair, so the same table always yields the
    same merge list regardless of dict order.
    """
    seqs: dict[str, list[str]] = {w: list(w) for w in word_freqs if w}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, seq in seqs.items():
            f = word_freqs[w]
            for pair in zip(seq, seq[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:  # nothing repeats — further merges are noise
            break
        a, b = best
        ab = a + b
        for w, seq in seqs.items():
            i, out = 0, []
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = out
        merges.append(best)
    return merges


def tokenize_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply BPE merges: repeatedly merge the LEFTMOST occurrence of the
    best-ranked adjacent pair — one merge per step, the exact rule the
    SQL oracle replays (``merge_steps_sql``)."""
    toks = list(word)
    while len(toks) > 1:
        pair_ranks = [ranks.get(p) for p in zip(toks, toks[1:])]
        present = [r for r in pair_ranks if r is not None]
        if not present:
            break
        best = min(present)
        p = pair_ranks.index(best)
        toks[p : p + 2] = [toks[p] + toks[p + 1]]
    return toks


def make_ranks(merges: Iterable[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {m: i for i, m in enumerate(merges)}


@lru_cache(maxsize=1)
def frozen_merges() -> tuple[tuple[str, str], ...]:
    """The self-contained frozen tokenizer (trained once per process)."""
    freqs: dict[str, int] = {}
    for w in pretokenize(SEED_CORPUS):
        freqs[w] = freqs.get(w, 0) + 1
    return tuple(train_merges(freqs, N_FROZEN_MERGES))


def tokenize_words(
    words: DataFrame, merges: Iterable[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Append ``n_tokens`` (bigint) and ``toks`` (space-joined string) to
    a DataFrame of UNIQUE words — Arrow-batched ``mapInPandas``, merge
    list in the closure. Tokenize-unique-then-join-back is the scale
    path: Python cost is vocabulary-sized, never corpus-sized."""
    ranks = make_ranks(tuple(merges))
    schema = words.schema.simpleString()[7:-1]  # struct<...> -> ...
    out_schema = f"{schema},n_tokens bigint,toks string"

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        for pdf in batches:
            toks = [tokenize_word(w, ranks) for w in pdf[word_col]]
            pdf = pdf.copy()
            pdf["n_tokens"] = [len(t) for t in toks]
            pdf["toks"] = [" ".join(t) for t in toks]
            yield pdf

    return words.mapInPandas(run, out_schema)


# -- SQL oracle construction ------------------------------------------------

def merges_values_sql(merges: Iterable[tuple[str, str]]) -> str:
    """``VALUES`` literal for the merge table: (rank, pair, merged) with
    the pair keyed as ``a || chr(1) || b`` (chr(1) can't occur inside a
    token, so concatenation is collision-free)."""
    rows = ", ".join(
        f"({i}, '{a}' || chr(1) || '{b}', '{a}{b}')"
        for i, (a, b) in enumerate(merges)
    )
    return f"(VALUES {rows})"


def merge_steps_sql(words_cte: str, merges: Iterable[tuple[str, str]]) -> str:
    """Recursive-CTE replay of :func:`tokenize_word` for DuckDB.

    ``words_cte`` must select a column ``word``; the produced CTE block
    defines ``bpe_final(word, toks)`` — the fixed point (fewest tokens)
    of repeatedly merging the leftmost occurrence of the best-ranked
    pair. Intended for UNIQUE word lists (each word tokenized once)."""
    return f"""
    bpe_merges(rank, pair, mt) AS {merges_values_sql(merges)},
    bpe_words AS ({words_cte}),
    bpe_tok(word, toks) AS (
        SELECT word,
               list_transform(range(1, length(word) + 1), i -> word[i])
        FROM bpe_words
        UNION ALL
        SELECT word, toks[1:p-1] || [mt] || toks[p+2:]
        FROM (
            SELECT t.word, t.toks, m.mt,
                   list_position(
                       list_transform(range(1, len(t.toks)),
                                      i -> t.toks[i] || chr(1) || t.toks[i+1]),
                       m.pair) AS p
            FROM (
                SELECT word, toks,
                       (SELECT min(m2.rank) FROM bpe_merges m2
                        WHERE list_contains(
                            list_transform(range(1, len(toks)),
                                           i -> toks[i] || chr(1) || toks[i+1]),
                            m2.pair)) AS best
                FROM bpe_tok
            ) t
            JOIN bpe_merges m ON m.rank = t.best
        )
    ),
    bpe_final AS (
        SELECT word, toks FROM bpe_tok t1
        WHERE len(toks) = (SELECT min(len(t2.toks)) FROM bpe_tok t2
                           WHERE t2.word = t1.word)
    )"""
