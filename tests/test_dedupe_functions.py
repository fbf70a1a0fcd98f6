"""Corpus dedup: LSH recall on exact dups, Jaccard, SimHash locality
and its two implementations' agreement."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.functions.dedupe import (
    hamming64,
    jaccard,
    minhash_near_dup_pairs,
    shingles,
    with_simhash_pandas,
)


def test_shingles(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    got = df.select(shingles(F.col("t"), k=3).alias("s")).collect()[0].s
    assert got == ["a b c", "b c d"]
    # shorter than k → empty, NOT a descending-sequence artifact
    short = spark.createDataFrame([Row(t="a b")])
    assert short.select(shingles(F.col("t"), k=3).alias("s")).collect()[0].s == []


def test_minhash_lsh_finds_exact_dups(spark):
    rows = [Row(doc_id=i, text=f"unique words only here {i} alpha beta gamma delta")
            for i in range(20)]
    rows += [Row(doc_id=i + 100, text=rows[i].text) for i in range(5)]  # 5 dups
    df = spark.createDataFrame(rows)
    pairs = minhash_near_dup_pairs(df, "doc_id", "text",
                                   num_hashes=16, bands=4, jaccard_threshold=0.9)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert {(i, i + 100) for i in range(5)} <= got
    for r in pairs.collect():
        if (r.a_id, r.b_id) in {(i, i + 100) for i in range(5)}:
            assert r.jaccard_sim == 1.0


def test_minhash_dictionary_path_matches_inline(spark, monkeypatch):
    """The dictionary branch of _staged_bands only engages above a
    2M-occurrence floor the unit corpus can't reach, so without this
    test its bit-identical claim is exercised only at bench grain
    (ADVICE r6). Force the path by dropping the floor to 1 and assert
    the full (pairs + exact integer counts) output equals the inline
    path's on the same corpus."""
    from wistia_etl_pipeline_spark.functions import dedupe

    rows = [Row(doc_id=i, text=f"alpha beta gamma {i} delta {i % 7} eps")
            for i in range(40)]
    rows += [Row(doc_id=i + 100, text=rows[i].text) for i in range(10)]
    df = spark.createDataFrame(rows)

    def _mine():
        out = minhash_near_dup_pairs(
            df, "doc_id", "text", num_hashes=16, bands=4, shingle_k=2,
            jaccard_threshold=None, return_counts=True,
        )
        return sorted(tuple(r) for r in out.collect())

    inline = _mine()
    monkeypatch.setattr(dedupe, "_MINHASH_DICT_MIN_OCC", 1)
    dictionary = _mine()
    assert dictionary == inline
    assert inline, "corpus produced no candidate pairs — test is vacuous"


def test_jaccard(spark):
    df = spark.createDataFrame([Row(a=["x", "y"], b=["y", "z"])])
    assert abs(df.select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0].j
               - 1 / 3) < 1e-12


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")
    far = "completely different vocabulary regarding spacecraft propulsion dynamics"
    df = spark.createDataFrame([Row(i="base", t=base), Row(i="near", t=near), Row(i="far", t=far)])
    sigs = {r.i: r.simhash for r in with_simhash_pandas(df, "t").collect()}
    pair = spark.createDataFrame([Row(a=sigs["base"], b=sigs["near"], c=sigs["far"])])
    row = pair.select(
        hamming64(F.col("a"), F.col("b")).alias("near_d"),
        hamming64(F.col("a"), F.col("c")).alias("far_d"),
    ).collect()[0]
    assert row.near_d < row.far_d  # similar texts → closer signatures
    assert sigs["base"] != 0


def test_simhash_pandas_matches_expression(spark):
    from wistia_etl_pipeline_spark.functions.dedupe import with_simhash, with_simhash_pandas
    from wistia_etl_pipeline_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"some Words {i} repeated words {'x ' * (i % 5)}") for i in range(30)]
        + [Row(doc_id=99, text="   ")]
    ).select("doc_id", normalize_text(F.col("text")).alias("nt"))
    a = {r.doc_id: r.simhash for r in with_simhash(df, "nt").select("doc_id", "simhash").collect()}
    b = {r.doc_id: r.simhash for r in with_simhash_pandas(df, "nt").collect()}
    assert a == b
    assert b[99] == 0  # blank text → zero signature on both paths


def test_simhash_pairs_match_brute_force(spark):
    """Band-join pair production must equal the all-pairs hamming scan
    (the blocking is lossless by pigeonhole for max_hamming <= bands-1)."""
    from itertools import combinations

    from wistia_etl_pipeline_spark.functions.dedupe import (
        simhash_near_dup_pairs,
        with_simhash_pandas,
    )
    from wistia_etl_pipeline_spark.functions.text import normalize_text

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [Row(doc_id=i, text=f"{base} variant {i % 7}") for i in range(40)]
    rows += [Row(doc_id=100 + i, text=f"totally different corpus {i} " * 3) for i in range(5)]
    df = spark.createDataFrame(rows)

    got = {
        (r.a_id, r.b_id, r.hamming)
        for r in simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }

    sigs = {
        r.doc_id: r.simhash
        for r in with_simhash_pandas(
            df.select("doc_id", normalize_text(F.col("text")).alias("nt")), "nt"
        ).collect()
    }
    want = set()
    for a, b in combinations(sorted(sigs), 2):
        d = bin(sigs[a] ^ sigs[b]).count("1")
        if d <= 3:
            want.add((a, b, d))
    assert got == want and len(want) > 0


def test_simhash_pairs_rejects_lossy_config():
    import pytest

    from wistia_etl_pipeline_spark.functions.dedupe import simhash_near_dup_pairs

    with pytest.raises(ValueError, match="lossy"):
        simhash_near_dup_pairs(None, "doc_id", "text", n_bands=4, max_hamming=4)


def test_incremental_minhash_flags_history_dups(spark):
    from wistia_etl_pipeline_spark.functions.dedupe import minhash_new_vs_history

    history = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="pack my box with five dozen liquor jugs"),
        ]
    )
    incoming = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=11, text="a completely different incoming document text"),
        ]
    )
    out = {
        r.doc_id: (r.n_dup_matches, r.is_new)
        for r in minhash_new_vs_history(
            history, incoming, "doc_id", "text", shingle_k=2
        ).collect()
    }
    assert out == {10: (1, 0), 11: (0, 1)}


def test_incremental_minhash_never_mines_history_pairs(spark):
    """History containing exact dups of ITSELF must not affect incoming
    verdicts (the incremental contract: history-vs-history is out of
    scope) — and every incoming doc appears exactly once."""
    from wistia_etl_pipeline_spark.functions.dedupe import minhash_new_vs_history

    history = spark.createDataFrame(
        [
            Row(doc_id=1, text="same historical text repeated verbatim"),
            Row(doc_id=2, text="same historical text repeated verbatim"),
        ]
    )
    incoming = spark.createDataFrame(
        [
            Row(doc_id=10, text="same historical text repeated verbatim"),
            Row(doc_id=11, text="fresh text unrelated to anything before"),
        ]
    )
    rows = minhash_new_vs_history(
        history, incoming, "doc_id", "text", shingle_k=2
    ).collect()
    assert sorted(r.doc_id for r in rows) == [10, 11]
    by_id = {r.doc_id: (r.n_dup_matches, r.is_new) for r in rows}
    assert by_id[10] == (2, 0)  # matched BOTH history copies, counted per doc
    assert by_id[11] == (0, 1)


def test_cdc_chunks_cover_document_and_align_on_content(spark):
    from wistia_etl_pipeline_spark.functions.dedupe import cdc_chunks

    passage = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    df = spark.createDataFrame(
        [
            Row(i=1, t="PREFIX words differ here " + passage),
            Row(i=2, t="totally other opening " + passage + " trailing bits"),
            Row(i=3, t="unrelated gibberish qqq www eee rrr ttt"),
        ]
    )
    chunks = cdc_chunks(df, "i", "t").collect()
    # chunks tile the document: token counts add back up per doc
    per_doc = {}
    fps = {1: set(), 2: set(), 3: set()}
    for r in chunks:
        per_doc[r.i] = per_doc.get(r.i, 0) + r.n_tok
        fps[r.i].add(r.fp)
    assert per_doc[1] == 4 + len(passage.split())
    assert per_doc[3] == 7
    # content-defined boundaries: the shared passage yields common
    # interior chunks despite different prefix/suffix offsets ...
    assert fps[1] & fps[2]
    # ... while the unrelated doc shares nothing with either
    assert not (fps[3] & (fps[1] | fps[2]))


def test_cdc_shared_passage_stats_fates_and_zeros(spark):
    from wistia_etl_pipeline_spark.functions.dedupe import (
        cdc_shared_passage_stats,
    )

    dup = "same exact duplicated text body flows along here nicely today"
    df = spark.createDataFrame(
        [
            Row(i=1, t=dup),
            Row(i=2, t=dup),
            Row(i=3, t="lonely singular document body unlike anything else"),
            Row(i=4, t="   "),
        ]
    )
    got = {r.i: r for r in cdc_shared_passage_stats(df, "i", "t").collect()}
    assert len(got) == 4
    # exact duplicates share every chunk (and the token mass matches)
    assert got[1].n_shared_chunks == got[1].n_chunks > 0
    assert got[1].shared_tokens == len(dup.split())
    assert (got[2].n_chunks, got[2].n_shared_chunks) == (
        got[1].n_chunks,
        got[1].n_shared_chunks,
    )
    # the unique doc has chunks but none shared
    assert got[3].n_chunks > 0 and got[3].n_shared_chunks == 0
    assert got[3].shared_tokens == 0
    # blank doc → zero row, not a missing row
    assert (got[4].n_chunks, got[4].n_shared_chunks, got[4].shared_tokens) == (0, 0, 0)


def test_cdc_stats_repartition_invariant(spark):
    from wistia_etl_pipeline_spark.functions.dedupe import (
        cdc_shared_passage_stats,
    )

    rows = [
        Row(i=n, t=f"doc {n % 5} body with words w{n % 7} w{n % 3} tail piece")
        for n in range(40)
    ]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, cdc_shared_passage_stats(df, "i", "t").collect()))
    b = sorted(
        map(
            tuple,
            cdc_shared_passage_stats(df.repartition(13), "i", "t").collect(),
        )
    )
    assert a == b


def test_prefix_filtered_jaccard_matches_brute_force(spark):
    import itertools

    from wistia_etl_pipeline_spark.functions.dedupe import (
        prefix_filtered_jaccard_pairs,
    )

    # queries (q=True) vs corpus: mixed sizes, near-dups, disjoint sets
    rows = [
        Row(i=1, q=True, t="alpha beta gamma delta epsilon"),
        Row(i=2, q=True, t="one two three four five six seven eight nine ten"),
        Row(i=3, q=True, t="zz yy xx"),
        Row(i=10, q=False, t="alpha beta gamma delta epsilon"),          # J=1 w/ 1
        Row(i=11, q=False, t="alpha beta gamma delta zeta"),             # J=4/6 w/ 1
        Row(i=12, q=False, t="one two three four five six seven eight nine"),  # J=9/10 w/ 2
        Row(i=13, q=False, t="totally different words entirely here"),
        Row(i=14, q=False, t="zz yy xx"),                                # J=1 w/ 3
    ]
    df = spark.createDataFrame(rows)
    for num, den in [(1, 2), (4, 5), (9, 10)]:
        got = sorted(
            (r.q_id, r.c_id, r.inter, r.uni)
            for r in prefix_filtered_jaccard_pairs(
                df, "i", "t", "q", tau_num=num, tau_den=den
            ).collect()
        )
        sets = {r.i: set(r.t.split()) for r in rows}
        expect = []
        for a, b in itertools.product([1, 2, 3], [10, 11, 12, 13, 14]):
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if den * inter >= num * uni:
                expect.append((a, b, inter, uni))
        assert got == sorted(expect), (num, den)


def test_prefix_filtered_jaccard_dense_universe_deletion_path(spark):
    """The degenerate regime the r6 adaptive switch exists for: every
    document drawn from a tiny vocabulary (near-uniform df), high τ —
    the deletion-neighborhood path must reproduce brute force exactly,
    including the subset case (sizes n vs n+1), set-identical dups,
    1-token documents (md5-of-empty deletion signatures collide across
    docs — verification must reject those), and zero-match queries."""
    import itertools
    import random

    from wistia_etl_pipeline_spark.functions.dedupe import (
        prefix_filtered_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(12)]
    rows = []
    for n in range(40):
        k = rng.choice([1, 9, 10, 10, 11, 12])
        toks = rng.sample(vocab, k)
        rows.append(Row(i=n, q=(n % 5 == 0), t=" ".join(toks)))
    # force subset pairs across the q/c boundary: c = q + one token
    rows.append(Row(i=100, q=True, t="v0 v1 v2 v3 v4 v5 v6 v7 v8 v9"))
    rows.append(Row(i=101, q=False, t="v0 v1 v2 v3 v4 v5 v6 v7 v8 v9 v10"))
    rows.append(Row(i=102, q=False, t="v0 v1 v2 v3 v4 v5 v6 v7 v8 v9"))
    df = spark.createDataFrame(rows)
    num, den = 9, 10  # n_max=12 -> floor(12*1/9)=1 -> deletion path
    got = sorted(
        (r.q_id, r.c_id, r.inter, r.uni)
        for r in prefix_filtered_jaccard_pairs(
            df, "i", "t", "q", tau_num=num, tau_den=den
        ).collect()
    )
    sets = {r.i: set(r.t.split()) for r in rows}
    qs = [r.i for r in rows if r.q]
    cs = [r.i for r in rows if not r.q]
    expect = sorted(
        (a, b, len(sets[a] & sets[b]), len(sets[a] | sets[b]))
        for a, b in itertools.product(qs, cs)
        if den * len(sets[a] & sets[b]) >= num * len(sets[a] | sets[b])
    )
    assert got == expect
    assert (100, 101, 10, 11) in got and (100, 102, 10, 10) in got


def test_prefix_filtered_jaccard_repartition_invariant(spark):
    from wistia_etl_pipeline_spark.functions.dedupe import (
        prefix_filtered_jaccard_pairs,
    )

    rows = [
        Row(i=n, q=(n % 4 == 0), t=f"w{n % 6} w{(n + 1) % 6} w{(n + 2) % 6} common tail")
        for n in range(60)
    ]
    df = spark.createDataFrame(rows)
    a = sorted(
        map(
            tuple,
            prefix_filtered_jaccard_pairs(
                df, "i", "t", "q", tau_num=3, tau_den=5
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            prefix_filtered_jaccard_pairs(
                df.repartition(17), "i", "t", "q", tau_num=3, tau_den=5
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_containment_pairs_match_brute_force(spark):
    import itertools

    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.functions.dedupe import (
        prefix_filtered_containment_pairs,
    )

    # short quotes vs long docs: the asymmetric case Jaccard misses
    rows = [
        Row(i=1, q=True, t="alpha beta gamma"),
        Row(i=2, q=True, t="one two three four five"),
        Row(i=3, q=True, t="zz yy"),
        Row(i=10, q=False, t="alpha beta gamma delta epsilon zeta eta theta"),
        Row(i=11, q=False, t="alpha beta nothing else here at all"),
        Row(i=12, q=False, t="one two three four five six seven eight nine"),
        Row(i=13, q=False, t="one two three completely different tail"),
        Row(i=14, q=False, t="zz yy xx plus much more text beyond"),
    ]
    df = spark.createDataFrame(rows).select(
        "i", "q", F.split("t", " ").alias("el")
    )
    sets = {r.i: set(r.t.split()) for r in rows}
    for num, den in [(1, 2), (4, 5), (1, 1)]:
        got = sorted(
            (r.q_id, r.c_id, r.overlap, r.q_n)
            for r in prefix_filtered_containment_pairs(
                df, "i", "el", "q", tau_num=num, tau_den=den
            ).collect()
        )
        expect = sorted(
            (a, b, len(sets[a] & sets[b]), len(sets[a]))
            for a, b in itertools.product([1, 2, 3], [10, 11, 12, 13, 14])
            if den * len(sets[a] & sets[b]) >= num * len(sets[a])
        )
        assert got == expect, (num, den)
    # sanity: full containment of quote 1 in doc 10 found even though
    # Jaccard(1,10) = 3/8 < 1/2 — the asymmetry the operator exists for
    got_full = prefix_filtered_containment_pairs(
        df, "i", "el", "q", tau_num=1, tau_den=1
    ).collect()
    assert any(r.q_id == 1 and r.c_id == 10 for r in got_full)


def test_containment_pairs_repartition_invariant(spark):
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.functions.dedupe import (
        prefix_filtered_containment_pairs,
    )

    rows = [
        Row(
            i=n,
            q=(n % 5 == 0),
            t=f"w{n % 4} w{(n + 1) % 4} w{(n + 2) % 7} shared suffix tokens",
        )
        for n in range(50)
    ]
    df = spark.createDataFrame(rows).select(
        "i", "q", F.split("t", " ").alias("el")
    )
    a = sorted(
        map(
            tuple,
            prefix_filtered_containment_pairs(
                df, "i", "el", "q", tau_num=3, tau_den=5
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            prefix_filtered_containment_pairs(
                df.repartition(11), "i", "el", "q", tau_num=3, tau_den=5
            ).collect(),
        )
    )
    assert a == b and len(a) > 0
