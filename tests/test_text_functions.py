"""Text-analysis functions: tokenization edges, ratios, lang-ID,
fingerprints."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.functions import text as Tx


def _one(spark, text, col):
    return spark.createDataFrame([Row(t=text)]).select(col.alias("v")).collect()[0].v


def test_token_counts(spark):
    assert _one(spark, "the quick  brown fox", Tx.token_count(F.col("t"))) == 4
    assert _one(spark, "   ", Tx.token_count(F.col("t"))) == 0
    assert _one(spark, "", Tx.token_count(F.col("t"))) == 0
    # regex tokens: letter runs, digit runs, single punct
    assert _one(spark, "ab12,cd!", Tx.regex_token_count(F.col("t"))) == 5


def test_punct_and_stopword_ratio(spark):
    assert abs(_one(spark, "ab, c! 9", Tx.punct_ratio(F.col("t"))) - 2 / 8) < 1e-12
    assert _one(spark, "", Tx.punct_ratio(F.col("t"))) == 0.0
    r = _one(spark, "the cat the dog", Tx.stopword_ratio(F.col("t"), "en"))
    assert abs(r - 0.5) < 1e-12  # 'the' twice of 4 tokens
    assert _one(spark, "", Tx.stopword_ratio(F.col("t"), "en")) == 0.0


def test_quality_score_bounded(spark):
    for text in ["", "the and of to in is it for on a " * 30, "!!!???###"]:
        v = _one(spark, text, Tx.quality_score(F.col("t")))
        assert 0.0 <= v <= 1.0


def test_lang_id(spark):
    assert _one(spark, "the cat is on a mat", Tx.lang_id(F.col("t"))) == "en"
    assert _one(spark, "der hund ist nicht da und", Tx.lang_id(F.col("t"))) == "de"
    assert _one(spark, "el perro es un animal y la casa", Tx.lang_id(F.col("t"))) == "es"
    assert _one(spark, "xyzzy plugh", Tx.lang_id(F.col("t"))) == "und"
    # tie ('la' is es+fr): priority order says es
    assert _one(spark, "la", Tx.lang_id(F.col("t"))) == "es"


def test_fingerprints(spark):
    # normalization: case/whitespace insensitive
    a = _one(spark, "Hello   World", Tx.fingerprint_md5(F.col("t")))
    b = _one(spark, "hello world", Tx.fingerprint_md5(F.col("t")))
    assert a == b == hashlib.md5(b"hello world").hexdigest()


def test_chunk_documents(spark):
    from pyspark.sql import Row

    from wistia_etl_pipeline_spark.functions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([Row(doc_id=1, text=text), Row(doc_id=2, text="short doc")])
    out = chunk_documents(df, "text", chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text, r.chunk_n_tokens))
    # doc 1: stride 3 → starts 0,3,6,9 → ceil((10-1)/3)=3 chunks
    chunks = sorted(by_doc[1])
    assert [c[0] for c in chunks] == [0, 1, 2]
    assert chunks[0][1] == "w0 w1 w2 w3"
    assert chunks[1][1] == "w3 w4 w5 w6"          # overlap of 1 token
    assert chunks[2][1] == "w6 w7 w8 w9"
    # every token appears in some chunk; adjacent chunks share `overlap`
    assert by_doc[2] == [(0, "short doc", 2)]     # short doc → one chunk


def test_dataset_split_stable_and_proportional(spark):
    from wistia_etl_pipeline_spark.functions.text import dataset_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out1 = {r.doc_id: r.split for r in dataset_split(df, "doc_id").collect()}
    out2 = {r.doc_id: r.split for r in dataset_split(df.repartition(7), "doc_id").collect()}
    assert out1 == out2  # partitioning-independent
    frac = sum(1 for v in out1.values() if v == "test") / len(out1)
    assert 0.08 < frac < 0.12  # ~10%
    # appending rows never flips existing assignments
    bigger = spark.range(0, 6000).withColumnRenamed("id", "doc_id")
    out3 = {r.doc_id: r.split for r in dataset_split(bigger, "doc_id").collect()}
    assert all(out3[k] == v for k, v in out1.items())


def test_redact_pii(spark):
    from pyspark.sql import Row

    from wistia_etl_pipeline_spark.functions.text import redact_pii

    df = spark.createDataFrame([Row(t="mail a.b+c@ex.co, ip 192.168.0.1, call +1555 123 4567 ok")])
    got = df.select(redact_pii(F.col("t")).alias("v")).collect()[0].v
    assert "[EMAIL]" in got and "[IP]" in got
    assert "a.b+c@ex.co" not in got and "192.168.0.1" not in got
    assert got.endswith("ok")
