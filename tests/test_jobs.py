"""spark-submit job entrypoints (jobs.py) — the reference's runnable-job
surface, driven end-to-end against the parquet-backed fake Wistia API
(production URL builders, zero network)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

FAKE = "wistia_etl_pipeline_spark.sources.fake_api:wistia_fake_transport_from_options"


def test_pipeline_job_runs_to_skip_and_builds_gold(spark, sf_dir, tmp_path, capsys):
    from wistia_etl_pipeline_spark.jobs import main_pipeline
    from wistia_etl_pipeline_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    media_ids = sorted(
        r[0] for r in events.select("event_type").distinct().collect()
    )
    root = str(tmp_path / "wistia")

    argv = [
        "--media-ids", ",".join(media_ids),
        "--root", root,
        "--transport", FAKE,
        "--transport-option", f"sf_dir={sf_dir}",
        "--transport-option", "per_page=700",
        "--per-page", "700",
        "--max-pages", "100",
        "--time-budget-seconds", "3600",
        "--runs", "8",
        "--gold-exact",
    ]
    summary = main_pipeline(argv)
    assert set(summary) == set(media_ids)
    assert all(v.get("action") != "error" for v in summary.values())
    # the printed line is the job's machine-readable contract
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    gold = spark.read.parquet(f"{root}/gold")
    want = (
        events.select("event_type", F.to_date("ts").alias("dt"))
        .distinct()
        .count()
    )
    assert gold.count() == want

    # a second invocation must decide skip everywhere (watermark state
    # persisted under --root) and leave gold unchanged
    summary2 = main_pipeline(argv)
    assert all(v.get("action") == "skip" for v in summary2.values())
    assert spark.read.parquet(f"{root}/gold").count() == want


def test_curation_job_writes_split_partitions(spark, sf_dir, tmp_path):
    from wistia_etl_pipeline_spark.jobs import main_curation

    out = str(tmp_path / "curated")
    main_curation(
        [
            "--input", f"{sf_dir}/documents.parquet",
            "--output", out,
            "--min-quality", "0.5",
        ]
    )
    curated = spark.read.parquet(out)
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n = curated.count()
    assert 0 < n <= total
    assert set(r.split for r in curated.select("split").distinct().collect()) <= {
        "train", "test"
    }
    # deterministic: rerun writes the identical document set
    out2 = str(tmp_path / "curated2")
    main_curation(
        ["--input", f"{sf_dir}/documents.parquet", "--output", out2,
         "--min-quality", "0.5"]
    )
    ids = lambda p: sorted(  # noqa: E731
        r.doc_id for r in spark.read.parquet(p).select("doc_id").collect()
    )
    assert ids(out) == ids(out2)


def test_curation_job_matches_the_oracle_checked_query(spark, sf_dir, tmp_path):
    """The job and corpus_curation_e2e run one curation definition: on
    the query's duplicate-injected corpus the job's per-split document
    counts and id checksums are the query's rows."""
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark import registry
    from wistia_etl_pipeline_spark.jobs import main_curation
    from wistia_etl_pipeline_spark.queries.q04_canaries_curation import (
        _curation_corpus,
    )
    from wistia_etl_pipeline_spark.session import load_table

    corpus = str(tmp_path / "corpus")
    _curation_corpus(load_table(spark, sf_dir, "documents")).write.parquet(corpus)
    out = str(tmp_path / "curated")
    main_curation(["--input", corpus, "--output", out])
    got = {
        r["split"]: (r["n"], r["ids"])
        for r in spark.read.parquet(out)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("ids"))
        .collect()
    }
    want = {
        r["split"]: (r["n_docs"], r["id_checksum"])
        for r in registry._QUERIES["corpus_curation_e2e"](spark, sf_dir).collect()
    }
    assert set(want) == {"train", "test"}
    assert got == want
