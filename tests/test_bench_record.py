"""bench.py's one-line JSON record and query selection, built without
running any registered query."""

from __future__ import annotations

import json

import pytest

import __spark_entry__
import bench


def test_bench_record_reports_the_parallelism_it_ran_at(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    counts = {"a": [[1, 2], [1, 2], [1, 3]], "b": [[0, 0]]}
    rec = bench._payload(
        spark, {"a": 1.25, "b": 2.0}, {"a": 0.5}, 0.1, 3, 2, counts
    )
    # the keys readers already parse keep their values …
    assert {k: rec[k] for k in list(rec)[:10]} == {
        "metric": "headline_queries_total_wall_sec",
        "value": 3.25,
        "unit": "sec",
        "queries": {"a": 1.25, "b": 2.0},
        "queries_cold": {"a": 0.5},
        "value_cold": 0.5,
        "sf": 0.1,
        "cpus": 32,
        "runs_per_query": 3,
        "cold_runs_per_query": 2,
    }
    # … two keys say what the session really ran at, and the per-sample
    # job/stage counts come last
    sc = spark.sparkContext
    assert list(rec)[10:] == ["effective_parallelism", "master", "counts"]
    assert rec["effective_parallelism"] == sc.defaultParallelism
    assert rec["master"] == sc.master
    assert rec["counts"] == counts
    assert json.loads(json.dumps(rec)) == rec


REGISTERED = {"q_one": None, "q_two": None, "q_three": None}


def test_no_names_select_registration_order():
    assert bench._names([], REGISTERED) == ["q_one", "q_two", "q_three"]


def test_a_subset_keeps_the_order_given():
    assert bench._names(["q_three", "q_one"], REGISTERED) == ["q_three", "q_one"]


def test_unknown_name_exits_2_before_spark_starts(monkeypatch, capsys):
    from wistia_etl_pipeline_spark import session

    def no_spark(*_a, **_k):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(["gold_daily_rollup", "no_such_query"])
    assert exc.value.code == 2
    assert "no_such_query" in capsys.readouterr().err


def test_only_a_whole_registry_run_writes_the_record(
    spark, monkeypatch, tmp_path
):
    """Stand-in queries replace the registry, so this runs no
    registered query: a subset run prints its line and writes nothing,
    a run over every registered name writes the record, and ``counts``
    holds one ``[jobs, stages]`` per timed sample."""
    from wistia_etl_pipeline_spark import session

    def tiny(spark, sf_dir):
        return spark.range(3)

    monkeypatch.setattr(
        __spark_entry__,
        "queries",
        lambda: {"gold_daily_rollup": tiny, "other": tiny},
    )
    monkeypatch.setattr(session, "get_spark", lambda *_a, **_k: spark)
    out = tmp_path / "record.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLD_RUNS", "1")
    monkeypatch.chdir(tmp_path)

    bench.main(["other"])
    assert list(tmp_path.iterdir()) == []

    bench.main([])
    rec = json.loads(out.read_text())
    assert list(rec["queries"]) == ["gold_daily_rollup", "other"]
    for samples in rec["counts"].values():
        assert len(samples) == 2  # one warm, one cold
        assert all(jobs >= 1 and stages >= 1 for jobs, stages in samples)


def test_a_sample_counts_the_jobs_of_the_streams_it_starts(spark, tmp_path):
    """A stream runs its micro-batch jobs under job group
    ``str(runId)``, not the sample's group; the sample's counts must
    include them."""
    src = tmp_path / "in"
    spark.range(5).write.parquet(str(src))
    run_ids = []

    def one_trigger_stream(spark, sf_dir):
        q = (
            spark.readStream.schema("id long").parquet(str(src))
            .writeStream.format("noop").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck")).start()
        )
        q.awaitTermination()
        run_ids.append(str(q.runId))
        return spark.range(1)

    _, jobs, stages = bench._run(spark, one_trigger_stream, "", "bench:stream")
    tracker = spark.sparkContext.statusTracker()
    own = tracker.getJobIdsForGroup("bench:stream")
    micro_batch = tracker.getJobIdsForGroup(run_ids[0])
    assert len(micro_batch) >= 1
    assert jobs == len(own) + len(micro_batch)
    assert stages >= jobs
