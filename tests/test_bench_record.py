"""bench.py's one-line JSON record, built without running any query."""

from __future__ import annotations

import json

import bench


def test_bench_record_reports_the_parallelism_it_ran_at(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    rec = bench._payload(spark, {"a": 1.25, "b": 2.0}, {"a": 0.5}, 0.1, 3, 2)
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
    # … and two keys say what the session really ran at
    sc = spark.sparkContext
    assert list(rec)[10:] == ["effective_parallelism", "master"]
    assert rec["effective_parallelism"] == sc.defaultParallelism
    assert rec["master"] == sc.master
    assert json.loads(json.dumps(rec)) == rec
