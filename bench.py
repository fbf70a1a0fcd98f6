"""Benchmark harness — the one timing harness for registry queries.

    python bench.py [name ...]

Times the named queries, in the order given, at ``$SPARK_GRAFT_SF_DIR``
(default: the sf0.1 test data) on ``local[$SPARK_GRAFT_CPUS]``; with no
names it times every query of ``queries()`` in registration order. An
unknown name exits 2, naming it, before a Spark session starts. It
prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1, ...,
     "counts": {"<name>": [[jobs, stages], ...]}}

Every sample is one :func:`_run`: the query is materialized with the
noop sink (full execution, no driver-side row transfer) under its own
job group, and the cached state it left is released after the timer
stops. A warm-up query (``gold_daily_rollup``) runs first. ``queries``
holds MEDIANS over ``$SPARK_GRAFT_BENCH_RUNS`` (default 3) interleaved
rounds — the whole set runs round-robin so one round's JIT/GC noise
can't bias a single query — and ``value`` is the sum of medians.
``queries_cold``/``value_cold`` are the same over
``$SPARK_GRAFT_BENCH_COLD_RUNS`` (default 3) further rounds
(``$SPARK_GRAFT_BENCH_COLD=0`` skips them). Since every sample releases
after its timer, both columns time the same release → run sequence and
differ only in round position; that is why r13's cold total (277 s)
sits below its warm total (291 s). Both keys stay because
``tools/bench_gate.py`` gates both columns against git history.

``counts`` lists ``[jobs, stages]`` for every timed sample of a query,
warm rounds then cold, as read from ``statusTracker()`` for the
sample's job group plus the job group of every streaming query the
sample started: a stream runs its micro-batch jobs under group
``str(runId)``, not the caller's.

A run over the whole registry also writes the line to
``$SPARK_GRAFT_BENCH_OUT`` (default ``BENCH_LOCAL.json``), the record
``tools/bench_gate.py`` reads; a subset run writes nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _release_cached(spark) -> None:
    """Drop everything the previous query left pinned (VERDICT r5 #4).

    A full-registry run accumulates ~200 lazily-materialized
    ``localCheckpoint``/persist RDDs; the resulting storage-memory
    pressure inflated late-running queries by up to 1.8x (measured:
    pipeline_e2e_gold 20 s solo -> 35.6 s warm median inside the r5
    full-registry run). ``catalog.clearCache()`` releases persist'd
    DataFrames but NOT localCheckpoint RDDs, which live outside the
    catalog — those need explicit unpersist via the persistent-RDD map.
    A release that fails raises: a silent miss would skew every later
    timing.
    """
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


class _StreamRuns(StreamingQueryListener):
    """The run id of every streaming query started while registered.
    ``onQueryStarted`` returns before ``start()`` does."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _run(spark, fn, sf_dir: str, group: str) -> tuple[float, int, int]:
    """One timed sample of query ``fn``: ``(seconds, jobs, stages)``.

    The noop write runs under job group ``group``; the group is cleared
    after the timer stops, the job and stage counts of that group and
    of every stream started meanwhile are read from the status tracker,
    and the cached state the query left is released."""
    sc = spark.sparkContext
    streams = _StreamRuns()
    spark.streams.addListener(streams)
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        seconds = time.perf_counter() - t0
    finally:
        sc._jsc.clearJobGroup()
        spark.streams.removeListener(streams)
    tracker = sc.statusTracker()
    jobs = [
        j for g in [group, *streams.run_ids] for j in tracker.getJobIdsForGroup(g)
    ]
    stages = sum(
        len(info.stageIds) for info in map(tracker.getJobInfo, jobs) if info
    )
    _release_cached(spark)
    return seconds, len(jobs), stages


def _payload(spark, timings, cold, sf, n_runs, n_cold, counts) -> dict:
    """The one-line JSON record. ``cpus`` echoes ``$SPARK_GRAFT_CPUS``;
    ``effective_parallelism`` and ``master`` are what the session really
    ran at; ``counts`` holds each query's per-sample ``[jobs, stages]``."""
    sc = spark.sparkContext
    return {
        "metric": "headline_queries_total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "value_cold": round(sum(cold.values()), 3),
        "sf": sf,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "runs_per_query": n_runs,
        "cold_runs_per_query": n_cold if cold else 0,
        "effective_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "counts": counts,
    }


def _names(args: list[str], registered) -> list[str]:
    """The queries to time: ``args`` in the order given, else every
    registered name in registration order. An unknown name exits 2."""
    unknown = [a for a in args if a not in registered]
    if unknown:
        print(f"bench.py: not registry queries: {unknown}", file=sys.stderr)
        raise SystemExit(2)
    return list(args) or list(registered)


def main(argv: list[str] | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = _names(sys.argv[1:] if argv is None else argv, qs)

    from wistia_etl_pipeline_spark.session import get_spark

    spark = get_spark("wistia-etl-pipeline-spark-bench")
    # warm-up: JVM/JIT/codegen + parquet footer caches
    _run(spark, qs["gold_daily_rollup"], sf_dir, "bench:warm-up")

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    n_cold = 0
    if os.environ.get("SPARK_GRAFT_BENCH_COLD", "1") != "0":
        n_cold = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_COLD_RUNS", "3")))
    samples: dict[str, list[tuple[float, int, int]]] = {n: [] for n in names}
    for i in range(n_runs + n_cold):
        for name in names:
            samples[name].append(_run(spark, qs[name], sf_dir, f"bench:{name}:{i}"))

    def medians(rounds: slice) -> dict[str, float]:
        return {
            name: round(statistics.median(t for t, _, _ in ts[rounds]), 3)
            for name, ts in samples.items()
        }

    timings = medians(slice(None, n_runs))
    cold = medians(slice(n_runs, None)) if n_cold else {}
    counts = {name: [[j, s] for _, j, s in ts] for name, ts in samples.items()}
    payload = json.dumps(
        _payload(spark, timings, cold, sf, n_runs, n_cold, counts)
    )
    if set(names) == set(qs):
        # Stdout may be kept tail-only (BENCH_r02 lost its first ~16
        # per-query entries to truncation, VERDICT r2 #7) — persist the
        # full JSON so every round has complete per-query medians.
        local_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
        try:
            with open(local_path, "w") as fh:
                fh.write(payload + "\n")
        except OSError:
            pass  # a read-only cwd must not cost the stdout line
    print(payload)


if __name__ == "__main__":
    main()
