"""Scale-curve benchmark: empirical scaling exponents for the heaviest
dedup / similarity / clustering queries (VERDICT r3 #7).

Runs each query at every .scaledata SF (tools/gen_scaledata.py — one
consistent generator family, so the curve is internally comparable),
takes the median of N serial runs, fits the log-log slope between
consecutive SFs and overall, and writes BENCH_SCALE.json. A blocked
pair-mine that is secretly all-pairs shows up here as an exponent
near 2; the shuffle-bounded designs should sit near 1 (plus a
data-independent constant that DEFLATES the small-SF exponent — so
slopes are also reported with the smallest SF excluded).

Usage: python tools/bench_scale.py [name ...]  (serial — do not run
concurrently with other Spark sessions; NOTES r3: contention skews
medians 2×+). With no names it sweeps every registered query in
registration order, as ``bench.py`` does; each sample is one
``bench._run`` (noop write, then the cached state released — every
sample is cold-cache). ``pagerank_dup_graph_6r``, a 6-round twin of
``pagerank_dup_graph``, runs only when named.

``--dir=zipf`` (VERDICT r9 #1) sweeps ``.scaledata/zipf/sf*`` instead —
the growing-vocabulary documents family from
``gen_scaledata.py --vocab-grow`` — and writes BENCH_SCALE_ZIPF.json,
leaving the fixed-vocab curves in BENCH_SCALE.json untouched as the
documented densification case. Only documents-family queries can run
there (the zipf dirs hold documents.parquet alone).
"""

from __future__ import annotations

import json
import math
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_DIR = os.path.join(ROOT, ".scaledata")

N_RUNS = 3


def _sf_dirs(root: str) -> list[tuple[float, str]]:
    """``(sf, dir)`` for every ``sf*`` dir under ``root``, smallest first."""
    return sorted(
        (float(d[2:]), os.path.join(root, d))
        for d in os.listdir(root)
        if d.startswith("sf")
    )


def main() -> None:
    import sys

    sys.path.insert(0, ROOT)
    # CLI args select a query subset; results MERGE into the existing
    # BENCH_SCALE.json so incremental additions don't re-pay the full
    # (serial, cold) sweep.
    selected = [a for a in sys.argv[1:] if not a.startswith("-")]
    flags = {a for a in sys.argv[1:] if a.startswith("-")}
    from bench import _run
    from wistia_etl_pipeline_spark.registry import queries
    from wistia_etl_pipeline_spark.session import get_spark

    sub = next(
        (f.split("=", 1)[1] for f in flags if f.startswith("--dir=")), None
    )
    scale_dir = os.path.join(SCALE_DIR, sub) if sub else SCALE_DIR
    out_name = f"BENCH_SCALE_{sub.upper()}.json" if sub else "BENCH_SCALE.json"
    if sub and not selected:
        raise SystemExit(
            "--dir sweeps need an explicit query list (only the "
            "documents family exists there)"
        )

    if "--uncurved" in flags:
        # Sweep every registry query with no BENCH_SCALE row yet,
        # heaviest first (BENCH_LOCAL cold column) so an interrupted
        # run still banks the curves that matter most.
        path = os.path.join(ROOT, "BENCH_SCALE.json")
        curved = set()
        if os.path.exists(path):
            with open(path) as f:
                curved = set(json.load(f).get("queries", {}))
        cold: dict[str, float] = {}
        bl = os.path.join(ROOT, "BENCH_LOCAL.json")
        if os.path.exists(bl):
            with open(bl) as f:
                cold = json.load(f).get("queries_cold", {})
        selected = sorted(
            (n for n in queries() if n not in curved),
            key=lambda n: -cold.get(n, 0.0),
        )
        print(f"--uncurved: {len(selected)} queries")
        if not selected:
            print("every registry query already has a BENCH_SCALE curve")
            return
    run_queries = selected or list(queries())

    sfs = _sf_dirs(scale_dir)
    # --add-sf=X: measure ONLY that SF for the selected queries and
    # merge the point into their existing curves (VERDICT r6 #5 — add
    # an sf2 point to already-curved families without re-paying their
    # 0.1/0.5/1 sweeps; every sample is cold-cache in both runs, so the
    # merged curve stays internally comparable). Only valid for
    # queries whose code is unchanged since their curve was measured —
    # a changed query must re-run its FULL curve.
    add_sf = next((f.split("=", 1)[1] for f in flags if f.startswith("--add-sf=")), None)
    if any(f == "--add-sf" for f in flags):
        # the space-separated form would silently treat the SF as a
        # query name (ADVICE r7) — reject it explicitly
        raise SystemExit("use --add-sf=N (the space-separated form is ambiguous "
                         "with the query list)")
    if add_sf is not None:
        sfs = [(sf, d) for sf, d in sfs if f"{sf:g}" == f"{float(add_sf):g}"]
        if not sfs:
            raise SystemExit(f"no .scaledata dir for sf{add_sf}")
        if not selected:
            raise SystemExit("--add-sf requires an explicit query list")
    spark = get_spark("bench-scale")
    qs = dict(queries())
    unknown = [n for n in run_queries if n not in qs and n != "pagerank_dup_graph_6r"]
    if unknown:
        raise SystemExit(f"not registry queries: {unknown}")

    def _pagerank_6r(spark, sf_dir):
        # pagerank_dup_graph with iterations=6: the exponent OVER SF
        # says the graph scales; this twin says the per-round cost does
        # not grow with round index (each round = 1 join + 1 agg over
        # the same persisted edge frame).
        from pyspark.sql import functions as F

        from wistia_etl_pipeline_spark.functions.dedupe import (
            minhash_near_dup_pairs,
        )
        from wistia_etl_pipeline_spark.functions.graph import pagerank
        from wistia_etl_pipeline_spark.queries.q01_core_gold_silver import (
            _dup_corpus,
        )
        from wistia_etl_pipeline_spark.queries.q05_tokens_clustering import (
            _PR_SCALE,
        )
        from wistia_etl_pipeline_spark.session import load_table

        corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
        pairs = minhash_near_dup_pairs(
            corpus, "doc_id", "text",
            num_hashes=16, bands=4, shingle_k=2, jaccard_threshold=0.8,
        ).select("a_id", "b_id")
        edges = pairs.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).unionByName(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        return pagerank(
            edges, corpus.select("doc_id"), id_col="doc_id",
            iterations=6, scale=_PR_SCALE,
        )

    qs["pagerank_dup_graph_6r"] = _pagerank_6r
    # warm-up JVM/codegen as bench.py does, on the smallest SF of the
    # fixed-vocab family (the --dir families lack the events table)
    warm_dir = _sf_dirs(SCALE_DIR)[0][1]
    _run(spark, qs["gold_daily_rollup"], warm_dir, "bench_scale:warm-up")

    medians: dict[str, dict[str, float]] = {n: {} for n in run_queries}
    for sf, d in sfs:
        for name in run_queries:
            # exponents need INDEPENDENT measurements: persisted
            # intermediates accumulated across queries × SFs in one JVM
            # were measured distorting the sf1 numbers ~2× via GC
            # pressure, so _run releases after every sample
            ts = [
                _run(spark, qs[name], d, f"bench_scale:{name}:sf{sf:g}")[0]
                for _ in range(N_RUNS)
            ]
            medians[name][f"{sf:g}"] = round(statistics.median(ts), 3)
            print(f"sf{sf:g} {name}: {medians[name][f'{sf:g}']:.3f}s", flush=True)

    path = os.path.join(ROOT, out_name)
    prev: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    out: dict = {"n_runs": N_RUNS, "queries": {}}
    if selected:
        # subset run: untouched rows carry over verbatim (their curves
        # keep whatever SF points they were measured at)
        out["queries"].update(prev.get("queries", {}))
    for name in run_queries:
        # merge this run's points into any the query already has, so an
        # --add-sf run extends the curve instead of replacing it
        merged = dict(
            prev.get("queries", {}).get(name, {}).get("median_sec_by_sf", {})
        )
        merged.update(medians[name])
        medians[name] = dict(
            sorted(merged.items(), key=lambda kv: float(kv[0]))
        )
        pts = [(float(k), v) for k, v in medians[name].items()]
        # a single-point curve (e.g. --add-sf for a query with no prior
        # curve) has no exponent: emit nulls instead of dying on
        # log(1)=0 AFTER the whole sweep already ran (ADVICE r7)
        pairwise = [
            round(
                math.log(t2 / t1) / math.log(s2 / s1), 3
            )
            for (s1, t1), (s2, t2) in zip(pts, pts[1:])
        ]
        overall = (
            round(
                math.log(pts[-1][1] / pts[0][1]) / math.log(pts[-1][0] / pts[0][0]), 3
            )
            if len(pts) >= 2
            else None
        )
        tail = (
            round(
                math.log(pts[-1][1] / pts[1][1]) / math.log(pts[-1][0] / pts[1][0]), 3
            )
            if len(pts) > 2
            else None
        )
        out["queries"][name] = {
            "median_sec_by_sf": medians[name],
            "pairwise_exponents": pairwise,
            "overall_exponent": overall,
            "exponent_excl_smallest_sf": tail,
        }
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
