"""spark-submit entrypoints — the reference's runnable jobs, re-homed.

The reference is operated as two Glue jobs plus a stored procedure
(SURVEY.md §3: EP1 bronze pull, EP2 silver transform, EP3 gold rollup),
each parameterized by ``getResolvedOptions`` job arguments. A user
switching to this engine needs the same "run it" surface, not just a
library — so this module exposes the pipeline as plain ``spark-submit``
mains:

    spark-submit --py-files wistia_etl_pipeline_spark.zip \
      wistia_etl_pipeline_spark/jobs.py pipeline \
      --media-ids v08dlrgr7v,gskhw4w4lm \
      --root s3://bucket/wistia \
      --transport wistia_etl_pipeline_spark.sources.http_transport:transport_from_options

(or, with pyspark on the PYTHONPATH, equivalently:
``python -m wistia_etl_pipeline_spark.jobs pipeline ...`` —
``spark-submit`` itself has no ``-m`` flag, it takes a script path).

Design decisions (vs the reference):

- ONE job runs EP1→EP3 end-to-end per invocation (the reference's three
  hops exist because Glue/Redshift split them; in-engine there is no
  reason to lose partition pruning and crash consistency between hops).
  A scheduler that wants bounded work per tick sets ``--runs 1`` and
  invokes on its own cadence — the watermark state under ``--root``
  makes every invocation an incremental, idempotent resume.
- All configuration arrives as arguments/environment — the credential is
  the transport's problem (env var, never a literal; the reference
  hardcodes a JDBC password, SURVEY.md §0 warning).
- The transport is a ``module:callable`` dotted path resolved exactly
  like the DataSource option (one mechanism, test-injectable).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Sequence

from pyspark.sql import SparkSession


def _build_session(app: str) -> SparkSession:
    from .session import apply_runtime_confs

    return apply_runtime_confs(
        SparkSession.builder.appName(app).getOrCreate()
    )


def _resolve(path: str, options: dict):
    import importlib

    mod_name, _, attr = path.partition(":")
    return getattr(importlib.import_module(mod_name), attr)(options)


def _pipeline_args(argv: Sequence[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="wistia-pipeline")
    p.add_argument("--media-ids", required=True,
                   help="comma-separated media ids (bronze.py MEDIA_IDS_JSON)")
    p.add_argument("--root", required=True,
                   help="table root; bronze/silver/dim/gold land under it")
    p.add_argument("--transport", required=True,
                   help="module:callable -> transport factory taking an options dict")
    p.add_argument("--transport-option", action="append", default=[],
                   metavar="K=V", help="options passed to the transport factory")
    p.add_argument("--events-url", default=None,
                   help="module:callable (media_id, page) -> url; defaults to the "
                        "Wistia v1 events URL (http_transport.wistia_events_url)")
    p.add_argument("--per-page", type=int, default=50)
    p.add_argument("--max-pages", type=int, default=100)
    p.add_argument("--time-budget-seconds", type=float, default=45.0)
    p.add_argument("--runs", type=int, default=1,
                   help="bounded runs this invocation (resume loop)")
    p.add_argument("--gold-exact", action="store_true",
                   help="bit-reproducible DECIMAL-routed gold aggregates")
    return p.parse_args(list(argv))


def main_pipeline(argv: Sequence[str] | None = None) -> dict:
    """EP1→EP3: bounded incremental pull → silver → gold, per run."""
    from .incremental.watermark import JsonStateStore
    from .pipeline import BatchPipeline, WistiaApi
    from .sources.rest_source import PullConfig, http_get_json

    args = _pipeline_args(sys.argv[1:] if argv is None else argv)
    opts = dict(kv.split("=", 1) for kv in args.transport_option)
    transport = _resolve(args.transport, opts)

    if args.events_url:
        import importlib

        mod, _, attr = args.events_url.partition(":")
        events_url = getattr(importlib.import_module(mod), attr)
    else:
        from .sources.http_transport import wistia_events_url as events_url

    from .sources.http_transport import wistia_metadata_url

    def metadata(media_id: str) -> dict:
        return http_get_json(transport, wistia_metadata_url(media_id))

    spark = _build_session("wistia-pipeline")
    root = args.root.rstrip("/")
    pipe = BatchPipeline(
        spark=spark,
        api=WistiaApi(transport=transport, events_url=events_url, metadata=metadata),
        bronze_path=f"{root}/bronze",
        silver_path=f"{root}/silver",
        dim_path=f"{root}/dim",
        gold_path=f"{root}/gold",
        state_store=JsonStateStore(f"{root}/watermarks.json"),
        config=PullConfig(
            per_page=args.per_page,
            max_pages=args.max_pages,
            time_budget_seconds=args.time_budget_seconds,
        ),
        gold_exact=args.gold_exact,
    )
    media_ids = [m for m in args.media_ids.split(",") if m]
    summary: dict = {}
    for _ in range(max(args.runs, 1)):
        summary = pipe.run_once(media_ids)
        if all(v.get("action") == "skip" for v in summary.values()):
            break
    print(json.dumps(summary, default=str))
    return summary


def main_curation(argv: Sequence[str] | None = None) -> None:
    """The corpus-curation pipeline as a job: documents parquet in,
    curated per-split parquet out (``functions.dedupe.curate_corpus``,
    the function corpus_curation_e2e differential-tests)."""
    from .functions.dedupe import curate_corpus

    p = argparse.ArgumentParser(prog="wistia-curation")
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="curated output root")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--test-permille", type=int, default=100)
    args = p.parse_args(sys.argv[1:] if argv is None else argv)

    spark = _build_session("wistia-curation")
    out = curate_corpus(
        spark.read.parquet(args.input),
        args.id_col,
        args.text_col,
        min_quality=args.min_quality,
        jaccard=args.jaccard,
        test_permille=args.test_permille,
    )
    out.write.mode("overwrite").partitionBy("split").parquet(args.output)


_MAINS = {"pipeline": main_pipeline, "curation": main_curation}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in _MAINS:
        raise SystemExit(f"usage: jobs.py {{{'|'.join(_MAINS)}}} [args...]")
    _MAINS[sys.argv[1]](sys.argv[2:])


if __name__ == "__main__":
    main()
