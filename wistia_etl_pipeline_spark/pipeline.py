"""Batch pipeline orchestrator — the reference's three jobs (EP1 bronze
ingest, EP2 silver transform, EP3 gold rollup; SURVEY.md §3) as one
composable engine run.

Differences from the reference, by design:

- Bronze is written as *partitioned JSON-lines* (``media_id=…/dt=…``)
  by Spark, not one opaque page-payload object per S3 key from a
  driver loop: splittable files, parallel writes, and the identical
  Hive layout (S4).
- Silver/gold are parquet paths maintained by in-engine MERGE (A7) —
  no JDBC hop, no stored procedures, no stage tables.
- Each pass stages only what this run pulled (P3). Silver's stage is
  the pulled batch itself, deduplicated — the Arrow frame the bronze
  write consumed, never a re-scan of bronze history. Gold re-rolls the
  pulled media plus any other ``media_id`` a staged row names. Dim
  merges only FULL_PULL metadata: ``decide`` resumes only while
  ``updated`` has not moved since the FULL_PULL whose dim MERGE
  committed before its watermark did (the rule SKIP relies on too).
  Every table is read with its declared schema; each MERGE checks its
  target's column names in one data-file footer on the driver, so no
  pass pays a schema-inference job and a column only one side has
  raises.
- The watermark state machine (ST1-ST3) decides skip/resume/full-pull
  per media and is folded + persisted at the end; every stage is
  idempotent by key, so a crashed/replayed run converges.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .incremental.watermark import (
    FULL_PULL,
    RESUME,
    SKIP,
    JsonStateStore,
    MediaState,
    decide,
    fold_checkpoint,
    updated_from_meta,
)
from .operators.dedup import dedup_exact
from .operators.flatten import conform_dim_media, flatten_events
from .operators.merge import _exists, merge_into_path
from .operators.rollup import media_daily_agg
from .schemas import (
    DIM_MEDIA_SCHEMA,
    FACT_EVENTS_SCHEMA,
    RAW_EVENT_SCHEMA,
    RAW_METADATA_SCHEMA,
)
from .session import arrow_local_df
from .sources.rest_source import PullConfig, Transport, fetch_pages


@dataclass
class WistiaApi:
    """The API surface the pipeline pulls from: a transport plus URL /
    metadata accessors (pluggable — tests inject deterministic fakes;
    production wires an authenticated HTTP client from config)."""

    transport: Transport
    events_url: Callable[[str, int], str]
    metadata: Callable[[str], dict]
    #: optional second paginated feed (the reference pulls per-media
    #: stats pages alongside events, bronze.py:181-196); None disables
    stats_url: Callable[[str, int], str] | None = None


@dataclass
class BatchPipeline:
    spark: SparkSession
    api: WistiaApi
    bronze_path: str
    silver_path: str
    dim_path: str
    gold_path: str
    state_store: JsonStateStore
    config: PullConfig = field(default_factory=PullConfig)
    #: bit-reproducible gold aggregates (DECIMAL routing — see
    #: operators/rollup.daily_rollup): identical output across replays
    #: at any parallelism, at the cost of non-codegen'd 128-bit sums
    gold_exact: bool = False

    def run_once(self, media_ids: list[str]) -> dict[str, dict]:
        """One bounded incremental run over ``media_ids`` (the
        reference's ``main()``, bronze.py:255-267). Returns a per-media
        summary of what happened.

        Crash consistency = at-least-once + idempotent-by-key (the
        reference's contract, SURVEY.md §7.4): watermark state persists
        only after silver/gold succeed, so a crash mid-run re-pulls;
        the resulting duplicate bronze rows collapse in the event_key
        dedup, and the MERGEs converge on replay. The stats feed (no
        natural key) converges by OVERWRITE instead: stats writes are
        staged past the bronze batch and land as a per-media dynamic
        partition overwrite, so a failed run leaves no stats behind and
        a re-pull replaces rather than re-appends (``_write_stats_batch``).
        """
        states = self.state_store.read()
        summary: dict[str, dict] = {}
        pulled: list[tuple[str, dict, str]] = []  # (media_id, metadata, action)
        staged: list[dict] = []  # rows awaiting bronze, then silver
        staged_stats: list[tuple[str, object]] = []  # stats feeds, ditto
        folds: list[tuple] = []  # checkpoint folds deferred past the write

        for media_id in media_ids:
            state = states.get(media_id, MediaState())
            try:
                meta = self.api.metadata(media_id)
                # P4 fallback chain (updated→updated_at→created→
                # created_at→far-future): an unknown timestamp forces a
                # pull, never a silent skip (bronze.py:163-169)
                remote_updated = updated_from_meta(meta)
                action = decide(state, remote_updated)
                summary[media_id] = {"action": action, "events": 0}
                if action == SKIP:
                    continue
                start_page = state.next_page if action == RESUME else 1
                result = fetch_pages(
                    self.api.transport,
                    lambda p, m=media_id: self.api.events_url(m, p),
                    start_page=start_page,
                    config=self.config,
                )
                # stats only on a FULL pull (bronze.py:180-181); staged
                # past the bronze batch so a bronze failure never leaves
                # stats written for a media whose watermark did not move
                if self.api.stats_url is not None and action == FULL_PULL:
                    stats = fetch_pages(
                        self.api.transport,
                        lambda p, m=media_id: self.api.stats_url(m, p),
                        config=self.config,
                    )
                    staged_stats.append((media_id, stats))
                    summary[media_id]["stats_pages"] = len(stats.pages)
                # rows missing media_id inherit the id of the feed they
                # came from; the Hive media_id=…/dt=… layout follows it
                rows = [
                    r if r.get("media_id") is not None else {**r, "media_id": media_id}
                    for _page, page_rows in result.pages
                    for r in page_rows
                ]
                max_received = max(
                    (r.get("received_at") for r in rows if r.get("received_at")),
                    default=None,
                )
                staged.extend(rows)
                folds.append(
                    (media_id, state, remote_updated, action, result,
                     max_received)
                )
                summary[media_id].update(
                    events=len(rows), completed=result.completed
                )
                pulled.append((media_id, meta, action))
            except Exception as exc:  # ST6 — isolate per media, keep going
                summary[media_id] = {"action": "error", "error": repr(exc)}

        # ONE partitioned bronze write for every media pulled this run
        # (was one Spark job per media — pure fixed cost at any scale;
        # the partitionBy layout per media/dt is identical). Checkpoint
        # folds happen only after the batch lands: if the write fails,
        # no watermark advances and the whole run re-pulls next time
        # (at-least-once + idempotent-by-key, same contract as a
        # mid-loop crash). Fetch/parse errors stay isolated per media
        # above; a write failure is an infra failure of the shared
        # stage, so it errors every pulled media at once.
        batch = None
        if staged or staged_stats:
            try:
                if staged:
                    batch = self._write_bronze_batch(staged)
                # stats land only after bronze: a bronze failure leaves
                # no stats rows behind, and the per-media OVERWRITE in
                # _write_stats_batch makes the re-pull's re-write
                # converge instead of re-appending the whole feed
                if staged_stats:
                    self._write_stats_batch(staged_stats)
            except Exception as exc:
                for media_id, _meta, _action in pulled:
                    summary[media_id] = {"action": "error", "error": repr(exc)}
                self.state_store.write(states)
                return summary
        for media_id, state, remote_updated, action, result, max_received in folds:
            states[media_id] = fold_checkpoint(
                state,
                remote_updated=remote_updated,
                action=action,
                pages_done=result.completed,
                next_page=result.next_page or 1,
                max_received_at=max_received,
            )

        if pulled:
            self._silver_and_gold(batch, staged, pulled)
        self.state_store.write(states)
        return summary

    # -- stages ----------------------------------------------------------

    def _write_bronze_batch(self, rows: list[dict]) -> DataFrame:
        """S4 — partitioned JSON-lines bronze, event-time dt grain.
        Returns the frame it wrote, which silver stages from.

        One write job for the whole run's pull: rows cross the Python→
        JVM boundary as ONE Arrow table (``pa.Table.from_pylist`` over
        the explicit schema) instead of per-row pickled tuples — at the
        flagship's sf0.1 grain that is 40k rows/cycle through Arrow
        instead of 10 pickle round-trips, and 1 write job instead of 5.
        """
        df = arrow_local_df(self.spark, rows, RAW_EVENT_SCHEMA)
        # Explicit width (REPARTITION_BY_NUM): a bare repartition(cols)
        # is AQE-coalescible and this model-sized delta coalesces to ONE
        # task, serializing the whole run's JSON encode (measured 2.45 s
        # -> 1.09 s at the flagship's 40k-row grain). Hash partitioning
        # still sends each (media_id, dt) to exactly one task, so the
        # at-rest layout is unchanged: one file per partition dir.
        (
            df.withColumn("dt", F.to_date(F.to_timestamp("received_at")))
            .repartition(
                self.spark.sparkContext.defaultParallelism, "media_id", "dt"
            )
            .write.mode("append")
            .partitionBy("media_id", "dt")
            .json(self.bronze_path)
        )
        return df

    def _write_stats_batch(self, batches: list[tuple[str, object]]) -> None:
        """Bronze stats feed (S4 second file kind, ``stats_page=N``
        analog): raw page payloads as JSON-lines under the stats path,
        partitioned by media. Stats never reach silver in the reference
        either — this is at-rest parity for downstream consumers.

        Idempotent by media: stats are only fetched on a FULL pull (the
        whole feed), so each media's partition is OVERWRITTEN with the
        full feed via dynamic partition overwrite — a crash-and-replay
        re-pull converges instead of re-appending duplicates (the
        at-least-once contract run_once documents). Partitions of media
        NOT in this batch are untouched.
        """
        import json as _json

        rows = [
            (media_id, page_no, _json.dumps(r))
            for media_id, result in batches
            for page_no, page_rows in result.pages
            for r in page_rows
        ]
        if not rows:
            return
        df = arrow_local_df(
            self.spark, rows, "media_id string, page int, payload string"
        )
        (
            # explicit width for the same AQE-coalesce reason as the
            # bronze write above (one file per media dir either way)
            df.repartition(
                self.spark.sparkContext.defaultParallelism, "media_id"
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("media_id")
            .json(self.bronze_path.rstrip("/") + "_stats")
        )

    def _silver_and_gold(
        self,
        batch: DataFrame | None,
        rows: list[dict],
        pulled: list[tuple[str, dict, str]],
    ) -> None:
        spark = self.spark
        # S1 — silver stages the batch this run pulled (P3), never the
        # bronze history: a replay re-pulls the same pages, because the
        # watermark persists only after this pass succeeds
        if batch is not None:
            silver_delta = dedup_exact(flatten_events(batch), ["event_key"])
            merge_into_path(spark, silver_delta, self.silver_path, ["event_key"])

        # dim_media from the metadata of this run's FULL_PULLs (P2 + A7 on
        # media_id): a RESUME means ``updated`` has not moved since the
        # FULL_PULL whose dim MERGE committed before its watermark. A
        # missing table (state carried over from another store) takes
        # every pulled media. Arrow-built: a pickle-parallelized
        # metadata frame costs a Python-worker round-trip per core per
        # downstream job (see session.arrow_local_df).
        seed_dim = not _exists(spark, self.dim_path)
        metas = [
            meta for _media, meta, action in pulled
            if seed_dim or action == FULL_PULL
        ]
        if metas:
            names = [f.name for f in RAW_METADATA_SCHEMA.fields]
            meta_df = arrow_local_df(
                spark,
                [dict(zip(names, _meta_tuple(m))) for m in metas],
                RAW_METADATA_SCHEMA,
            )
            dim_delta = conform_dim_media(meta_df)
            merge_into_path(spark, dim_delta, self.dim_path, ["media_id"])

        # gold rollup (EP3, A1-A6) over the pulled media plus any other
        # media a staged row names, merged on the composite key
        # (media_id, dt). Silver and dim are read with their declared
        # schemas, no inference job: every MERGE into them checks the
        # table's columns against its stage, and the stages produce
        # these schemas (tests/test_batch_pipeline pins both).
        if batch is None and not _exists(spark, self.silver_path):
            return  # nothing staged yet: nothing to roll up
        media_ids = sorted(
            {media for media, _meta, _action in pulled}
            | {r["media_id"] for r in rows}
        )
        silver = spark.read.schema(FACT_EVENTS_SCHEMA).parquet(self.silver_path)
        silver = silver.filter(F.col("media_id").isin(media_ids))
        dim = spark.read.schema(DIM_MEDIA_SCHEMA).parquet(self.dim_path)
        gold_delta = media_daily_agg(silver, dim, exact=self.gold_exact)
        merge_into_path(spark, gold_delta, self.gold_path, ["media_id", "dt"])


def _meta_tuple(meta: dict) -> tuple:
    def sub(d: dict | None, key: str):
        return (d or {}).get(key)

    return (
        meta.get("hashed_id"),
        meta.get("name"),
        str(meta.get("duration")) if meta.get("duration") is not None else None,
        meta.get("created"),
        meta.get("updated"),
        meta.get("section"),
        {"name": sub(meta.get("subfolder"), "name")} if meta.get("subfolder") else None,
        {"url": sub(meta.get("thumbnail"), "url")} if meta.get("thumbnail") else None,
        {"name": sub(meta.get("project"), "name")} if meta.get("project") else None,
        None,
    )
