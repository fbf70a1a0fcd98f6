"""Streaming pipeline — ST1-ST6 (SURVEY.md §2.7) on Structured Streaming.

The reference is a scheduled micro-batch pipeline whose incremental
machinery is hand-rolled: per-media watermark compares, a page-number
checkpoint, MAX_PAGES/time-budget bounded work, and idempotency via
key-dedup + delete-insert upsert (bronze.py:153-247). Structured
Streaming gives each of those a built-in:

| reference                          | here                                   |
|------------------------------------|----------------------------------------|
| watermark compare-and-skip (ST1)   | ``withWatermark`` on event time        |
| next_page checkpoint/resume (ST2)  | ``checkpointLocation`` offset log      |
| MAX_PAGES / 45 s budget            | ``maxFilesPerTrigger`` +               |
|                                    | ``Trigger.AvailableNow`` (bounded run) |
| replay idempotency D1+A7 (ST4)     | ``dropDuplicatesWithinWatermark`` +    |
|                                    | idempotent MERGE in ``foreachBatch``   |
| daily dt= partition grain (ST5)    | 1-day tumbling ``window()``            |
| per-media try/except (ST6)         | task retries + per-batch isolation     |

Scale notes:
- File-source listing is incremental (only new files per trigger);
  ``maxFilesPerTrigger`` bounds work per micro-batch exactly like the
  reference's page cap bounds work per run.
- The streaming dedup keeps per-key state; the watermark bounds that
  state (keys older than the delay are evicted) — without it, 100 TB
  of replay history would accumulate in the state store.
- ``foreachBatch`` may re-execute a batch after failure; the MERGE by
  key makes re-execution converge (the at-least-once → effectively-
  exactly-once contract the reference gets from D1+A7), also when the
  failure fell inside the sink's rename swap (``merge_batch_sink``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..operators.dedup import dedup_exact
from ..operators.flatten import flatten_events
from ..operators.merge import merge_into_path
from ..schemas import RAW_EVENT_SCHEMA


def read_bronze_stream(
    spark: SparkSession,
    path: str,
    *,
    schema: T.StructType = RAW_EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan over the bronze JSON layout (S1 as a stream)."""
    reader = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def deduped_silver_stream(
    raw_stream: DataFrame, *, watermark_delay: str = "1 day"
) -> DataFrame:
    """Flatten (P1) + streaming dedup (D1/ST4): one row per event_key,
    with state bounded by the event-time watermark."""
    flat = flatten_events(raw_stream)
    return flat.withWatermark("received_at", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_key"]
    )


def streaming_daily_rollup(
    silver_stream: DataFrame, *, watermark_delay: str | None = "1 day"
) -> DataFrame:
    """ST5 — the gold rollup as a 1-day tumbling window aggregate.

    ``visitors`` uses approx_count_distinct: exact COUNT(DISTINCT) is
    unsupported (and unbounded-state) under streaming — the documented
    A6 exact/approx switch (SURVEY.md §7.4).

    Pass ``watermark_delay=None`` when the input already carries a
    watermark (e.g. the output of :func:`deduped_silver_stream`) —
    chained stateful operators must not redefine it.
    """
    win = F.window("received_at", "1 day")
    src = silver_stream
    if watermark_delay is not None:
        src = src.withWatermark("received_at", watermark_delay)
    return (
        src.groupBy(F.col("media_id"), win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("load_count"),
            F.count(F.when(F.col("percent_viewed") > 0.0, 1)).alias("play_count"),
            F.avg("percent_viewed").alias("engagement"),
            F.approx_count_distinct("visitor_key").alias("visitors"),
        )
        .select(
            "media_id",
            F.col("win.start").cast("date").alias("dt"),
            "load_count",
            "play_count",
            (F.col("play_count") / F.col("load_count")).alias("play_rate"),
            "engagement",
            "visitors",
        )
    )


def merge_batch_sink(
    target_path: str, keys: Sequence[str], *, acid: bool = False
) -> Callable[[DataFrame, int], None]:
    """ST6/A7 — a foreachBatch sink that MERGEs each micro-batch into a
    parquet target by key. Re-executed batches converge (idempotent);
    within-batch duplicates are collapsed first so the merge key is
    unique.

    Both commit paths write the same plan (``operators/merge.merge_plan``).
    The default rename swap (``merge_into_path``) recovers an interrupted
    swap on entry, so a query that dies mid-swap and restarts replays the
    batch onto the intact table. ``acid=True`` commits through the
    transaction-log table (sources/txlog.py) instead: concurrent readers
    also keep their snapshot while micro-batches land — streaming
    maintenance of a serving table without a read outage. The swap stays
    the default (one fewer indirection when nothing reads the target
    mid-stream)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = dedup_exact(batch_df, keys)
        if acid:
            from ..sources.txlog import TxLogTable

            TxLogTable(target_path).merge(batch.sparkSession, batch, keys)
        else:
            merge_into_path(batch.sparkSession, batch, target_path, keys)

    return apply


def run_silver_stream(
    spark: SparkSession,
    bronze_path: str,
    target_path: str,
    checkpoint: str,
    *,
    watermark_delay: str = "1 day",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    acid: bool = False,
):
    """EP2 as a stream: bronze JSON → flatten → dedup → MERGE into the
    silver table. ``Trigger.AvailableNow`` + the offset checkpoint give
    the reference's bounded-run/resume behavior (ST2) for free.
    ``acid=True`` routes the merge through the transaction-log table.

    Returns the started StreamingQuery (call ``awaitTermination()``).
    """
    stream = deduped_silver_stream(
        read_bronze_stream(
            spark, bronze_path, max_files_per_trigger=max_files_per_trigger
        ),
        watermark_delay=watermark_delay,
    )
    writer = (
        stream.writeStream.foreachBatch(
            merge_batch_sink(target_path, ["event_key"], acid=acid)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_session_rollup(
    silver_stream: DataFrame,
    *,
    gap: str = "60 minutes",
    watermark_delay: str | None = "1 day",
) -> DataFrame:
    """Per-visitor SESSION WINDOWS on a stream — the same
    ``session_window`` call the batch rollup uses
    (operators/sessionize.session_rollup), so batch backfill and the
    live stream produce identical sessions by construction.

    State per key is one open session (merged as events arrive, even
    out of order within the watermark); a session FINALIZES — and is
    emitted under append mode — only when the watermark passes its
    close, which is what bounds state at 100 TB: no watermark, no
    eviction, unbounded open sessions.
    """
    src = silver_stream
    if watermark_delay is not None:
        src = src.withWatermark("received_at", watermark_delay)
    return (
        src.groupBy(
            F.col("visitor_key"),
            F.session_window("received_at", gap).alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "visitor_key",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
