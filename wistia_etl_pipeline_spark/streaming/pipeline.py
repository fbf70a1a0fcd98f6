"""The streaming MERGE sink and the stream runner — ST4/ST6 (SURVEY.md
§2.7) on Structured Streaming.

The reference is a scheduled micro-batch pipeline whose idempotency is
hand-rolled: key-dedup + delete-insert upsert (bronze.py:153-247).
Structured Streaming's ``foreachBatch`` may re-execute a micro-batch
after a failure (at-least-once); :func:`merge_batch_sink` MERGEs each
batch into a transaction-log table by key, so re-execution converges —
the effectively-exactly-once contract the reference gets from D1+A7.
``streaming_gold_rollup`` (q06) writes through it.

:func:`run_available` is the one way a registered query runs a stream:
one bounded ``availableNow`` run at the state width of its input.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..operators.dedup import dedup_exact
from ..session import stream_state_partitions
from ..sources.txlog import TxLogTable

#: Seconds one ``run_available`` run may take before it is stopped.
RUN_TIMEOUT_S = 300


def merge_batch_sink(
    target_path: str, keys: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """ST6/A7 — a ``foreachBatch`` sink that MERGEs each micro-batch by
    key into the transaction-log table at ``target_path``
    (``TxLogTable.merge``, the plan ``operators/merge.merge_plan``).

    A batch re-executed after a crash converges: if the crash came
    after its files landed but before its manifest, the files are an
    orphan no reader sees; if it came after the manifest but before the
    offset commit, the replay re-merges the same keys onto a table that
    already holds them. Readers keep their snapshot while micro-batches
    land.

    Duplicate keys within one batch are collapsed first
    (``dedup_exact``) so the merge key is unique. On an update-mode
    aggregate keyed by the merge key that is a no-op: the batch already
    holds one row per key."""
    table = TxLogTable(target_path)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df.sparkSession, dedup_exact(batch_df, keys), keys)

    return apply


def run_available(
    spark: SparkSession, writer: DataStreamWriter, checkpoint: str, source
) -> None:
    """Run ``writer`` (a ``DataStreamWriter`` with its sink, format and
    output mode set) once over everything its source holds now
    (``trigger(availableNow=True)``), checkpointing to ``checkpoint``.

    The stream runs with ``spark.sql.shuffle.partitions`` at
    ``session.stream_state_partitions(spark, source)``, the width of
    every stateful operator's state stores; the previous session value
    is restored on every path. Every micro-batch pays state-store
    maintenance on EVERY state partition of every stateful operator
    whether or not it holds data (a stream-stream join keeps 4 stores
    per partition per side; at 32 partitions that measured ~4x the
    whole ``statestore_join_state_audit`` runtime for kilobytes of
    state). The engine's streaming state is bounded by construction
    (calendar-grain aggregates, watermark-horizon join buffers,
    64-register sketches), so the width follows the state's volume,
    estimated from the staged input's bytes (``source``: a batch frame
    over it, or a list of them), not the compute width. Values never
    depend on it. A run resuming a checkpoint keeps the width recorded
    in the checkpoint's offset metadata, whatever is set here.

    A run still going after ``RUN_TIMEOUT_S`` is stopped and raises
    ``RuntimeError``: a caller that read its sink or checkpoint anyway
    would read a partial state and fail later as a wrong result."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(stream_state_partitions(spark, source)))
    try:
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(RUN_TIMEOUT_S):
            q.stop()
            raise RuntimeError(
                f"stream on checkpoint {checkpoint} did not finish within "
                f"{RUN_TIMEOUT_S} s; refusing to read a partially-written "
                "checkpoint"
            )
    finally:
        spark.conf.set(key, prev)
