"""The streaming MERGE sink — ST4/ST6 (SURVEY.md §2.7) on Structured
Streaming.

The reference is a scheduled micro-batch pipeline whose idempotency is
hand-rolled: key-dedup + delete-insert upsert (bronze.py:153-247).
Structured Streaming's ``foreachBatch`` may re-execute a micro-batch
after a failure (at-least-once); :func:`merge_batch_sink` MERGEs each
batch into a transaction-log table by key, so re-execution converges —
the effectively-exactly-once contract the reference gets from D1+A7.
The registered streaming queries (``streaming_gold_rollup`` in q06)
write through it.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from ..operators.dedup import dedup_exact
from ..sources.txlog import TxLogTable


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
