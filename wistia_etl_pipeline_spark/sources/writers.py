"""Physical layouts for written tables (SURVEY.md §2.1).

The reference writes bronze pages one S3 object at a time from the
driver (bronze.py:117-129) and loads the warehouse over JDBC with a
stored-procedure postaction (silver.py:57-67, :95-107). Spark-first,
each sink lives with the code that runs it:

- S4 → ``BatchPipeline._write_bronze_batch`` writes bronze with
  ``partitionBy("media_id","dt")``: the identical Hive-style ``k=v``
  layout, written in parallel by executors.
- S5 → an append commit on the transaction log
  (``sources/txlog.TxLogTable.append``).
- S6 (TRUNCATE stage → load → CALL upsert proc) → the in-engine
  MERGE: no stage table, no procedure hop (operators/merge.py).

This module holds the two layout helpers those sinks share: the
bucketed catalog table and the Z-order key that
``TxLogTable.optimize_zorder`` clusters by.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    key: str | Sequence[str],
    sort_by: str | Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table — the co-located-join layout.

    Two tables bucketed by the same key into the same bucket count
    join WITHOUT a shuffle: each task reads matching buckets from both
    sides (asserted structurally in tests/test_plans.py). At 100 TB
    this converts the recurring fact⋈fact or fact⋈big-dim shuffle —
    usually the single largest cost in a pipeline run — into a one-time
    layout decision at write time. ``sort_by`` additionally pre-sorts
    within buckets so sort-merge joins skip their sort.
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode(mode).bucketBy(buckets, *keys)
    if sort_by is not None:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table)


def zorder_value(df: DataFrame, cols: Sequence[str], *, bits: int = 16):
    """Z-order (Morton) key for multi-column clustering, as a pure
    codegen expression.

    Each column is min/max-normalized into a ``bits``-bit integer (one
    tiny agg to fetch the bounds), then the bit-planes are interleaved:
    bit i of column j lands at position ``i*len(cols)+j``. Sorting by
    the interleaved key gives EVERY participating column locally-tight
    row-group min/max ranges — a single-column sort optimizes one
    column's skipping and destroys the others'.

    Returns ``(df_with_bounds, zcol)`` where ``zcol`` references only
    projection columns of the returned frame.
    """
    from pyspark.sql import functions as F

    # normalize each cluster column to a numeric expression first —
    # timestamp (LTZ or NTZ) clusters on epoch micros, dates on epoch
    # days, everything else casts to double
    dtypes = dict(df.dtypes)

    def _numeric(c: str):
        dt = dtypes[c]
        if dt in ("timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if dt == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        return F.col(c).cast("double")

    bounds = df.agg(
        *[F.min(_numeric(c)).alias(f"__min_{c}") for c in cols],
        *[F.max(_numeric(c)).alias(f"__max_{c}") for c in cols],
    ).collect()[0]
    scaled = df
    max_val = (1 << bits) - 1
    for c in cols:
        lo = float(bounds[f"__min_{c}"])
        hi = float(bounds[f"__max_{c}"])
        span = (hi - lo) or 1.0
        scaled = scaled.withColumn(
            f"__z_{c}",
            F.least(
                F.lit(max_val),
                ((_numeric(c) - F.lit(lo)) / F.lit(span) * max_val).cast("long"),
            ),
        )
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, c in enumerate(cols):
            z = z + F.shiftleft(
                F.shiftright(F.col(f"__z_{c}"), bit).bitwiseAND(F.lit(1)),
                bit * len(cols) + j,
            )
    return scaled, z.alias("__zorder")
