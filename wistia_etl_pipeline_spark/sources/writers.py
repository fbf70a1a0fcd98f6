"""Sinks — S4/S5/S6 (SURVEY.md §2.1).

The reference writes bronze pages one S3 object at a time from the
driver (bronze.py:117-129) and loads the warehouse over JDBC with a
stored-procedure postaction (silver.py:57-67, :95-107). Spark-first:

- S4 → ``partitionBy("media_id","dt")`` on write gives the identical
  Hive-style ``k=v`` layout, written in parallel by executors.
- S5 → an append commit on the transaction log
  (``sources/txlog.TxLogTable.append``).
- S6 (TRUNCATE stage → load → CALL upsert proc) → the in-engine
  MERGE: no stage table, no procedure hop (operators/merge.py).

Scale: bronze partitioning is (media_id, dt) — matches the dominant
read pattern (one media, one day: silver.py:24-26), so partition
pruning elides everything else. High-cardinality keys would need a
coarser layout (hash-bucketed media groups) to avoid small-file blowup;
``one_file_per_partition`` pre-repartitions on the partition keys so
each Hive partition gets a single well-sized file instead of one
fragment per task.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned_json(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] = ("media_id", "dt"),
    mode: str = "append",
    one_file_per_partition: bool = True,
) -> None:
    """S4 — the bronze layout (``media_id=…/dt=…/*.json``), written by
    executors instead of a driver loop."""
    out = df.repartition(*partition_by) if one_file_per_partition else df
    out.write.mode(mode).partitionBy(*partition_by).json(path)


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


def compact_parquet(
    spark,
    path: str,
    *,
    target_file_mb: int = 128,
    partition_by: Sequence[str] = (),
) -> int:
    """Small-file compaction for incrementally-MERGEd parquet paths.

    Every MERGE/append cycle fragments the table; scan cost then grows
    with file COUNT, not data size (driver-side listing, per-file open
    overhead, tiny row groups defeating column-stat pruning). Compact
    rewrites the table into ~``target_file_mb`` files via the same
    write-temp-then-swap used by the MERGE (operators/merge.py), so
    readers never observe a partial table, and the same recovery on
    entry, so a compaction interrupted mid-swap converges when rerun.
    Returns the output file count. Run it on a cadence, not per-batch —
    it rewrites the table.
    """
    from ..operators.merge import _fs, _hpath, _recover_swap, _swap

    fs = _fs(spark, path)
    _recover_swap(spark, fs, path)
    df = spark.read.parquet(path)
    size = fs.getContentSummary(_hpath(spark, path)).getLength()
    n_files = max(1, int(size // (target_file_mb * 1024 * 1024)) + 1)
    tmp = path.rstrip("/") + "__tmp_compact"
    writer = df.repartition(n_files).write.mode("overwrite")
    if partition_by:
        writer = df.repartition(n_files, *partition_by).write.mode("overwrite").partitionBy(*partition_by)
    writer.parquet(tmp)
    _swap(spark, fs, tmp, path)
    return n_files


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


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    *,
    cluster_cols: Sequence[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Multi-column clustered write: range-partition and sort by the
    Morton key so row-group statistics stay tight on ALL
    ``cluster_cols`` — pushed-down predicates on any of them skip row
    groups (the capability Delta's OPTIMIZE ZORDER BY provides; here
    it's a write-layout decision on plain parquet). Use for the 2-4
    dominant filter columns of a 100 TB table; for exactly one filter
    column prefer :func:`write_sorted_parquet` (a plain sort is the
    optimal 1-D clustering)."""
    scaled, z = zorder_value(df, cluster_cols, bits=bits)
    keyed = scaled.withColumn("__zorder", z)
    # range-partition on the Morton key (disjoint z-ranges per file),
    # then sort within: row groups carve contiguous z-space
    keyed = (
        keyed.repartitionByRange(n_files, "__zorder")
        if n_files
        else keyed.repartitionByRange("__zorder")
    )
    clustered = keyed.sortWithinPartitions("__zorder").drop(
        "__zorder", *[f"__z_{c}" for c in cluster_cols]
    )
    writer = clustered.write.mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.parquet(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    *,
    sort_cols: Sequence[str],
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Cluster-by-write for data skipping.

    Sorting within files before writing gives every parquet row group a
    TIGHT min/max range on ``sort_cols``; a pushed-down range predicate
    then skips whole row groups at scan time (the poor-man's Z-order:
    for one dominant filter column, a plain sort IS the optimal
    clustering). On an unsorted table every row group spans ~the whole
    value domain and nothing can be skipped — at 100 TB that's the
    difference between reading one day's row groups and reading all of
    them. Mechanism is asserted directly on row-group stats in
    tests/test_plans.py.
    """
    writer = df.sortWithinPartitions(*sort_cols).write.mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.parquet(path)
