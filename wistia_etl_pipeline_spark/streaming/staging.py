"""Time-ordered file staging for FileStreamSource-driven tests.

FileStreamSource replays files oldest-modification-time-first. A single
write job stamps every output file with the same mtime, so replay order
across micro-batches is effectively random — and under a watermark,
months-old events arriving after new ones are silently DROPPED (measured
in ``streaming_session_windows``: 7533 of 10000 events surviving, session
counts varying run to run). The original fix was one sequential
``coalesce(1)`` write job per calendar range — correct, but it re-scans
and re-filters the source once per range (6 scans for a 6-cut staging;
the stream-stream join pays it twice = 10 scans of ``events``).

``stage_time_ordered`` produces the identical on-disk contract — one
parquet file per calendar range, mtimes strictly increasing in range
order — from ONE scan and ONE write job:

1. tag each row with its range index (a when-chain over the cuts, scan
   local);
2. ``repartition(n_ranges, range_idx)`` + ``write.partitionBy`` — every
   range directory receives exactly one file (the one task holding that
   hash slot writes it), and the job scans the input once;
3. move each ``__rng=i/part-*.parquet`` file up into the flat staging
   root and stamp an EXPLICIT, deterministic, strictly-increasing mtime
   per range (``os.utime``, :func:`stamp_name_order`) — replay order is
   then a property of the staged bytes, not of write-job scheduling.

The explicit-utime step is what makes this equivalent to the sequential
writes: we own the temp files, and FileStreamSource orders by the very
field we set. Rows WITHIN a range still share a file exactly as before,
so watermark semantics (range k+1 strictly newer than watermark(k)) are
unchanged — which is what the stream==batch driver hash checks.

An input staged by one plain write job gets the same property from
``stamp_name_order`` alone: its part files get strictly increasing
mtimes in name order, so ``maxFilesPerTrigger`` groups the same files
into the same micro-batches on every run.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fixed epoch base for staged-file mtimes: deterministic across runs,
# comfortably in the past so freshly-written checkpoint metadata never
# sorts before data files.
_MTIME_BASE = 1_600_000_000


def stage_time_ordered(
    df: DataFrame,
    ts_col: str,
    path: str,
    cuts: list[str],
) -> str:
    """Stage ``df`` under ``path`` as one parquet file per calendar
    range with strictly increasing mtimes, using a single scan/write
    job. ``cuts`` are the exclusive upper bounds of consecutive ranges
    (the first range is unbounded below). Rows with ``ts_col`` >= the
    last cut are dropped, matching the sequential-write original.
    """
    n = len(cuts)
    rng = F.lit(None).cast("int")
    # Build the when-chain from the last cut down so the first matching
    # (smallest) bound wins when evaluated in order.
    expr = None
    for i, hi in enumerate(cuts):
        cond = F.col(ts_col) < F.lit(hi).cast("timestamp")
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    rng = expr
    tmp = path + "__byrange"
    (
        df.withColumn("__rng", rng)
        .filter(F.col("__rng").isNotNull())
        .repartition(n, "__rng")
        .write.partitionBy("__rng")
        .mode("overwrite")
        .parquet(tmp)
    )
    os.makedirs(path, exist_ok=True)
    for i in range(n):
        for src in sorted(glob.glob(os.path.join(tmp, f"__rng={i}", "*.parquet"))):
            shutil.move(src, os.path.join(path, f"range-{i:04d}-{os.path.basename(src)}"))
    shutil.rmtree(tmp, ignore_errors=True)
    stamp_name_order(path)  # "range-{i:04d}-" names sort in range order
    return path


def stamp_name_order(path: str) -> None:
    """Stamp the data files directly under ``path`` (Spark's rule: no
    ``_`` or ``.`` prefix) with deterministic, strictly increasing mtimes
    in file-name order, so FileStreamSource replays them in that order.
    A plain write job numbers its part files by partition and gives them
    one shared mtime, a tie FileStreamSource breaks by listing order."""
    for seq, f in enumerate(sorted(glob.glob(os.path.join(path, "[!_.]*")))):
        mtime = _MTIME_BASE + seq
        os.utime(f, (mtime, mtime))
