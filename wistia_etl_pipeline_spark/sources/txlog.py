"""Transaction-log ACID table over plain parquet — the crash-consistent
MERGE path (SURVEY.md §7.4's "use Delta/Iceberg for true ACID", with the
protocol implemented in-repo because neither ships in this environment).

The reference gets transactional upsert for free from Redshift (the
DELETE+INSERT runs inside a stored procedure,
wistia_stored_procedures.py:3-85). ``operators/merge.merge_into_path``
writes the same MERGE plan (``operators/merge.merge_plan``: stage cut
once, broadcast anti-join upsert, output clustered by key) and makes it
visible with a rename swap. That swap converges after a crash — its
next run rolls an interrupted swap back or forward before reading — but
it is not isolated: a reader listing the directory during the swap can
observe a missing or half-populated table. ``TxLogTable.merge`` writes
that plan under this module's protocol instead, which closes the gap
with the same mechanics Delta Lake's protocol uses (the "Delta Lake:
High-Performance ACID Table Storage" VLDB'20 design):

- **Immutable versioned data**: every commit writes its new files
  under a fresh ``data/`` directory; no commit ever mutates or deletes
  files a previous version references.
- **Atomic log commit**: a version exists iff ``_txlog/{N}.json``
  exists. The manifest is staged to a temp name and published with a
  PUT-IF-ABSENT (hard-link-then-unlink — atomic and exclusive on
  POSIX; the HDFS equivalent is rename-without-overwrite, the S3
  equivalent a conditional PUT / DynamoDB LogStore — that swap is the
  single storage-specific primitive, isolated in ``_put_if_absent``).
- **Readers pin a snapshot**: ``read()`` resolves the highest committed
  manifest and scans only the files it lists. A crash between data
  write and log commit leaves an orphan directory that no reader ever
  sees; concurrent readers of version N keep working (and can
  re-collect) while N+1 commits, because N's files are never touched.
- **Optimistic concurrency**: two writers racing to version N both
  write data, one wins the put-if-absent, the loser re-reads the NEW
  snapshot, recomputes its upsert, and retries at N+1 — merge is
  serializable, not last-write-wins. Every write (overwrite, append,
  partition overwrite, merge, delete, compact, Z-order) runs this one
  loop, ``TxLogTable._commit_loop``.
- **vacuum()** removes data files no longer referenced by the retained
  manifests — the only deletion in the protocol, explicitly decoupled
  from commits so readers get a grace window. Every manifest must list
  its files (``_manifest`` refuses one that does not), so vacuum can
  never mistake a snapshot's data for garbage.

Scale note: this module commits O(1) small manifests per operation; the
data write itself is the same distributed parquet write as the vanilla
path. Manifests are FILE-LEVEL (each commit lists the parquet files
that make up its snapshot, Delta's add-file model): ``overwrite`` and
``merge`` list a fresh directory's files (full rewrite — right for
gold/dim-sized tables maintained by MERGE), while ``append`` lists the
previous snapshot's files PLUS the new batch's — the 100 TB fact-table
path, where a daily ingest commits new files without touching, reading,
or rewriting the accumulated history. ``vacuum`` accordingly collects
file-level garbage: a parquet file survives iff some retained manifest
references it.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..session import arrow_local_df


class ConcurrentCommitError(RuntimeError):
    """Raised when a merge loses the commit race ``max_retries`` times."""


class ConstraintViolation(ValueError):
    """Raised when a batch fails the table's CHECK constraints; the
    commit is aborted and no data becomes visible."""


def _put_if_absent(tmp: str, dst: str) -> bool:
    """Atomically publish ``tmp`` as ``dst`` iff ``dst`` doesn't exist.

    POSIX primitive: ``link(2)`` fails with EEXIST if the target is
    present and is atomic w.r.t. concurrent linkers — exactly the
    put-if-absent a transaction log needs. Storage ports: HDFS
    ``rename`` (no-overwrite mode), S3 conditional PUT.
    """
    try:
        os.link(tmp, dst)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


_PART_PREFIX = "__part_"


def _partition_values(rel_to_data_dir: str) -> dict[str, str]:
    """Partition column → value parsed from ``__part_col=val`` path
    segments of a partitioned write (values as Spark spelled them)."""
    out = {}
    for seg in rel_to_data_dir.split(os.sep)[:-1]:
        if seg.startswith(_PART_PREFIX) and "=" in seg:
            k, _, v = seg.partition("=")
            out[k[len(_PART_PREFIX):]] = v
    return out


def _collect_file_stats(
    data_dir: str, stats_cols: Sequence[str], *, rel_root: str
) -> list[dict]:
    """Per-file entries for every parquet file under ``data_dir``
    (recursive — partitioned writes nest ``__part_col=val`` dirs): path
    (relative to the TABLE root, so manifests can mix directories),
    row count, partition values if any, and min/max for ``stats_cols``
    from parquet footers (the manifest-level data-skipping index — what
    Delta stores per add-file). Driver-side, O(#files) footer reads —
    cheap next to the write."""
    import pyarrow.parquet as pq

    paths = []
    for dirpath, _dirs, names in os.walk(data_dir):
        for name in names:
            if name.endswith(".parquet"):
                paths.append(os.path.join(dirpath, name))
    out = []
    for full in sorted(paths):
        meta = pq.ParquetFile(full).metadata
        stats: dict[str, list] = {}
        for rg_i in range(meta.num_row_groups):
            rg = meta.row_group(rg_i)
            for c_i in range(rg.num_columns):
                col = rg.column(c_i)
                cname = col.path_in_schema
                if cname not in stats_cols or col.statistics is None:
                    continue
                lo, hi = col.statistics.min, col.statistics.max
                if not isinstance(lo, (int, float, str)):
                    # only JSON-comparable stats are indexed (store
                    # timestamps as epoch-micros columns to skip on them)
                    continue
                cur = stats.get(cname)
                stats[cname] = (
                    [lo, hi]
                    if cur is None
                    else [min(cur[0], lo), max(cur[1], hi)]
                )
        entry = {
            "path": os.path.relpath(full, rel_root),
            "rows": meta.num_rows,
            "stats": stats,
        }
        parts = _partition_values(os.path.relpath(full, data_dir))
        if parts:
            entry["partition"] = parts
        out.append(entry)
    return out


def _may_match(entry: dict, where: tuple[str, object, object]) -> bool:
    """False iff the manifest file entry's min/max for ``where``'s column
    proves it holds no row in ``[lo, hi]``."""
    col, lo, hi = where
    rng = (entry.get("stats") or {}).get(col)
    return rng is None or not (rng[1] < lo or rng[0] > hi)


def _evolve_schema(head_json: str | None, df: DataFrame, *, merge_schema: bool) -> str:
    """The table schema after appending ``df``: head fields first, then
    ``df``'s new fields as nullable. Additions/omissions require
    ``merge_schema``; type changes are always refused (see
    ``TxLogTable.append``)."""
    from pyspark.sql.types import StructField, StructType

    if head_json is None:
        return df.schema.json()
    head = StructType.fromJson(json.loads(head_json))
    head_types = {f.name: f.dataType for f in head.fields}
    df_types = {f.name: f.dataType for f in df.schema.fields}
    conflicts = sorted(
        n for n, t in df_types.items() if n in head_types and t != head_types[n]
    )
    if conflicts:
        raise ValueError(
            f"append changes column types for {conflicts}; "
            "rewrite the table (overwrite/merge) to change a type"
        )
    new = [f for f in df.schema.fields if f.name not in head_types]
    missing = sorted(n for n in head_types if n not in df_types)
    if (new or missing) and not merge_schema:
        raise ValueError(
            f"batch schema differs from table (new={[f.name for f in new]}, "
            f"missing={missing}); pass merge_schema=True to evolve"
        )
    merged = StructType(
        list(head.fields)
        + [StructField(f.name, f.dataType, True) for f in new]
    )
    return merged.json()


class TxLogTable:
    """A parquet table whose visible state is defined by a transaction
    log — see module docstring for the protocol.

    ``stats_cols`` enables manifest-level DATA SKIPPING: each commit
    records per-file min/max for those columns, and
    ``read(where=(col, lo, hi))`` plans a scan over only the files
    whose range overlaps — the table-format half of predicate pruning
    (row-group skipping inside each file still happens via parquet
    pushdown). Pair with a sorted/Z-ordered write so file ranges are
    tight."""

    def __init__(
        self,
        path: str,
        *,
        stats_cols: Sequence[str] = (),
        constraints: dict[str, str] | None = None,
    ):
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, "_txlog")
        self.stats_cols = tuple(stats_cols)
        self.constraints = dict(constraints or {})

    def _check_constraints(self, df: DataFrame) -> DataFrame:
        """Enforce CHECK constraints (name → boolean SQL expression)
        on the batch BEFORE any data lands: one aggregate over the
        batch only — never the table — counts rows violating each
        expression; any violation aborts the commit (Delta's CHECK
        constraint contract: bad data never becomes visible, and the
        writer finds out at write time, not at read time three jobs
        downstream). Null predicate results count as violations, so a
        constraint must be explicit about nullable columns."""
        from pyspark.sql import functions as F

        if not self.constraints:
            return df
        counts = df.agg(
            *[
                F.count(
                    F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1)
                ).alias(name)
                for name, expr in self.constraints.items()
            ]
        ).collect()[0]
        bad = {n: counts[n] for n in self.constraints if counts[n]}
        if bad:
            raise ConstraintViolation(
                f"constraint violations on {self.path}: "
                + ", ".join(
                    f"{n} ({c} rows, CHECK {self.constraints[n]!r})"
                    for n, c in sorted(bad.items())
                )
            )
        return df

    # -- log ------------------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json"):
                try:
                    out.append(int(name[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:08d}.json")) as f:
            manifest = json.load(f)
        if "files" not in manifest:
            # A directory-scan manifest from before manifests listed
            # their files: treated as file-level it would read as empty
            # and vacuum would collect its data, so refuse it loudly.
            raise ValueError(
                f"version {version} of {self.path} is a directory-scan "
                "manifest without a file list; rewrite the table with "
                "overwrite()"
            )
        return manifest

    def _commit(self, version: int, meta: dict) -> bool:
        """Publish ``meta`` as the manifest of ``version``. False = lost
        race."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump({"version": version, **meta}, f)
        return _put_if_absent(tmp, os.path.join(self.log_dir, f"{version:08d}.json"))

    def _commit_loop(
        self,
        build: Callable[[int | None, str], dict | None],
        max_retries: int,
        *,
        batch_dir: str | None = None,
    ) -> int:
        """The optimistic commit every write goes through. An attempt
        reads the head version (None for an empty table), calls
        ``build(head, out)`` to write the next snapshot against it — into
        ``out``, a fresh data directory, if it writes data at all — and
        get its manifest, then publishes that manifest put-if-absent. On
        a lost race ``out`` is an orphan: it is removed and the next
        attempt rebuilds against the new head. ``build`` returning None
        commits nothing and returns the head. ``batch_dir`` is data
        written once before the loop and reused by every attempt; it is
        removed when the operation fails. Returns the committed version.
        """
        for _ in range(max_retries):
            head = self.current_version()
            version = 0 if head is None else head + 1
            out = os.path.join(self.path, f"data/v{version:08d}-{uuid.uuid4().hex[:8]}")
            try:
                meta = build(head, out)
            except BaseException:
                for d in (out, batch_dir):
                    if d is not None:
                        shutil.rmtree(d, ignore_errors=True)
                raise
            if meta is None:
                return head
            if self._commit(version, meta):
                return version
            shutil.rmtree(out, ignore_errors=True)
        if batch_dir is not None:
            shutil.rmtree(batch_dir, ignore_errors=True)
        raise ConcurrentCommitError(f"lost the commit race {max_retries}x on {self.path}")

    def _land(self, df: DataFrame, out: str) -> dict:
        """Write ``df`` as the snapshot directory ``out``; returns the
        manifest entries listing it."""
        df.write.mode("overwrite").parquet(out)
        return {
            "files": _collect_file_stats(out, self.stats_cols, rel_root=self.path),
            "schema": df.schema.json(),
        }

    # -- data -----------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        *,
        version: int | None = None,
        where: tuple[str, object, object] | None = None,
    ) -> DataFrame | None:
        """The snapshot DataFrame at ``version`` (default: latest), or
        ``None`` for an empty/never-committed table. The returned frame
        stays valid across later commits — its files are immutable.

        ``where=(col, lo, hi)`` additionally prunes at the FILE level
        using the manifest's per-file min/max (files whose recorded
        range misses [lo, hi] are never opened) and applies the exact
        range filter on what remains — the same two-tier skipping Delta
        does with add-file stats + parquet row groups."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        v = self.current_version() if version is None else version
        if v is None:
            return None
        manifest = self._manifest(v)
        files = manifest["files"]
        if where is not None:
            files = [f for f in files if _may_match(f, where)]
        # The manifest schema is authoritative: files predating a schema
        # evolution read their missing columns as null.
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        if not files:
            # Empty snapshot (or every file pruned): an empty frame with
            # the schema the manifest recorded at commit time.
            return arrow_local_df(spark, [], schema)
        df = spark.read.schema(schema).parquet(
            *(os.path.join(self.path, f["path"]) for f in files)
        )
        if where is not None:
            col, lo, hi = where
            df = df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
        return df

    def read_changes(
        self,
        spark: SparkSession,
        since_version: int,
        *,
        to_version: int | None = None,
        on_rewrite: str = "error",
    ) -> DataFrame:
        """Rows added by commits AFTER ``since_version`` up to
        ``to_version`` (default: head) — the incremental-consumption
        path. A downstream job remembers the last version it processed
        and reads only the files newer commits added, so consuming a
        day's appends off a 100 TB table costs O(day), never O(table)
        (Delta's CDF read, restricted to the append case where change =
        add-files and no row-level ``_change_type`` is needed).

        A rewrite commit (``overwrite``/``merge``/partition overwrite)
        in the range removes files, so its delta is NOT expressible as
        added rows: with ``on_rewrite="error"`` (default) raise so the
        consumer notices; ``on_rewrite="snapshot"`` returns the full
        snapshot at ``to_version`` — the documented "restate from a
        fresh snapshot" recovery, matching how CDF consumers handle
        non-append history.
        """
        from pyspark.sql.types import StructType

        head = self.current_version()
        to_v = head if to_version is None else to_version
        if to_v is None or since_version > to_v:
            raise ValueError(f"bad version range ({since_version}, {to_v}]")
        added: list[str] = []
        prev: set[str] | None = None
        for v in range(since_version, to_v + 1):
            cur = {f["path"] for f in self._manifest(v)["files"]}
            if prev is not None:
                if prev - cur:  # files removed: rewrite commit
                    if on_rewrite == "snapshot":
                        return self.read(spark, version=to_v)
                    raise ValueError(
                        f"version {v} rewrote the table (files removed); "
                        "re-read from a snapshot or pass on_rewrite='snapshot'"
                    )
                added.extend(sorted(cur - prev))
            prev = cur
        schema = StructType.fromJson(json.loads(self._manifest(to_v)["schema"]))
        if not added:
            return arrow_local_df(spark, [], schema)
        return spark.read.schema(schema).parquet(
            *(os.path.join(self.path, p) for p in added)
        )

    def files_scanned(self, *, version: int | None = None,
                      where: tuple[str, object, object] | None = None) -> int:
        """How many data files a ``read(where=...)`` would open —
        observability for the skipping tests/dashboards."""
        v = self.current_version() if version is None else version
        if v is None:
            return 0
        files = self._manifest(v)["files"]
        return sum(where is None or _may_match(f, where) for f in files)

    def overwrite(self, df: DataFrame, *, max_retries: int = 5) -> int:
        """Commit ``df`` as a full replacement snapshot; returns the
        committed version."""
        self._check_constraints(df)
        return self._commit_loop(lambda _head, out: self._land(df, out), max_retries)

    def append(
        self, df: DataFrame, *, merge_schema: bool = False, max_retries: int = 5
    ) -> int:
        """Commit ``df`` as NEW FILES on top of the current snapshot —
        the manifest lists the previous version's files plus the batch's.
        Nothing already committed is read, touched, or rewritten, so an
        append costs O(batch), not O(table): this is how a fact table
        accumulates 100 TB under the protocol. A lost commit race only
        re-reads the new head MANIFEST (the batch directory is reused),
        so retries are O(1) too. Returns the committed version.

        Schema: by default the batch must match the table schema
        exactly (by column name and type). ``merge_schema=True`` allows
        evolution — new columns widen the table schema (old files read
        as null for them, because ``read()`` applies the manifest
        schema) and the batch may omit existing columns (its files read
        as null there). A TYPE change for an existing column is always
        refused: parquet files with conflicting physical types can't
        share one scan schema — that's a rewrite, not an append."""
        self._check_constraints(df)
        batch_dir = os.path.join(self.path, f"data/a-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(batch_dir)
        batch_files = _collect_file_stats(batch_dir, self.stats_cols, rel_root=self.path)

        def build(head, _out):
            m = {"files": [], "schema": None} if head is None else self._manifest(head)
            return {
                "files": m["files"] + batch_files,
                "schema": _evolve_schema(m["schema"], df, merge_schema=merge_schema),
                "append": True,
            }

        return self._commit_loop(build, max_retries, batch_dir=batch_dir)

    def overwrite_partitions(
        self, df: DataFrame, partition_cols: Sequence[str], *, max_retries: int = 5
    ) -> int:
        """Dynamic partition overwrite: replace ONLY the partitions
        ``df`` contains (the day-backfill path — re-landing one day of a
        100 TB fact table writes and commits O(day); every other
        partition's files are carried into the new manifest untouched).

        The write is one distributed ``partitionBy`` job over copies of
        the partition columns (``__part_col=val`` directories), so data
        files keep the real columns and reads stay plain parquet scans
        of manifest paths — no Hive-style partition inference needed.
        Replacement matches on the partition values Spark spelled into
        the directory names vs ``str()`` of ``df``'s distinct values:
        keep partition columns to strings/ints (dates formatted to
        strings) so both spellings agree.

        First commit bootstraps a partitioned table; later commits
        require every head file to carry partition info for the same
        columns (appends of unpartitioned batches can't be safely
        replaced — refuse rather than silently keep stale rows).
        Returns the committed version.
        """
        from pyspark.sql import functions as F

        cols = list(partition_cols)
        if not cols:
            raise ValueError("partition_cols must be non-empty")
        self._check_constraints(df)
        staged = df
        for c in cols:
            staged = staged.withColumn(_PART_PREFIX + c, F.col(c))
        batch_dir = os.path.join(self.path, f"data/p-{uuid.uuid4().hex[:8]}")
        staged.write.partitionBy(*(_PART_PREFIX + c for c in cols)).mode(
            "overwrite"
        ).parquet(batch_dir)
        new_files = _collect_file_stats(batch_dir, self.stats_cols, rel_root=self.path)
        touched = {
            tuple(f["partition"][c] for c in cols)
            for f in new_files
            if "partition" in f
        }

        def build(head, _out):
            keep: list[dict] = []
            for f in [] if head is None else self._manifest(head)["files"]:
                part = f.get("partition")
                if part is None or any(c not in part for c in cols):
                    raise ValueError(
                        f"head file {f['path']} has no partition values "
                        f"for {cols}; cannot replace partitions safely"
                    )
                if tuple(part[c] for c in cols) not in touched:
                    keep.append(f)
            return {
                "files": keep + new_files,
                "schema": df.schema.json(),
                "partitioned_by": cols,
                "replaced_partitions": sorted(touched),
            }

        return self._commit_loop(build, max_retries, batch_dir=batch_dir)

    def merge(
        self,
        spark: SparkSession,
        stage: DataFrame,
        keys: Sequence[str],
        *,
        max_retries: int = 5,
    ) -> int:
        """Serializable MERGE (delete-then-insert by key): writes
        ``operators/merge.merge_plan`` — the plan the rename-swap path
        writes — against the CURRENT snapshot on every attempt, so a
        lost commit race never produces last-write-wins anomalies.
        Returns the committed version."""
        from ..operators.merge import merge_plan

        self._check_constraints(stage)

        def build(head, out):
            merged = merge_plan(stage, self.read(spark, version=head), keys)
            return {"merge_keys": list(keys), **self._land(merged, out)}

        return self._commit_loop(build, max_retries)

    def delete(
        self,
        spark: SparkSession,
        where: tuple[str, object, object],
        *,
        max_retries: int = 5,
    ) -> int:
        """Row-level DELETE with file-level pruning — the
        right-to-be-forgotten path: files whose manifest min/max PROVES
        they hold no matching row are carried into the new manifest
        byte-identical (never opened, never rewritten); only
        intersecting files are read, filtered, and re-landed, so
        deleting one key range from a 100 TB table costs O(files that
        can contain it) — with a sorted/range-partitioned layout on the
        stats column, a handful — never O(table). ``where`` is the same
        ``(col, lo, hi)`` range contract as ``read``; rows with a NULL
        predicate column never match (SQL comparison semantics) and are
        preserved. A delete whose pruning proves NO file can match
        commits nothing and returns the unchanged head. Counts as a
        rewrite for ``read_changes`` (files removed), like Delta's
        DELETE. Recomputed against the current snapshot on every retry
        (the ``merge`` race rule). Returns the committed version."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        col, lo, hi = where

        def build(head, out):
            m = self._manifest(self._require(head, "delete from"))
            touched = [f for f in m["files"] if _may_match(f, where)]
            if not touched:
                return None  # pruning proved a no-op: nothing to commit
            carried = [f for f in m["files"] if not _may_match(f, where)]
            kept = (
                spark.read.schema(StructType.fromJson(json.loads(m["schema"])))
                .parquet(*(os.path.join(self.path, f["path"]) for f in touched))
                .where(
                    ~((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
                    | F.col(col).isNull()
                )
            )
            landed = self._land(kept, out)
            return {
                "files": carried + landed["files"],
                "schema": m["schema"],
                "delete": {
                    "where": [col, lo, hi],
                    "files_rewritten": len(touched),
                    "files_carried": len(carried),
                },
            }

        return self._commit_loop(build, max_retries)

    def _require(self, head: int | None, what: str) -> int:
        if head is None:
            raise ValueError(f"nothing to {what} at {self.path}")
        return head

    # -- maintenance ----------------------------------------------------

    def compact(
        self, spark: SparkSession, *, target_files: int = 1, max_retries: int = 5
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot into ``target_files``
        files per the usual commit protocol — same rows, fewer files.
        An append-heavy table accumulates one file set per batch; small
        files tax every scan (driver listing, task scheduling, parquet
        footer overhead), so compaction on a cadence is part of the
        100 TB contract. Readers of older versions keep their snapshot
        (files are shared/immutable as always); ``vacuum`` reclaims the
        pre-compaction files once retention passes. Counts as a rewrite
        for ``read_changes`` (no rows changed, but file identity did —
        consumers mid-range restate from the snapshot)."""

        def build(head, out):
            snapshot = self.read(spark, version=self._require(head, "compact"))
            return {"compaction": True, **self._land(snapshot.coalesce(target_files), out)}

        return self._commit_loop(build, max_retries)

    def optimize_zorder(
        self,
        spark: SparkSession,
        cluster_cols: Sequence[str],
        *,
        target_files: int = 8,
        bits: int = 16,
        max_retries: int = 5,
    ) -> int:
        """OPTIMIZE ... ZORDER BY — the clustering sibling of
        ``compact``: rewrite the current snapshot range-partitioned +
        sorted on the Morton key of ``cluster_cols``
        (``writers.zorder_value``), so the manifest's per-file min/max
        (``stats_cols``) becomes tight on EVERY clustering column at
        once and ``read(where=...)`` / ``delete(where=...)`` prune to
        few files on any of them. Same rows, relaid files, normal
        commit protocol; a rewrite for ``read_changes``. This is how a
        100 TB log table keeps its skipping effective as appends
        accumulate unclustered batches — run it on a cadence with
        ``vacuum``. Returns the committed version."""
        from .writers import zorder_value

        def build(head, out):
            snapshot = self.read(spark, version=self._require(head, "optimize"))
            scaled, z = zorder_value(snapshot, cluster_cols, bits=bits)
            clustered = (
                scaled.withColumn("__zorder", z)
                .repartitionByRange(target_files, "__zorder")
                .sortWithinPartitions("__zorder")
                .drop("__zorder", *[f"__z_{c}" for c in cluster_cols])
            )
            return {"zorder_by": list(cluster_cols), **self._land(clustered, out)}

        return self._commit_loop(build, max_retries)

    def vacuum(self, *, keep_versions: int = 2) -> list[str]:
        """Delete data FILES not referenced by the newest
        ``keep_versions`` manifests (and orphans from crashed/raced
        commits), then any directories left empty. File-level, because
        append commits share files across versions and directories —
        a file survives iff some retained manifest lists it. Returns
        the removed paths. Run on a cadence — the retention window is
        the concurrent readers' grace period."""
        keep_versions = max(1, keep_versions)  # never unlink the head
        vs = self.versions()
        keep_files: set[str] = set()
        for v in vs[-keep_versions:]:
            keep_files.update(
                os.path.abspath(os.path.join(self.path, f["path"]))
                for f in self._manifest(v)["files"]
            )
        removed = []
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            live_dirs: set[str] = set()  # contain kept content (subtree)
            for dirpath, dirs, files in os.walk(data_root, topdown=False):
                kept_here = any(
                    os.path.abspath(os.path.join(dirpath, fn)) in keep_files
                    for fn in files
                ) or any(
                    os.path.abspath(os.path.join(dirpath, d)) in live_dirs
                    for d in dirs
                )
                if kept_here:
                    live_dirs.add(os.path.abspath(dirpath))
                for fn in files:
                    full = os.path.abspath(os.path.join(dirpath, fn))
                    if full in keep_files:
                        continue
                    if fn.startswith(".") and fn.endswith(".crc"):
                        # checksum sidecar: lives and dies with its file
                        base = fn[1:-len(".crc")]
                        if os.path.abspath(os.path.join(dirpath, base)) in keep_files:
                            continue
                        if not base.endswith(".parquet") and kept_here:
                            continue  # e.g. ._SUCCESS.crc of a live dir
                    elif not fn.endswith(".parquet") and kept_here:
                        continue  # _SUCCESS etc. of a still-live directory
                    os.remove(full)
                    removed.append(full)
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
        for v in vs[:-keep_versions]:
            os.remove(os.path.join(self.log_dir, f"{v:08d}.json"))
        return removed
