"""Key-based upsert (MERGE) — A7 / J1 / J2 (SURVEY.md §2.3-2.4).

The reference implements upsert as Redshift stored procedures: DELETE
target rows matching stage keys, INSERT all stage rows, TRUNCATE stage
(wistia_stored_procedures.py:3-42 for ``dim_media`` on ``media_id``,
:49-85 for ``media_daily_agg`` on ``(media_id, dt)``). The relational
equivalent is::

    (target LEFT ANTI JOIN stage ON keys)  UNION ALL  stage

which is exactly what :func:`upsert` builds. Properties preserved from
the reference:

- **idempotent replace-by-key**: applying the same stage twice ≡ once
  (the second application deletes-and-reinserts identical rows);
- **stage wins**: every key present in stage takes stage's row.

:func:`merge_plan` is the one MERGE plan: the stage cut once, the
upsert, the output clustered by key. Both commit protocols write it —
the rename swap here (:func:`merge_into_path`) and the transaction log
(``sources/txlog.TxLogTable.merge``); they differ only in how the
result becomes visible.

Scale notes (100 TB):
- The stage is always broadcast: the incremental contract keeps it
  delta-sized (a day's delta vs years of history), so the anti-join
  never shuffles the 100 TB target. The only exchange over the target
  is the key clustering of the rewrite.
- :func:`merge_into_path` materializes via write-temp-then-swap;
  :func:`prepare_merge` is its write half, for callers that publish
  later (the medallion run lands bronze first). On
  vanilla Parquet, overwrite-in-place is not atomic for concurrent
  readers (SURVEY.md §7.4); on a table format with ACID commit
  semantics (Delta/Iceberg) a real ``MERGE INTO`` replaces this whole
  module — the logical plan here is the portable fallback.
- The swap is crash-safe under replay: every swap user first runs
  :func:`_recover_swap`, which rolls an interrupted swap back (target
  gone, ``__old`` present) or finishes it (both present), so a crash
  at any filesystem step converges when the same MERGE runs again.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def upsert(target: DataFrame, stage: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Delete-then-insert by key, as one declarative plan; the stage is
    the broadcast side of the anti-join.

    Reference: wistia_stored_procedures.py:9-11 (DELETE USING = left
    anti join on the keep side) + :13-36 (INSERT from stage).
    """
    kept = target.join(F.broadcast(stage).select(*keys), list(keys), "left_anti")
    return kept.unionByName(stage.select(*target.columns))


def merge_plan(
    stage: DataFrame, target: DataFrame | None, keys: Sequence[str]
) -> DataFrame:
    """The rows a MERGE of ``stage`` into ``target`` writes, clustered by
    key. ``target=None`` bootstraps the table from the stage alone."""
    merged = stage
    if target is not None:
        # The stage subtree feeds TWO consumers in the merged plan —
        # the broadcast anti-join probe and the insert union leg — and
        # Spark does not reuse a broadcast exchange as a union input,
        # so an expensive stage (a JSON-parse+dedup delta, an exact
        # rollup) would execute twice per merge (r12; NOTES rule #7).
        # One cut point = one computation, and the checkpoint is
        # delta-sized by the incremental contract. Under AQE the cut is
        # not lazy despite ``eager=False``: the call runs the stage's
        # shuffle stages at once, in an SQL execution of its own (the
        # separate 1-job silver and 3-job gold executions of a traced
        # medallion tick), and only the checkpointed RDD is deferred.
        merged = upsert(target, stage.localCheckpoint(eager=False), keys)
    # Cluster the rewrite by key before it lands (guide §6 output
    # sizing, r13): without this the file count is whatever the merged
    # plan's partitioning happens to be — target-file-count + stage
    # partitions, growing every merge, and each subsequent merge (and
    # the gold pass re-reading silver) pays listing + per-file open on
    # all of them. repartition by COLUMNS (no pinned number) is an
    # AQE-coalescible exchange: advisory-sized (~128 MB) output files
    # at any scale, one file for a delta-sized table locally — the same
    # hash write-distribution a table format (Iceberg
    # write.distribution-mode=hash) applies to MERGE output.
    return merged.repartition(*[F.col(k) for k in keys])


def prepare_merge(
    spark: SparkSession, stage: DataFrame, path: str, keys: Sequence[str]
) -> Callable[[], None]:
    """The write half of a MERGE against a Parquet path: recover an
    interrupted swap, read the target, write :func:`merge_plan` to
    ``<path>__tmp_merge``. Returns the publish half, the :func:`_swap`
    that renames the temp directory in. The swap is a rename —
    near-atomic on posix/HDFS, best-effort on object stores (use
    Delta/Iceberg for true ACID; this is the vanilla-Parquet fallback,
    SURVEY.md §7.4).

    Until the returned call runs, the table is untouched: a caller that
    never publishes leaves only the temp directory, which the next
    MERGE into ``path`` overwrites (so publish before that one starts).

    The target is read with the stage's schema (:func:`_read_target`),
    so the MERGE runs no schema-inference job; a target whose columns
    are not exactly the stage's raises ``ValueError`` instead of
    dropping a target-only column or reading a stage-only one as nulls.
    The Hadoop filesystem is resolved once and serves every step.
    """
    fs = _fs(spark, path)
    target = _read_target(spark, fs, path, stage.schema)
    tmp = path.rstrip("/") + "__tmp_merge"
    merge_plan(stage, target, keys).write.mode("overwrite").parquet(tmp)
    return lambda: _swap(spark, fs, tmp, path)


def merge_into_path(
    spark: SparkSession, stage: DataFrame, path: str, keys: Sequence[str]
) -> None:
    """Materialized MERGE against a Parquet path: :func:`prepare_merge`,
    then publish at once."""
    prepare_merge(spark, stage, path, keys)()


def _read_target(
    spark: SparkSession, fs, path: str, schema: T.StructType
) -> DataFrame | None:
    """The MERGE target at ``path`` read with ``schema``, or None when
    there is no table (no data file once :func:`_recover_swap` ran).

    A declared schema plans the scan without the footer-reading Spark
    job inference costs. It would also read a column the table lacks as
    nulls and skip one the schema lacks, so the column names in the
    footer of one data file, read on the driver, must equal the
    schema's (data files: Spark's rule, no ``_`` or ``.`` prefix)."""
    _recover_swap(spark, fs, path)
    data = fs.globStatus(_hpath(spark, path.rstrip("/") + "/[!_.]*"))
    if not data:
        return None
    have, want = _footer_columns(spark, data[0]), [f.name for f in schema.fields]
    if sorted(have) != sorted(want):
        raise ValueError(
            f"{path}: table columns {sorted(set(have) - set(want))} are not "
            f"in the stage and stage columns {sorted(set(want) - set(have))} "
            f"are not in the table"
        )
    return spark.read.schema(schema).parquet(path)


def _footer_columns(spark: SparkSession, status) -> list[str]:
    """Top-level column names in the footer of the Parquet file behind
    the Hadoop ``status``, read on the driver (no Spark job): the schema
    Spark stored there, else Parquet's own field names."""
    reader = _jclass(spark, "org.apache.parquet.hadoop.ParquetFileReader").open(
        _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(
            status, spark._jsc.hadoopConfiguration()
        )
    )
    try:
        meta = reader.getFooter().getFileMetaData()
    finally:
        reader.close()
    stored = meta.getKeyValueMetaData().get("org.apache.spark.sql.parquet.row.metadata")
    if stored is None:
        return [f.getName() for f in meta.getSchema().getFields()]
    return [f["name"] for f in json.loads(stored)["fields"]]


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """The JVM class ``name``, by its full name: no py4j round trip
    (``spark._jvm.org.apache…`` spends one on every package segment)."""
    return JavaClass(name, spark._jvm._gateway_client)


def _hpath(spark: SparkSession, path: str):
    return _jclass(spark, "org.apache.hadoop.fs.Path")(path)


def _fs(spark: SparkSession, path: str):
    """The Hadoop filesystem holding ``path``."""
    return _hpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    return _fs(spark, path).exists(_hpath(spark, path))


def _old(path: str) -> str:
    return path.rstrip("/") + "__old"


def _recover_swap(spark: SparkSession, fs, path: str) -> None:
    """Undo what a crash inside :func:`_swap` left behind; run before
    reading ``path`` on its filesystem ``fs``. Target gone and
    ``__old`` present: the crash fell between the two renames, so
    ``__old`` is the table — rename it back. Both present: the new
    table landed, so drop ``__old``. A stale temp directory needs
    nothing: the next write overwrites it."""
    live, old = _hpath(spark, path), _hpath(spark, _old(path))
    if fs.exists(old):
        if fs.exists(live):
            fs.delete(old, True)
        else:
            fs.rename(old, live)


def _swap(spark: SparkSession, fs, tmp: str, path: str) -> None:
    """Replace ``path`` by ``tmp`` on their filesystem ``fs``: rename the
    table aside, rename the new one in, drop the old. Callers run
    :func:`_recover_swap` first, so ``__old`` is never present on
    entry."""
    live, new, old = (_hpath(spark, p) for p in (path, tmp, _old(path)))
    if fs.exists(live):
        fs.rename(live, old)
    fs.rename(new, live)
    fs.delete(old, True)
