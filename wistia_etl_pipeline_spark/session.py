"""SparkSession factory tuned for large-scale batch analytics.

The reference runs on AWS Glue and never tunes Spark (SURVEY.md §4). We
instead make the scale-relevant settings explicit so the same code runs on
``local[N]`` for tests and on a 1000-executor cluster unchanged:

- **AQE on** (adaptive shuffle-partition coalescing, runtime
  broadcast-join conversion, skew-join splitting) — the single most
  important knob for 100 TB plans whose stage sizes can't be predicted.
- **UTC session timezone** — the reference mixes lexicographic ISO-string
  comparison with parsed datetimes, which only agree because everything is
  UTC-normalized; we make that a hard invariant (SURVEY.md §7.4).
- **Arrow enabled** — all Python-side exchange (pandas UDFs, toPandas) is
  columnar/batched, never row-at-a-time pickling.
- **Codegen cache of 2000 classes** (``spark.sql.codegen.cache.maxEntries``,
  a static conf, so only ``get_spark`` can set it; sizing at
  ``CODEGEN_CACHE_MAX_ENTRIES``) — Spark's default LRU of 100 generated
  classes is smaller than one round of the benchmark's small queries, so
  every warm round recompiled; with 2000 a steady-state round compiles
  none.
- **Declared test-table schemas** — ``load_table`` reads with
  ``schemas.TEST_TABLE_SCHEMAS`` instead of inferring, so building a
  query runs no footer-reading Spark job.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

from .schemas import TEST_TABLE_SCHEMAS

#: Runtime-settable SQL confs applied to *any* session handed to the engine
#: (driver-owned sessions included). Static confs (memory, master, the
#: codegen cache size) are deliberately excluded — those belong to the
#: session builder (``get_spark``) or the cluster manager. Keeping them
#: out is what keeps ``apply_runtime_confs`` from failing: ``conf.set``
#: raises for a static conf on every running session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Parquet written by other tools as TIMESTAMP(NANOS) (pandas/pyarrow
    # output handed to ``jobs`` as input) is rejected by Spark's reader;
    # this reads such columns as epoch-nanos longs instead. The test
    # tables are micros: a nanos one fails at ``load_table``'s scan,
    # where the declared schema says TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The test tables store TIMESTAMP(MICROS) with no timezone
    # annotation, which Spark 4 infers as TIMESTAMP_NTZ by default. Infer
    # it as session-local TimestampType instead (UTC session ⇒ identical
    # epoch values), the type ``schemas.TEST_TABLE_SCHEMAS`` declares,
    # so a plain ``spark.read.parquet`` of a test table agrees with
    # ``load_table``. Timestamp predicates push down to the scan: no
    # cast projection hides them from row-group pruning.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource scans (sources/datasource.py) absorb media_id
    # equality/IN filters to prune fetch partitions — opt-in conf.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Advisory only (AQE coalesces down); sized so a 100 TB shuffle stage
    # still produces ~128 MB post-coalesce partitions.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # Skew-join thresholds pinned to Spark defaults so a query that
    # lowers them to demonstrate runtime skew-splitting at test SF
    # (``aqe_skew_join_rollup``) cannot leak its overrides into the
    # next query — apply_runtime_confs resets them on every build.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5.0",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "false",
    # Runtime bloom-filter join pruning (``bloom_filter_join_prune``)
    # pinned at Spark defaults for the same reason as the skew
    # thresholds above: the demo query lowers the application-side
    # size gate so injection fires at test SF, and apply_runtime_confs
    # must reset it before the next query builds.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
    "spark.sql.autoBroadcastJoinThreshold": "10MB",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime invariants to an existing session.

    Every public query entrypoint calls this, so correctness (UTC dates,
    AQE) does not depend on who built the SparkSession. Also ships the
    engine package to executor Python workers (pandas-UDF / mapInPandas
    stages deserialize functions by module reference).

    Raises ``RuntimeError`` naming every key the session refused, after
    setting the rest: a refused invariant would change results or cost.
    """
    refused = []
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except PySparkException as exc:
            refused.append(f"{key} ({exc.getCondition() or type(exc).__name__})")
    if refused:
        raise RuntimeError("session refused runtime confs: " + ", ".join(refused))
    _ship_package(spark)
    return spark


#: Floor of the streaming state width (see ``stream_state_partitions``;
#: the width rule is ``streaming.pipeline.run_available``'s docstring).
STREAM_SHUFFLE_PARTITIONS = 8

#: Source bytes per state partition for ``stream_state_partitions``.
STREAM_STATE_BYTES_PER_PARTITION = 1 << 30

#: Upper clamp for the derived width — bounds the per-trigger
#: state-store commit fan-out on a real cluster the same way the floor
#: bounds maintenance overhead at test SF.
_STREAM_STATE_MAX_PARTITIONS = 2048


def stream_state_partitions(spark: SparkSession, source=None) -> int:
    """State-partition count for a stream over ``source``: one
    partition per ``STREAM_STATE_BYTES_PER_PARTITION`` (1 GiB) of
    staged input, clamped to [``STREAM_SHUFFLE_PARTITIONS``, 2048]. At
    the bench SFs (MB-scale sources) this floors to 8; a 100 TB
    backfill derives a cluster-scale width instead of serializing on 8
    stores. Why the width follows input bytes is written at
    ``streaming.pipeline.run_available``.

    ``source``: a batch DataFrame over the staged input, or a list of
    them (stream-stream joins pass both sides). Its size comes from the
    plan statistics of the file listing, so no job runs; read it with
    the staged frame's schema (``schemas.as_nullable``) so it costs no
    schema-inference job either. ``None``, or a source without
    statistics, gives the floor.
    """
    if source is None:
        return STREAM_SHUFFLE_PARTITIONS
    frames = source if isinstance(source, (list, tuple)) else [source]
    unknown = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    size = 0
    for df in frames:
        # leaf-relation plan statistics = total file bytes (listing
        # already cached by the schema read every call site does); no
        # job, no scan
        part = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if part >= unknown:
            # a source without statistics (an RDD, a Python data source)
            # reports the ``defaultSizeInBytes`` placeholder: its size is
            # unknown, not huge
            return STREAM_SHUFFLE_PARTITIONS
        size += part
    derived = -(-size // STREAM_STATE_BYTES_PER_PARTITION)  # ceil
    return max(
        STREAM_SHUFFLE_PARTITIONS, min(_STREAM_STATE_MAX_PARTITIONS, derived)
    )


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``wistia_etl_pipeline_spark`` importable on executors via
    ``addPyFile`` (a zip built once per process). Unneeded by pure-JVM
    plans, required by any Python-worker stage: a failure to ship
    raises here rather than as an import error inside a later task,
    and the context is marked shipped only once ``addPyFile`` returns."""
    import tempfile
    import zipfile

    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"wistia_etl_pipeline_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


#: Entries in Spark's generated-class cache (static conf
#: ``spark.sql.codegen.cache.maxEntries``, default 100), sized from
#: measured class counts: one round of the benchmark's eight small
#: queries compiles 116 distinct classes and the first medallion op 24,
#: so the default LRU evicted within a round and every round recompiled
#: 37-63 classes. 2000 holds either workload many times over. It does not
#: hold the whole registry: one pass over all registered queries
#: compiles 4317 distinct classes (sf0.001).
CODEGEN_CACHE_MAX_ENTRIES = 2000


def get_spark(
    app_name: str = "wistia-etl-pipeline-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session for local runs and tests.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 — matches
    the driver's bench harness). ``shuffle_partitions`` defaults to the
    core count: with AQE coalescing enabled, a slightly-high static value
    is strictly better than a low one.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    import tempfile

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # catalog tables (bucketed-join tests) land in a scratch dir,
        # not the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), f"wistia_warehouse_{os.getpid()}"),
            ),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return apply_runtime_confs(builder.getOrCreate())


def arrow_local_df(spark: SparkSession, rows: list[dict], schema):
    """Driver-local rows → DataFrame through ONE Arrow batch.

    ``createDataFrame(list)`` parallelizes into defaultParallelism
    pickled slices, and every downstream job pays a Python-worker
    round-trip PER SLICE to decode them — ~1 s of fixed cost per action
    for a 5-row frame at local[32], and a 1-task ``coalesce`` of such a
    frame replays all slices sequentially (~3.4 s measured). The Arrow
    table instead lands JVM-side as a local scan: no Python workers at
    execution time, partition count = Arrow batch count (small). Use
    for any driver-built frame on a hot path (dim deltas, bronze
    batches); falls back to the pickle path on conversion surprises
    (identical semantics, just slower).

    ``rows`` are dicts keyed by field name (missing keys become nulls,
    extra keys are ignored, same as the ``.get`` tuple path) or tuples
    in field order; ``schema`` is a StructType or a DDL string.
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = [f.name for f in schema.fields]
    if rows and not isinstance(rows[0], dict):
        rows = [dict(zip(names, r)) for r in rows]
    # Narrow fallback (ADVICE r7): a bare except here silently rewrote
    # row-type bugs (e.g. an int where the schema says string) into a
    # permanent hot-path perf regression. Only conversion-shaped errors
    # fall back — and loudly — so a mistyped row surfaces either as the
    # Arrow error in the warning or as the pickle path's own cast.
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
    except ImportError:
        pa = None
    if pa is not None:
        try:
            return spark.createDataFrame(
                pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            )
        except (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError,
                pa.lib.ArrowNotImplementedError, ValueError, TypeError) as exc:
            import warnings

            warnings.warn(
                "arrow_local_df falling back to the pickle path "
                f"({type(exc).__name__}: {str(exc)[:200]}) — fix the row "
                "types; this path is ~10x slower per downstream action",
                stacklevel=2,
            )
    return spark.createDataFrame(
        [tuple(r.get(n) for n in names) for r in rows], schema=schema
    )


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one test table (TESTDATA.md) with its declared schema.

    The schema comes from ``schemas.TEST_TABLE_SCHEMAS``, so the read
    plans without a Spark job (inference reads a file footer in one) and
    stays a plain columnar scan: Catalyst pushes filters and prunes
    columns at the parquet reader, timestamp predicates included. A name
    with no declared schema raises ``ValueError``; there is no inference
    fallback.
    """
    if name not in TEST_TABLE_SCHEMAS:
        raise ValueError(
            f"no declared schema for test table {name!r}; "
            "add it to schemas.TEST_TABLE_SCHEMAS"
        )
    apply_runtime_confs(spark)
    return spark.read.schema(TEST_TABLE_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )
