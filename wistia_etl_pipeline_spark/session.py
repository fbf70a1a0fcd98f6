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


#: State-partition count for the engine's bounded-state streaming
#: demonstrations (env-overridable for cluster sizing). The r9
#: ``statestore_join_state_audit`` lesson, generalized in r12: every
#: micro-batch pays state-store maintenance on EVERY shuffle partition
#: of every stateful operator whether or not it holds data (a
#: stream-stream join keeps 4 stores per partition per side — at 32
#: session partitions that was measured at ~4x the whole query's
#: runtime for kilobytes of state). All of this engine's streaming
#: state is BOUNDED by construction (calendar-grain aggregates,
#: watermark-horizon join buffers, 64-register sketches), so a small
#: state-partition count is the honest production sizing too — the
#: knob scales with state volume, not compute parallelism.
STREAM_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8")
)

#: Source-bytes-per-state-partition target for the data-adaptive
#: derivation below (r13, the VERDICT r12 item): 1 GiB of staged stream
#: input per state partition.
STREAM_STATE_BYTES_PER_PARTITION = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_BYTES_PER_PARTITION", str(1 << 30))
)

#: Upper clamp for the derived width — bounds the per-trigger
#: state-store commit fan-out on a real cluster the same way the floor
#: bounds maintenance overhead at test SF.
_STREAM_STATE_MAX_PARTITIONS = 2048


def stream_state_partitions(spark: SparkSession, source=None) -> int:
    """Data-adaptive state-partition count for stateful streaming
    operators (r13; mirrors ``graph._SMALL_FRONTIER``'s derive-from-data
    rule instead of the r12 constant).

    Why input bytes: every micro-batch pays state-store maintenance on
    EVERY shuffle partition of every stateful operator, so the width
    must track STATE volume, not compute width. The engine's streaming
    state is grain/watermark-bounded, so distinct state keys grow (at
    most linearly, usually far slower) with the staged input — whose
    on-disk size is known from the file listing the stream source has
    already done, i.e. derivable WITHOUT running a job. One state
    partition per ``STREAM_STATE_BYTES_PER_PARTITION`` (1 GiB default)
    of input, clamped to [``STREAM_SHUFFLE_PARTITIONS``, 2048]: at the
    bench SFs (MB-scale sources) this floors to the r12-measured 8 —
    bit-identical bench behavior — while a 100 TB backfill derives a
    cluster-scale width instead of serializing on 8 stores. The env
    var stays the operator override for deployments that know their
    key cardinality (it short-circuits the derivation entirely).

    ``source``: a batch DataFrame over the staged input, a parquet
    path, or a list of paths (stream-stream joins pass both sides).
    ``None`` keeps the static default.
    """
    if os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"):
        return STREAM_SHUFFLE_PARTITIONS
    if source is None:
        return STREAM_SHUFFLE_PARTITIONS
    paths = source if isinstance(source, (list, tuple)) else [source]
    unknown = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    size = 0
    for p in paths:
        df = spark.read.parquet(p) if isinstance(p, str) else p
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


class scoped_shuffle_partitions:
    """Context manager: set ``spark.sql.shuffle.partitions`` for the
    duration of a block and restore it on exit (both paths). Safe under
    the engine's documented sequential-per-session invariant — the same
    try/finally discipline as ``kcore_peel`` and the state-store
    audits. Every action that should run at the scoped width must
    execute INSIDE the block (lazy frames materialized later see the
    restored session value).

    ``source`` (r13): staged stream input (path/DataFrame/list) the
    width is derived from via :func:`stream_state_partitions`; without
    it the static ``STREAM_SHUFFLE_PARTITIONS`` default applies."""

    def __init__(self, spark: SparkSession, n: int | None = None, *, source=None):
        self._spark = spark
        self._n = stream_state_partitions(spark, source) if n is None else n
        self._prev: str | None = None

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
        return False


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``wistia_etl_pipeline_spark`` importable on executors via
    ``addPyFile`` (a zip built once per process). Harmless no-op for
    pure-JVM plans; required for any Python-worker stage."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    try:
        import tempfile
        import zipfile

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
    except Exception:
        pass  # best-effort; plain-JVM queries don't need it


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
