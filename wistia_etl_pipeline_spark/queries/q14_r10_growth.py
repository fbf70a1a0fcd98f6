"""r10 growth waves: twelve unprobed Spark 3.5/4 surfaces, each with a
DuckDB oracle (VERDICT r9 #6).

Wave 1:

1. ``udtf_polymorphic_tokens`` — a Python UDTF whose OUTPUT SCHEMA is
   computed at analyze time from a constant argument (analyze-time
   polymorphism), run under LATERAL — the registry's first UDTF entry
   (``tests/test_udtf.py`` covered eval/terminate only).
2. ``bitmap_index_surface`` — the native ``bitmap_construct_agg`` /
   ``bitmap_or_agg`` / ``bitmap_and_agg`` / ``bitmap_count`` family:
   EXACT distinct counting over dense integer ids via 32k-bit bucket
   bitmaps (the precise counterpart of the approximate HLL/theta
   anchors — and unlike them, fully hash-pinnable).
3. ``foreachbatch_replay_exactly_once`` — the exactly-once CONTRACT of
   foreachBatch demonstrated the honest way: force the crash window
   (batch ran, commit never written) by deleting the checkpoint's last
   commit marker, restart, and prove the idempotent sink absorbed the
   replay.

Wave 2:

4. ``sql_exec_immediate_identifier`` — EXECUTE IMMEDIATE over a
   statement carried in a session variable, IDENTIFIER()-bound table
   name, named USING parameter, GROUP BY ALL.
5. ``udtf_table_argument_rollup`` — UDTF TABLE(...) argument with
   PARTITION BY / ORDER BY: the custom per-key batch stateful
   operator, proven order-sensitive (total variation).
6. ``statestore_change_feed_audit`` — the state source's
   ``readChangeFeed`` mode: the per-batch changelog of an
   aggregation's state, with order-independent contracts.

Wave 3:

7. ``rocksdb_statestore_audit`` — the aggregation-state audit on the
   PRODUCTION state backend (RocksDBStateStoreProvider + changelog
   checkpointing), backend pinned by its on-disk artifacts.
8. ``dataframe_transpose_surface`` — DataFrame.transpose: index values
   become columns; aggregate-first-then-transpose as the rule.
9. ``grouped_apply_in_arrow_median`` — grouped ``applyInArrow`` (the
   eighth Python-worker surface): exact lower/upper medians per group
   on raw Arrow buffers.

Wave 4:

10. ``session_window_dynamic_gap`` — per-row gapDuration expression;
    the running-max-end merge semantics pinned by replay.
11. ``chained_windowed_aggregation`` — two time-window aggregations in
    one streaming query via ``window_time`` (multi-stateful, append
    mode, sentinel-flushed finality).
12. ``sql_pivot_unpivot_syntax`` — the SQL PIVOT/UNPIVOT clauses,
    round-tripped with INCLUDE NULLS.

Mechanically follows the chunk contract in ``queries/_base.py``;
semantic invariants pinned in ``tests/test_r10_growth.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import as_nullable
from ..session import load_table
from ..streaming.pipeline import run_available
from ..streaming.staging import stamp_name_order
from ._base import query

# ---------------------------------------------------------------------------
# 1. analyze-time polymorphic Python UDTF under LATERAL

_UDTF_ORACLE = """
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, l[1] AS tok0, l[2] AS tok1, l[3] AS tok2,
           CAST(len(l) AS BIGINT) AS n_tokens
    FROM s
"""


@query("udtf_polymorphic_tokens", oracle=_UDTF_ORACLE)
def udtf_polymorphic_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON UDTF WITH ANALYZE-TIME POLYMORPHISM — the output schema
    is not declared; it is COMPUTED by the UDTF's static ``analyze``
    from the constant ``k`` argument (``tok0..tok{k-1}`` plus
    ``n_tokens``), the Spark 4 mechanism that lets one function serve
    many shapes (pivot-like explosions, header-driven parsers) without
    per-shape registrations. ``analyze`` also ENFORCES the constancy
    contract: a non-foldable ``k`` is rejected at plan time, not
    discovered as a runtime shape error. The UDTF is Arrow-optimized
    (``useArrow=True`` — batched columnar transfer, not pickled rows),
    and the split uses the single-space rule so the DuckDB
    ``string_split`` replay is exact, missing positions NULL on both
    engines.

    Shape at 100 TB: a UDTF is a generator in the plan — zero shuffle
    at the call site, parallel per partition; the Python-worker hop is
    the cost (Arrow-batched here), so built-in generators
    (explode/variant_explode) stay preferred when they can express the
    shape — this surface is for when the schema itself is data-driven.
    Registered under a uuid name: UDTF registration is session-shared
    state (the temp-view naming rule applies)."""
    import uuid

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType

    class SplitHead:
        @staticmethod
        def analyze(text, k):
            from pyspark.sql.udtf import AnalyzeResult

            if not k.isConstantExpression or k.value is None:
                raise ValueError("k must be a non-null constant")
            schema = StructType()
            for i in range(int(k.value)):
                schema = schema.add(f"tok{i}", StringType())
            return AnalyzeResult(schema=schema.add("n_tokens", LongType()))

        def eval(self, text: str, k: int):
            if text is None:
                # NULL-robust regardless of whether the outer
                # `WHERE text IS NOT NULL` is pushed below the LATERAL
                # generate (r10 ADVICE): a NULL row yields nothing
                # rather than dying in the Python worker.
                return
            toks = text.split(" ")
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(k)
            ) + (len(toks),)

    u = uuid.uuid4().hex[:8]
    spark.udtf.register(f"split_head_{u}", udtf(SplitHead, useArrow=True))
    view = f"docs_udtf_{u}"
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT d.doc_id, t.tok0, t.tok1, t.tok2, t.n_tokens
        FROM {view} d, LATERAL split_head_{u}(d.text, 3) t
        WHERE d.text IS NOT NULL
    """)


# ---------------------------------------------------------------------------
# 2. native bitmap index family — exact distinct counting, hash-pinned

_BITMAP_NATIVE_ORACLE = """
    WITH b AS (
        SELECT event_type, user_id,
               MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS in_e,
               MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS in_o
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS distinct_users,
           CAST(SUM(in_e * in_o) AS BIGINT) AS both_parity_users
    FROM b GROUP BY event_type
"""


@query("bitmap_index_surface", oracle=_BITMAP_NATIVE_ORACLE)
def bitmap_index_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE BITMAP FAMILY — ``bitmap_bucket_number`` /
    ``bitmap_bit_position`` / ``bitmap_construct_agg`` /
    ``bitmap_or_agg`` / ``bitmap_and_agg`` / ``bitmap_count``: EXACT
    distinct counting over dense integer ids via 32,768-bit bucket
    bitmaps. The from-scratch twin (``bitmap_retention_rollup``) builds
    the same algebra out of bit_or/bit_count on longs; THIS is the
    built-in a deployment should reach for — and unlike the HLL /
    theta / KLL anchors, bitmaps are deterministic, so the whole
    pipeline is hash-pinned, no accuracy-flag indirection.

    The plan exercises every member: per (event_type, parity, shard,
    bucket) construct → OR-merge across shards (the daily-rollup merge
    path) → AND across the two parity bitmaps (audience intersection —
    the op HLL cannot do) guarded by a both-sides-present count so a
    parity-one-sided bucket contributes 0, not a copy of the lone side
    (the theta lesson applied at the bucket grain) → bitmap_count →
    one final rollup. Set algebra is per-bucket; sums over buckets are
    exact because buckets partition the id domain.

    Shape at 100 TB: bitmap state is 4 KB per bucket — dense-domain
    exact distincts cost O(domain/32768) mergeable cells per group,
    combine map-side, and persist as binary columns (the same
    daily-state rollup algebra as the sketch anchors, but exact);
    sparse/huge domains are where HLL takes over."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    per_shard = (
        ev.select(
            "event_type",
            (F.col("event_id") % 2).alias("par"),
            (F.col("event_id") % 8).alias("shard"),
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "par", "shard", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    per_parity = per_shard.groupBy("event_type", "par", "bkt").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    per_bucket = per_parity.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("union_cnt"),
        F.when(
            F.count(F.lit(1)) == 2,
            F.expr("bitmap_count(bitmap_and_agg(bm))"),
        )
        .otherwise(F.lit(0))
        .alias("both_cnt"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("union_cnt").cast("long").alias("distinct_users"),
        F.sum("both_cnt").cast("long").alias("both_parity_users"),
    )


# ---------------------------------------------------------------------------
# 3. foreachBatch exactly-once: forced replay of the crash window

_FB_REPLAY_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
               AS s_micro,
           CAST(3 AS BIGINT) AS n_batches,
           CAST(1 AS BIGINT) AS last_batch_ran_twice
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
"""


@query("foreachbatch_replay_exactly_once", oracle=_FB_REPLAY_ORACLE)
def foreachbatch_replay_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FOREACHBATCH EXACTLY-ONCE, demonstrated at the actual failure
    boundary: Structured Streaming guarantees foreachBatch AT-LEAST-
    once — a batch that ran but whose commit marker never landed is
    RE-EXECUTED on restart, and end-to-end exactly-once is the SINK's
    job (idempotency per batchId). Most demos assert this contract;
    this query FORCES it: run a 3-batch stream to completion, delete
    the checkpoint's last commit marker (the crash-after-side-effect /
    before-commit window, made deterministic), restart, and let Spark
    replay the final batch. The sink is idempotent by construction —
    each batch OVERWRITES its own ``batch_id=N`` partition, and the
    replayed batch is byte-identical because the offsets log pins its
    input files — so the final table equals the one-shot batch
    recompute exactly. ``last_batch_ran_twice`` pins that the replay
    REALLY happened (the batch id observed twice across the two runs);
    ``n_batches`` pins the 3-batch split.

    This is the streaming-sink half of the idempotency story:
    ``streaming_dedup_ingest`` absorbs duplicate INPUT rows,
    ``merge_upsert_acid`` absorbs re-run MERGES; this absorbs re-run
    BATCHES — the one failure mode unique to the checkpoint protocol.

    Shape at 100 TB: partition-overwrite-by-batchId is the cheapest
    idempotent sink (no read-modify-write, no dedup state); the replay
    cost is one micro-batch, never the stream's history. The driver
    list ``seen`` holds batch IDs only — control-plane state."""
    import glob
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_fb_replay_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ck = os.path.join(root, "ck")
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    staged = ev.select(
        "event_type",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("m"),
    )
    staged.repartition(3).write.parquet(src)
    schema = as_nullable(staged.schema)

    seen: list[int] = []

    def sink_batch(bdf: DataFrame, bid: int) -> None:
        seen.append(int(bid))
        (
            bdf.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("m").alias("s_micro"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(sink, f"batch_id={bid}"))
        )

    def run() -> None:
        run_available(
            spark,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink_batch),
            ck,
            spark.read.schema(schema).parquet(src),
        )

    run()
    commits = sorted(
        p
        for p in glob.glob(os.path.join(ck, "commits", "*"))
        if os.path.basename(p).isdigit()
    )
    last = int(os.path.basename(commits[-1]))
    os.remove(commits[-1])  # the crash window: batch ran, commit didn't
    # The local filesystem is Hadoop ChecksumFs: every commit file has a
    # hidden .N.crc sibling, and a leftover one makes the replay's
    # rename-based rewrite fail (Spark misreports it as a concurrent
    # checkpoint user) — a real crash would have lost both together.
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run()

    ran_twice = seen.count(last) >= 2
    out = spark.read.parquet(sink)
    return (
        out.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s_micro").cast("long").alias("s_micro"),
        )
        .withColumn(
            "n_batches", F.lit(len(set(seen))).cast("long")
        )
        .withColumn(
            "last_batch_ran_twice", F.lit(int(ran_twice)).cast("long")
        )
    )


# ---------------------------------------------------------------------------
# wave 2: dynamic SQL, UDTF table arguments, state change feed

_EXEC_IMM_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
               AS s_micro
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
"""


@query("sql_exec_immediate_identifier", oracle=_EXEC_IMM_ORACLE)
def sql_exec_immediate_identifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC SQL DONE SAFELY — ``EXECUTE IMMEDIATE`` running a
    statement CARRIED IN A SESSION VARIABLE, with the table name bound
    through the ``IDENTIFIER()`` clause and the scale bound as a named
    ``USING`` parameter: the three Spark 4 front-ends that together
    replace f-string SQL assembly (the injection-prone warehouse
    idiom) — identifiers go through IDENTIFIER (parsed as a NAME,
    never spliceable text), scalars go through parameter markers
    (parsed as constants, so folding still applies), and the statement
    itself is versioned server-side in a variable. The dynamic
    statement also uses ``GROUP BY ALL`` (grouping keys inferred from
    the non-aggregate select list — the refactor-safe spelling); the
    oracle is the fully static classic form, so the hash proves
    dynamic == static.

    Scale note: all of this is control-plane — the resolved plan is
    byte-identical to the static query's; nothing moves on the
    cluster differently."""
    import uuid

    u = uuid.uuid4().hex[:8]
    view = f"ev_exec_{u}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    spark.sql(f"DECLARE OR REPLACE VARIABLE stmt_{u} STRING")
    spark.sql(f"""SET VAR stmt_{u} = '
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(value * :scale) AS BIGINT)) AS BIGINT)
                   AS s_micro
        FROM IDENTIFIER(:t) WHERE value IS NOT NULL
        GROUP BY ALL'""")
    return spark.sql(
        f"EXECUTE IMMEDIATE stmt_{u} USING '{view}' AS t, 1000000 AS scale"
    )


_UDTF_TABLE_ARG_ORACLE = """
    WITH v AS (
        SELECT event_type, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL
    ),
    d AS (
        SELECT event_type, m,
               lag(m) OVER (PARTITION BY event_type ORDER BY event_id)
                   AS prev
        FROM v
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN prev IS NULL THEN 0
                         ELSE abs(m - prev) END) AS BIGINT)
               AS total_variation
    FROM d GROUP BY event_type
"""


@query("udtf_table_argument_rollup", oracle=_UDTF_TABLE_ARG_ORACLE)
def udtf_table_argument_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF TABLE ARGUMENT with PARTITION BY / ORDER BY — the second
    half of the UDTF surface (``udtf_polymorphic_tokens`` covers
    scalar args): ``f(TABLE(t) PARTITION BY k ORDER BY o)`` hands the
    UDTF one PARTITION of rows per instance, ORDERED, with per-group
    state accumulated across ``eval`` calls and emitted from
    ``terminate`` — Spark's custom per-key BATCH stateful operator,
    the batch twin of applyInPandasWithState. The kernel computes the
    per-event_type TOTAL VARIATION (Σ|mᵢ − mᵢ₋₁| over the event_id
    order): genuinely order-sensitive — any wrong or unstable ORDER BY
    delivery flips the hash — and event_id is unique, so the order is
    tie-free (the max_by determinism rule). The oracle replays it with
    a window lag.

    Shape at 100 TB: one shuffle on the partition key + an in-partition
    sort — the same exchange bill as the window-function plan the
    oracle uses; groups must fit one Python worker's stream (rows are
    iterated, not materialized). Prefer window functions when the
    statistic is expressible (this one is — the query exists to pin
    the surface); the table-arg UDTF is for folds SQL can't write."""
    import uuid

    from pyspark.sql.functions import udtf

    class TotalVariation:
        def __init__(self):
            self.key = None
            self.n = 0
            self.tv = 0
            self.prev = None

        def eval(self, row):
            self.key = row["event_type"]
            self.n += 1
            if self.prev is not None:
                self.tv += abs(row["m"] - self.prev)
            self.prev = row["m"]

        def terminate(self):
            if self.n:
                yield self.key, self.n, self.tv

    u = uuid.uuid4().hex[:8]
    spark.udtf.register(
        f"tv_{u}",
        udtf(
            TotalVariation,
            returnType=(
                "event_type string, n bigint, total_variation bigint"
            ),
        ),
    )
    view = f"ev_tv_{u}"
    load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("m"),
    ).createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT * FROM tv_{u}(
            TABLE({view}) PARTITION BY event_type ORDER BY event_id
        )
    """)


_CHANGE_FEED_ORACLE = """
    WITH agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_final,
               CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS s_final,
               CAST(COUNT(DISTINCT event_id % 4) AS BIGINT)
                   AS n_update_batches
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_final, s_final, n_update_batches,
           CAST(1 AS BIGINT) AS updates_only
    FROM agg
"""


@query("statestore_change_feed_audit", oracle=_CHANGE_FEED_ORACLE)
def statestore_change_feed_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATE CHANGE FEED — the third read mode of the State Data Source
    (``statestore_reader_audit`` reads the LATEST snapshot;
    ``statestore_join_state_audit`` reads join sides; THIS reads the
    PER-BATCH CHANGELOG via ``readChangeFeed=true, changeStartBatchId=0``):
    every (batch_id, change_type, key, value) the aggregation state
    went through — how a deployment debugs WHEN a key's state went
    wrong, not just what it ends at.

    The stream is 4 deterministic micro-batches (the source files are
    written one per event_id%4 class, maxFilesPerTrigger=1). Contract,
    all ORDER-independent so no batch-sequencing assumption leaks in:
    per key, the change row with MAX batch_id must carry the FULL
    recompute (a key's last update includes every earlier batch's rows
    by definition of running aggregation state); the number of update
    rows per key == the number of %4 classes the key appears in
    (a batch touches a key iff it holds the key's rows); and a
    compaction-free streaming agg emits ONLY 'update' changes
    (updates_only flag — evictions would appear as deletes).

    Shape at 100 TB: the changelog read is partition-parallel over the
    checkpoint's delta files — auditing N batches of a million-key
    stream costs the changed keys, never the stream history; it is the
    state-store analogue of a CDC table scan."""
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_change_feed_")
    src = os.path.join(root, "src")
    ck = os.path.join(root, "ck")
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    micro = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("m"),
    )
    for i in range(4):
        micro.where(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = as_nullable(micro.schema)
    # the statestore/changelog readers take numPartitions from
    # checkpoint metadata
    run_available(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("m").alias("s"),
        )
        .writeStream.outputMode("complete")
        .format("noop"),
        ck,
        spark.read.schema(schema).parquet(src),
    )
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(ck)
        .select(
            F.col("key.event_type").alias("event_type"),
            "batch_id",
            "change_type",
            F.col("value.count").alias("n"),
            F.col("value.sum").alias("s"),
        )
    )
    return feed.groupBy("event_type").agg(
        F.max_by("n", "batch_id").cast("long").alias("n_final"),
        F.max_by("s", "batch_id").cast("long").alias("s_final"),
        F.count(F.lit(1)).cast("long").alias("n_update_batches"),
        F.min((F.col("change_type") == "update").cast("long")).alias(
            "updates_only"
        ),
    )


# ---------------------------------------------------------------------------
# wave 3: RocksDB state backend, DataFrame.transpose, grouped applyInArrow

_ROCKSDB_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS s,
           'stateStoreSave' AS operator_name,
           CAST(1 AS BIGINT) AS multi_batch,
           CAST(1 AS BIGINT) AS rocksdb_changelog_present
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
"""


@query("rocksdb_statestore_audit", oracle=_ROCKSDB_ORACLE)
def rocksdb_statestore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCKSDB STATE STORE BACKEND — the same aggregation-state audit as
    ``statestore_reader_audit``, run on the PRODUCTION state backend:
    ``RocksDBStateStoreProvider`` with CHANGELOG CHECKPOINTING. The
    default HDFS-backed provider keeps every key in executor JVM heap —
    fine for KB of state, fatal for the 100-TB deployments where
    streaming state reaches tens of GB per executor; RocksDB holds
    state off-heap/on-disk and changelog checkpointing uploads per-batch
    DELTAS instead of full snapshots (the r9 join-state lesson — state
    store maintenance cost — attacked at the backend layer instead of
    the partition-count layer).

    The contract is engine parity ACROSS BACKENDS: the (count, sum)
    buffers read back through the state source must equal the batch
    recompute exactly — switching the provider must never change a
    value. The backend is pinned honestly, not self-asserted: the
    checkpoint's state directory must contain RocksDB ``.changelog``
    files (the HDFS provider writes ``.delta``/``.snapshot``; only
    RocksDB-with-changelog writes these). Provider confs are restored
    in a ``finally``; the state rows (key-count-sized — 5 here) are
    materialized BEFORE the restore so the returned DataFrame does not
    depend on session state at a later materialization time.

    Shape at 100 TB: RocksDB + changelog checkpointing is the knob
    that makes million-key streaming state practical — snapshot upload
    drops from O(state) to O(changed keys) per batch, and the state
    source audit path is identical, so operational tooling carries
    over unchanged."""
    import glob
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_rocksdb_")
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ck")
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    staged = ev.select("event_type", "value")
    staged.repartition(4).write.parquet(src)
    schema = as_nullable(staged.schema)

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    log_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    prev_prov = spark.conf.get(prov_key, None)
    prev_log = spark.conf.get(log_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set(log_key, "true")
    try:
        # one RocksDB instance opens per state partition per trigger
        run_available(
            spark,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.expr("CAST(floor(value * 1000000) AS BIGINT)")
                ).alias("s"),
            )
            .writeStream.outputMode("complete")
            .format("noop"),
            ckpt,
            spark.read.schema(schema).parquet(src),
        )
        meta = (
            spark.read.format("state-metadata")
            .load(ckpt)
            .select("operatorName", (F.col("maxBatchId") >= 1).alias("mb"))
            .collect()[0]
        )
        state_rows = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").alias("n"),
                F.col("value.sum").alias("s"),
            )
            .collect()
        )
    finally:
        if prev_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev_prov)
        if prev_log is None:
            spark.conf.unset(log_key)
        else:
            spark.conf.set(log_key, prev_log)

    changelogs = glob.glob(
        os.path.join(ckpt, "state", "0", "*", "*.changelog")
    )
    return spark.createDataFrame(
        [
            (
                r["event_type"],
                r["n"],
                r["s"],
                meta["operatorName"],
                int(meta["mb"]),
                int(bool(changelogs)),
            )
            for r in state_rows
        ],
        "event_type string, n long, s long, operator_name string, "
        "multi_batch long, rocksdb_changelog_present long",
    )


_TRANSPOSE_ORACLE = """
    WITH a AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS s
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
    )
    SELECT 'n' AS key,
           (SELECT n FROM a WHERE event_type = 'click') AS "click",
           (SELECT n FROM a WHERE event_type = 'error') AS "error",
           (SELECT n FROM a WHERE event_type = 'purchase') AS "purchase",
           (SELECT n FROM a WHERE event_type = 'signup') AS "signup",
           (SELECT n FROM a WHERE event_type = 'view') AS "view"
    UNION ALL
    SELECT 's_micro',
           (SELECT s FROM a WHERE event_type = 'click'),
           (SELECT s FROM a WHERE event_type = 'error'),
           (SELECT s FROM a WHERE event_type = 'purchase'),
           (SELECT s FROM a WHERE event_type = 'signup'),
           (SELECT s FROM a WHERE event_type = 'view')
"""


@query("dataframe_transpose_surface", oracle=_TRANSPOSE_ORACLE)
def dataframe_transpose_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATAFRAME.TRANSPOSE (Spark 4) — rows↔columns flip with the index
    column's VALUES becoming the output column names (here the five
    event types) and each remaining metric column becoming a row keyed
    by its name in the ``key`` column. The metrics report / wide-to-tall
    dashboard shape, done by the engine instead of a driver-side pandas
    pivot. Two contracts ride the hash: the emitted column set IS the
    index value set (a missing/extra event type changes the schema, not
    just values — DuckDB's scalar-subquery long form replays it), and
    both metric rows keep exact integer values through the flip
    (transpose requires a common value type — two BIGINTs here; mixing
    types would silently widen).

    Shape at 100 TB: transpose materializes one column per index VALUE
    — it is a small-result operator by contract (the input here is the
    5-row aggregate, never the raw table); transposing a high-cardinality
    index is the same anti-pattern as an unbounded pivot, and the
    aggregate-first-then-transpose order in this query is the rule."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)"))
        .cast("long")
        .alias("s_micro"),
    )
    return agg.transpose()


_GROUPED_ARROW_ORACLE = """
    WITH v AS (
        SELECT event_type, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, m,
               row_number() OVER (PARTITION BY event_type ORDER BY m) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM v
    )
    SELECT event_type,
           CAST(MAX(cnt) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (cnt - 1) // 2 + 1 THEN m END) AS BIGINT)
               AS lo_median,
           CAST(MAX(CASE WHEN rn = cnt // 2 + 1 THEN m END) AS BIGINT)
               AS hi_median,
           CAST(SUM(m) AS BIGINT) AS s
    FROM r GROUP BY event_type
"""


@query("grouped_apply_in_arrow_median", oracle=_GROUPED_ARROW_ORACLE)
def grouped_apply_in_arrow_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED ``applyInArrow`` — the eighth Python-worker surface,
    completing the Arrow grouped-map matrix (pandas grouped / pandas
    cogrouped / Arrow cogrouped were covered; this is the single-sided
    Arrow grouped-map): one key's rows arrive as a raw ``pyarrow.Table``
    (no pandas Block consolidation) and the kernel computes the exact
    LOWER and UPPER medians — sorted-array order statistics, the
    canonical "needs the whole group materialized" statistic — plus
    count and sum as self-checks. Tie-stable (a sorted multiset's
    rank values are unique no matter how equal values order), hence
    cross-engine deterministic; the oracle replays with a row_number
    window.

    Shape at 100 TB: one shuffle on the group key, groups must fit one
    Python worker (grouped-map contract); when the statistic
    decomposes (count/sum/median-via-sketch) built-ins win — this
    surface is for holistic per-group computations, and the exact
    median here is the honest example (contrast
    ``percentile_engagement``'s sort-based exact and
    ``kll_quantile_anchor``'s mergeable sketch: three cost tiers of
    the same question)."""
    import pyarrow as pa

    def kernel(tbl: pa.Table) -> pa.Table:
        import numpy as np

        v = np.sort(tbl.column("m").to_numpy(zero_copy_only=False))
        k = tbl.column("event_type")[0].as_py()
        n = len(v)
        return pa.table(
            {
                "event_type": pa.array([k], pa.string()),
                "n": pa.array([n], pa.int64()),
                "lo_median": pa.array([int(v[(n - 1) // 2])], pa.int64()),
                "hi_median": pa.array([int(v[n // 2])], pa.int64()),
                "s": pa.array([int(v.sum())], pa.int64()),
            }
        )

    micro = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("m"),
        )
    )
    return micro.groupBy("event_type").applyInArrow(
        kernel,
        "event_type string, n long, lo_median long, hi_median long, s long",
    )


# ---------------------------------------------------------------------------
# wave 4: dynamic-gap sessions, chained windowed aggregation, SQL PIVOT

_DYN_GAP_ORACLE = """
    WITH v AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN event_type = 'error' THEN 300000000
                    ELSE 1800000000 END AS gap_us
        FROM events WHERE user_id IS NOT NULL
    ),
    o AS (
        SELECT user_id, us, gap_us,
               MAX(us + gap_us) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM v
    ),
    s AS (
        SELECT user_id, us, gap_us,
               CASE WHEN prev_end IS NULL OR us > prev_end
                    THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    sid AS (
        SELECT user_id, us, gap_us,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess
        FROM s
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us + gap_us) AS BIGINT) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sid GROUP BY user_id, sess
"""


@query("session_window_dynamic_gap", oracle=_DYN_GAP_ORACLE)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION WINDOWS WITH A PER-ROW GAP — ``session_window``'s
    gapDuration as an EXPRESSION (Spark 3.2+, unprobed here until now):
    an error event holds its session open 5 minutes, everything else
    30 — the adaptive-timeout sessionization real clickstreams use
    (cheap events shouldn't keep sessions alive as long as meaningful
    ones). Semantics pinned by the oracle replay AND a boundary unit
    test (measured, not assumed): a session is the union of
    overlapping [ts, ts+gap(ts)] intervals where an event starting
    EXACTLY at the running maximum end still MERGES (boundary-
    inclusive — only ts strictly beyond the running end opens a new
    session), and the session end is the running MAX of ts+gap — NOT
    last-event ts + its gap (a small-gap event can end before an
    earlier large-gap one; the replay's windowed cumulative max
    encodes exactly this).

    Contrast ``session_rollup_events`` (fixed gap) and
    ``sessionize_events`` (hand-built gaps-and-islands): this is the
    built-in operator's full-strength form.

    Shape at 100 TB: one shuffle on user_id + an in-partition sort —
    identical exchange bill to the fixed-gap form; the gap expression
    rides WholeStageCodegen. Session merge state is per-key bounded."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
        )
    )


_CHAINED_WINDOW_ORACLE = """
    WITH v AS (
        SELECT event_type, epoch_us(ts) AS us FROM events
        WHERE user_id IS NOT NULL
    ),
    d AS (
        SELECT event_type, us // 86400000000 AS day_idx,
               COUNT(*) AS n
        FROM v GROUP BY event_type, day_idx
    ),
    w AS (
        SELECT event_type,
               ((day_idx + 1) * 86400000000 - 1) // 604800000000 AS week_idx,
               n
        FROM d
    )
    SELECT event_type,
           CAST(week_idx * 604800000000 AS BIGINT) AS week_start_us,
           CAST(MAX(n) AS BIGINT) AS max_daily,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM w GROUP BY event_type, week_idx
"""


@query("chained_windowed_aggregation", oracle=_CHAINED_WINDOW_ORACLE)
def chained_windowed_aggregation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED STATEFUL OPERATORS — two time-window aggregations in ONE
    streaming query (Spark 3.5 multi-stateful support): daily event
    counts (first stateful agg) re-windowed through ``window_time()``
    into 7-day windows of MAX-daily / total (second stateful agg),
    append mode, one watermark driving both state stores. This is the
    dashboard-rollup chain (minute→hour→day) that previously required
    two queries with an intermediate sink; ``window_time`` (window end
    − 1 µs) is the function that makes a window struct re-windowable.

    Finality is handled the honest way: append mode only emits a
    window once the watermark passes its end, so after the data files
    are fully processed a SECOND run against the same checkpoint
    ingests one far-future sentinel row (event_type 'zz_flush',
    +30 days), advancing the watermark past every real window —
    deterministic, because run 1's offsets log pins which files it saw.
    The sentinel's own groups are dropped from the result; the oracle
    replays both window layers with integer-microsecond arithmetic
    (epoch-aligned 1-day and 7-day buckets, the −1 µs window_time
    rule).

    Shape at 100 TB: the first agg's output is day×type grain — the
    second stateful operator's input is already tiny; one watermark
    bounds both stores' retention. The file-sink append log keeps the
    output exactly-once across the two runs."""
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="wistia_chained_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ck = os.path.join(root, "ck")
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    micro = ev.select("event_type", "ts")
    micro.repartition(4).write.parquet(src)
    stamp_name_order(src)  # same micro-batches on every run
    schema = as_nullable(micro.schema)
    max_ts = micro.agg(F.max("ts")).collect()[0][0]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    daily = stream.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    weekly = daily.groupBy(
        F.window(F.window_time("w"), "7 days").alias("w7"), "event_type"
    ).agg(
        F.max("n").alias("max_daily"),
        F.sum("n").alias("total_events"),
    ).select(
        "event_type",
        F.unix_micros("w7.start").alias("week_start_us"),
        "max_daily",
        "total_events",
    )

    def run_once() -> None:
        # the second run resumes the checkpoint, whose offset metadata
        # keeps the first run's state width
        run_available(
            spark,
            weekly.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink),
            ck,
            spark.read.schema(schema).parquet(src),
        )

    run_once()
    # The flush sentinel lands in a SECOND file-source discovery, so
    # run 1's watermark never jumps ahead of real data (a sentinel in
    # the first run could race the listing order and late-drop rows).
    spark.createDataFrame(
        [("zz_flush",)], "event_type string"
    ).withColumn(
        "ts", F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")
    ).write.mode("append").parquet(src)
    run_once()

    return (
        spark.read.schema(weekly.schema)
        .parquet(sink)
        .where(F.col("event_type") != "zz_flush")
        .select(
            "event_type",
            "week_start_us",
            F.col("max_daily").cast("long").alias("max_daily"),
            F.col("total_events").cast("long").alias("total_events"),
        )
    )


_PIVOT_SQL_ORACLE = """
    WITH g AS (
        SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS n
        FROM events WHERE user_id IS NOT NULL
        GROUP BY bucket, event_type
    ),
    b AS (
        SELECT DISTINCT user_id % 10 AS bucket FROM events
        WHERE user_id IS NOT NULL
    ),
    t AS (
        SELECT UNNEST(['click','error','purchase','signup','view'])
            AS metric
    )
    SELECT b.bucket, t.metric,
           CAST(COALESCE(g.n, 0) AS BIGINT) AS n
    FROM b CROSS JOIN t
    LEFT JOIN g ON g.bucket = b.bucket AND g.event_type = t.metric
"""


@query("sql_pivot_unpivot_syntax", oracle=_PIVOT_SQL_ORACLE)
def sql_pivot_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT / UNPIVOT CLAUSES — the SQL front-end twins of the
    DataFrame ``pivot`` / ``unpivot`` already covered
    (``pivot_event_counts``, ``unpivot_daily_metrics``): a PIVOT with
    an EXPLICIT value list (the only form — SQL needs column names at
    parse time; the DataFrame API's implicit-values pivot pays a
    distinct-scan first), immediately UNPIVOTed back to long form with
    ``INCLUDE NULLS`` + COALESCE so missing (bucket, type) combos
    round-trip as 0 rather than vanishing (UNPIVOT drops NULL rows by
    default — the silent-row-loss footgun this query pins). Hash ==
    the plain GROUP BY over the dense bucket×type grid.

    Shape at 100 TB (measured plan, pinned in test_plans): PIVOT with
    an explicit IN list is a TWO-level aggregate — count at (group,
    pivot-key) grain, then pivotfirst at group grain, the second
    exchange carrying already-aggregated rows — and, unlike the
    implicit-values DataFrame pivot, NO distinct-values pre-scan job;
    UNPIVOT is a generator (Expand), shuffle-free."""
    import uuid

    view = f"ev_pivot_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT bucket, metric, CAST(COALESCE(val, 0) AS BIGINT) AS n
        FROM (
            SELECT * FROM (
                SELECT user_id % 10 AS bucket, event_type
                FROM {view} WHERE user_id IS NOT NULL
            )
            PIVOT (COUNT(*) FOR event_type IN
                   ('click' AS click, 'error' AS error,
                    'purchase' AS purchase, 'signup' AS signup,
                    'view' AS view))
        )
        UNPIVOT INCLUDE NULLS (
            val FOR metric IN (click, error, purchase, signup, view)
        )
    """)
