"""ST1-ST6: incremental file discovery via checkpoint, streaming dedup,
idempotent foreachBatch merge, windowed rollup."""

from __future__ import annotations

import json
from collections import Counter

import pytest

from wistia_etl_pipeline_spark.streaming.pipeline import (
    deduped_silver_stream,
    read_bronze_stream,
    run_silver_stream,
    streaming_daily_rollup,
)


def _event(key, ts, pv=0.5, visitor="v1"):
    return {
        "event_key": key, "received_at": ts, "percent_viewed": pv,
        "embed_url": "e", "email": None, "ip": "1",
        "user_agent_details": {"browser": "FF", "browser_version": "1",
                               "platform": "l", "mobile": False},
        "visitor_key": visitor, "country": "US", "region": "CA", "city": "SF",
        "lat": 1.0, "lon": 2.0, "org": None, "media_id": "m1", "media_name": "D",
    }


def _write_jsonl(path, events):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(e) for e in events))


def test_stream_merge_resume_and_dedup(spark, tmp_path):
    bronze = tmp_path / "bronze"
    target = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    _write_jsonl(bronze / "f1.json", [
        _event("e1", "2024-01-01T10:00:00Z"),
        _event("e2", "2024-01-01T11:00:00Z"),
        _event("e2", "2024-01-01T11:00:00Z"),  # in-file replay
    ])
    q = run_silver_stream(spark, str(bronze), target, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(target)
    assert {r.event_key for r in got.collect()} == {"e1", "e2"}
    assert got.count() == 2

    # second run: one new file with an overlap; checkpoint skips f1,
    # MERGE keeps the table converged (no dup for e2)
    _write_jsonl(bronze / "f2.json", [
        _event("e2", "2024-01-01T11:00:00Z"),  # cross-run replay
        _event("e3", "2024-01-01T12:00:00Z"),
    ])
    q = run_silver_stream(spark, str(bronze), target, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(target)
    assert {r.event_key for r in got.collect()} == {"e1", "e2", "e3"}
    assert got.count() == 3

    # third run with nothing new: a no-op, table unchanged (idempotent)
    q = run_silver_stream(spark, str(bronze), target, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 3


def test_streaming_daily_rollup(spark, tmp_path):
    bronze = tmp_path / "bronze"
    _write_jsonl(bronze / "f1.json", [
        _event("e1", "2024-01-01T10:00:00Z", pv=0.0, visitor="a"),
        _event("e2", "2024-01-01T11:00:00Z", pv=1.0, visitor="b"),
        _event("e3", "2024-01-02T09:00:00Z", pv=0.5, visitor="a"),
    ])
    stream = deduped_silver_stream(read_bronze_stream(spark, str(bronze)))
    rollup = streaming_daily_rollup(stream, watermark_delay=None)  # already watermarked
    q = (
        rollup.writeStream.format("memory")
        .queryName("gold_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r.dt): r for r in spark.sql("select * from gold_stream").collect()}
    assert rows["2024-01-01"].load_count == 2
    assert rows["2024-01-01"].play_count == 1
    assert rows["2024-01-01"].visitors == 2
    assert rows["2024-01-02"].load_count == 1
    assert abs(rows["2024-01-01"].play_rate - 0.5) < 1e-12


def test_streaming_gold_merge_converges(spark, tmp_path):
    """Incremental gold maintenance: the windowed rollup merged into a
    parquet gold table via foreachBatch, across two micro-batches —
    converges to the batch-computed result (ST4/ST6 + A7)."""
    from wistia_etl_pipeline_spark.streaming.pipeline import merge_batch_sink

    bronze = tmp_path / "bronze"
    _write_jsonl(bronze / "f1.json", [
        _event("e1", "2024-01-01T10:00:00Z", pv=0.0, visitor="a"),
        _event("e2", "2024-01-01T11:00:00Z", pv=1.0, visitor="b"),
    ])
    _write_jsonl(bronze / "f2.json", [
        _event("e3", "2024-01-01T12:00:00Z", pv=0.5, visitor="c"),  # same day!
        _event("e4", "2024-01-02T09:00:00Z", pv=0.5, visitor="a"),
    ])
    gold_path = str(tmp_path / "gold")
    stream = deduped_silver_stream(
        read_bronze_stream(spark, str(bronze), max_files_per_trigger=1)
    )
    rollup = streaming_daily_rollup(stream, watermark_delay=None)
    q = (
        rollup.writeStream.foreachBatch(merge_batch_sink(gold_path, ["media_id", "dt"]))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    gold = {str(r.dt): r for r in spark.read.parquet(gold_path).collect()}
    # day 1 was updated across batches: batch2's refreshed aggregate
    # replaced batch1's via the (media_id, dt) merge
    assert gold["2024-01-01"].load_count == 3
    assert gold["2024-01-01"].play_count == 2
    assert gold["2024-01-02"].load_count == 1


def test_streaming_merge_acid_sink(spark, sf_dir, tmp_path):
    """foreachBatch MERGE through the transaction-log table: batches
    land as committed versions; a reader pinned before the stream ran
    still re-collects its snapshot afterwards (no read outage)."""
    import time

    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.sources.txlog import TxLogTable
    from wistia_etl_pipeline_spark.streaming.pipeline import run_silver_stream

    bronze = str(tmp_path / "bronze")
    target = str(tmp_path / "silver_tx")
    events = [
        {"event_key": f"e{i}", "received_at": f"2024-01-01T0{i}:00:00Z",
         "percent_viewed": 0.5, "visitor_key": f"v{i}", "media_id": "m1",
         "media_name": "M1"}
        for i in range(4)
    ]
    import json as _json
    import os

    os.makedirs(bronze)
    with open(os.path.join(bronze, "b1.json"), "w") as f:
        for e in events[:2]:
            f.write(_json.dumps(e) + "\n")

    q = run_silver_stream(spark, bronze, target, str(tmp_path / "ck1"), acid=True)
    q.awaitTermination(60)
    table = TxLogTable(target)
    v_after_first = table.current_version()
    assert v_after_first is not None  # at least one committed version
    pinned = table.read(spark)
    assert pinned.count() == 2

    # second batch (new file + a replayed duplicate) through a fresh run
    with open(os.path.join(bronze, "b2.json"), "w") as f:
        for e in events[1:]:
            f.write(_json.dumps(e) + "\n")
    q2 = run_silver_stream(spark, bronze, target, str(tmp_path / "ck1"), acid=True)
    q2.awaitTermination(60)

    latest = table.read(spark)
    assert latest.count() == 4  # replayed e1 converged, e2/e3 added
    assert pinned.count() == 2  # pinned snapshot still re-collects


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: impressions joined to purchases
    within a 1-hour interval — both sides watermarked so join state is
    BOUNDED (without the time condition + watermarks, stream-stream
    join state grows forever at 100 TB)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    imp_dir, pur_dir = str(tmp_path / "imp"), str(tmp_path / "pur")
    os.makedirs(imp_dir); os.makedirs(pur_dir)
    with open(os.path.join(imp_dir, "a.json"), "w") as f:
        for i, h in enumerate([1, 2, 10]):
            f.write(_json.dumps({"user": f"u{i%2}", "imp_id": f"i{i}",
                                 "imp_at": f"2024-01-01T0{h}:00:00Z" if h < 10
                                 else f"2024-01-01T{h}:00:00Z"}) + "\n")
    with open(os.path.join(pur_dir, "b.json"), "w") as f:
        # u0 purchases 30 min after imp at 01:00 (joins); u1 purchases
        # 5 h after imp at 02:00 (outside the interval — must not join)
        f.write(_json.dumps({"user": "u0", "pur_id": "p0",
                             "pur_at": "2024-01-01T01:30:00Z"}) + "\n")
        f.write(_json.dumps({"user": "u1", "pur_id": "p1",
                             "pur_at": "2024-01-01T07:00:00Z"}) + "\n")

    imps = (spark.readStream.schema("user string, imp_id string, imp_at string")
            .json(imp_dir)
            .withColumn("imp_at", F.to_timestamp("imp_at"))
            .withWatermark("imp_at", "2 hours"))
    purs = (spark.readStream.schema("user string, pur_id string, pur_at string")
            .json(pur_dir)
            .withColumn("pur_at", F.to_timestamp("pur_at"))
            .withWatermark("pur_at", "2 hours"))
    joined = imps.join(
        purs,
        (imps.user == purs.user)
        & (purs.pur_at >= imps.imp_at)
        & (purs.pur_at <= imps.imp_at + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(imps.user, "imp_id", "pur_id")

    out = str(tmp_path / "out")
    q = (joined.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r.user, r.imp_id, r.pur_id) for r in spark.read.parquet(out).collect()}
    assert rows == {("u0", "i0", "p0")}


def test_observe_metrics_on_batch(spark, sf_dir):
    """df.observe(): accumulator-style pipeline metrics collected as a
    side effect of the action — row counts / null counts / sums for
    data-quality dashboards without a second scan."""
    from pyspark.sql import Observation, functions as F

    from wistia_etl_pipeline_spark.session import load_table

    obs = Observation("quality")
    events = load_table(spark, sf_dir, "events")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
    )
    n = observed.count()
    assert obs.get["n"] == n
    assert obs.get["null_values"] == 0


def test_streaming_session_windows_match_batch(spark, tmp_path):
    from pyspark.sql import functions as F
    from wistia_etl_pipeline_spark.streaming.pipeline import streaming_session_rollup

    bronze = tmp_path / "bronze_sess"
    # visitor a: two sessions (10:00-10:30 merged by <60min gaps; 14:00
    # alone); visitor b: one. Events deliberately out of order — the
    # session merge must absorb late rows within the watermark.
    _write_jsonl(bronze / "f1.json", [
        _event("e1", "2024-01-01T10:00:00Z", visitor="a"),
        _event("e3", "2024-01-01T14:00:00Z", visitor="a"),
        _event("e2", "2024-01-01T10:30:00Z", visitor="a"),
        _event("e4", "2024-01-01T11:00:00Z", visitor="b"),
        # sentinel far in the future: advances the global watermark past
        # every real session so append mode finalizes them all.
        _event("flush", "2024-01-10T00:00:00Z", visitor="zz_flush"),
    ])
    stream = deduped_silver_stream(
        read_bronze_stream(spark, str(bronze)), watermark_delay="1 hour"
    )
    sessions = streaming_session_rollup(stream, watermark_delay=None)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.visitor_key, str(r.session_start), r.n_events)
        for r in spark.sql(
            "select * from sess_stream where visitor_key != 'zz_flush'"
        ).collect()
    }
    assert got == {
        ("a", "2024-01-01 10:00:00", 2),
        ("a", "2024-01-01 14:00:00", 1),
        ("b", "2024-01-01 11:00:00", 1),
    }

    # Batch over the same files with the same session_window call must
    # agree exactly (the backfill == live contract).
    batch = (
        spark.read.schema(stream.schema).json(str(bronze))
        .groupBy("visitor_key", F.session_window("received_at", "60 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("visitor_key") != "zz_flush")
    )
    got_batch = {
        (r.visitor_key, str(r.sw.start), r.n_events) for r in batch.collect()
    }
    assert got_batch == got


def test_rate_source_merge_exactly_once_across_crash_and_resume(spark, tmp_path):
    """Broker-shaped exactly-once demo (VERDICT r3 #6): an unbounded
    deterministic source (rate-micro-batch) drives the merge sink; the
    sink CRASHES after writing batch 2 to the target but before the
    offset commit — the worst-case failure point. On restart Spark
    replays batch 2 (at-least-once delivery) and the key-merge collapses
    the replay: the gold table ends exactly-once with no gap and no
    duplicate, which is the D1+A7 contract the reference relies on and
    the reason a Kafka deployment of this pipeline needs no broker-side
    transactions."""
    import time as _time

    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.streaming.pipeline import merge_batch_sink

    target = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    rows_per_batch = 10
    sink = merge_batch_sink(target, ["event_key"])
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        sink(batch_df, batch_id)  # target write lands...
        if batch_id == 2 and not crashed["done"]:
            crashed["done"] = True
            # ...then the "process" dies before the offset commit
            raise RuntimeError("injected crash between sink write and commit")

    def start():
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_batch)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )
        shaped = src.select(
            F.col("value").alias("event_key"),
            F.col("timestamp").alias("received_at"),
            (F.col("value") % 3).cast("string").alias("media_id"),
        )
        return (
            shaped.writeStream.foreachBatch(crashing_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    q = start()
    try:
        q.awaitTermination(120)
    except Exception:
        pass
    assert crashed["done"], "injected crash did not fire"
    # batch 2's rows ARE in the target (written before the crash) but
    # its offset is uncommitted — the replay-overlap condition
    assert spark.read.parquet(target).count() >= 3 * rows_per_batch

    q2 = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        p = q2.lastProgress
        if p and p["batchId"] >= 6:
            break
        _time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(60)

    got = spark.read.parquet(target)
    n = got.count()
    assert n >= 6 * rows_per_batch
    # exactly-once: every key once, no gap below the high-water mark
    assert got.select("event_key").distinct().count() == n
    assert got.agg(F.max("event_key")).collect()[0][0] == n - 1
    assert n % rows_per_batch == 0


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark
    keeps a key's state only until the watermark passes it, so the
    store cannot grow with the stream — the correct primitive when
    replays arrive within a bounded lateness window (exact global
    dropDuplicates state grows forever). A replay of e1 inside the
    window must be suppressed; a fresh key far past the watermark
    must still pass."""
    from pyspark.sql import functions as F

    bronze = tmp_path / "bronze"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_jsonl(bronze / "f1.json", [
        _event("e1", "2024-01-01T10:00:00Z"),
        _event("e1", "2024-01-01T10:20:00Z"),  # replay, inside 1h window
        _event("e2", "2024-01-01T11:00:00Z"),
    ])
    _write_jsonl(bronze / "f2.json", [
        _event("e1", "2024-01-01T10:40:00Z"),  # later replay, same batch window
        _event("e3", "2024-01-02T09:00:00Z"),  # next day, state long expired
    ])

    stream = read_bronze_stream(spark, str(bronze))
    deduped = (
        stream.select("event_key", F.col("received_at").cast("timestamp").alias("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_key"])
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    keys = sorted(r.event_key for r in rows)
    assert keys == ["e1", "e2", "e3"]


def test_streaming_incremental_curation_against_txlog_history(spark, tmp_path):
    """The day-2 curation pipeline in streaming form: each micro-batch
    of incoming documents is (1) deduped WITHIN the batch by exact
    content (min-id wins), (2) checked against the ACCUMULATED txlog
    history via MinHash banding (minhash_new_vs_history — history
    contributes only its signature index, never re-mined), and (3) only
    genuinely new docs are appended to the history table. A duplicate
    arriving in a later batch must not re-enter the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from wistia_etl_pipeline_spark.functions.dedupe import (
        minhash_new_vs_history,
    )
    from wistia_etl_pipeline_spark.functions.text import fingerprint_md5
    from wistia_etl_pipeline_spark.sources.txlog import TxLogTable

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = TxLogTable(str(tmp_path / "history"))

    t_a = "the quick brown fox jumps over the lazy dog tonight"
    t_b = "pack my box with five dozen liquor jugs right now"
    t_c = "sphinx of black quartz judge my vow this evening"
    t_d = "a wholly new document that matches nothing else here"
    (src / "batch1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": t_a},
                {"doc_id": 2, "text": t_b},
                {"doc_id": 3, "text": t_a},  # in-batch exact dup of 1
            ]
        )
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def curate(batch_df, batch_id):
        # (1) in-batch exact dedup, min-id wins (deterministic)
        batch = (
            batch_df.withColumn("__fp", fingerprint_md5(F.col("text")))
            .withColumn(
                "__rn",
                F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.partitionBy("__fp")
                    .orderBy("doc_id")
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("doc_id", "text")
        )
        # (2) against accumulated history
        hist = table.read(batch_df.sparkSession)
        if hist is None:
            fresh = batch
        else:
            verdict = minhash_new_vs_history(
                hist, batch, "doc_id", "text", shingle_k=2
            )
            fresh = batch.join(
                verdict.filter(F.col("is_new") == 1).select("doc_id"), "doc_id"
            )
        # (3) append only the new docs
        if fresh.limit(1).count() > 0:
            table.append(fresh)

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .json(str(src))
            .writeStream.foreachBatch(curate)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    first = {r.doc_id for r in table.read(spark).collect()}
    assert first == {1, 2}  # 3 deduped in-batch

    (src / "batch2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 10, "text": t_b},  # dup of history doc 2
                {"doc_id": 11, "text": t_c},  # new
                {"doc_id": 12, "text": t_d},  # new
            ]
        )
    )
    run_stream()
    final = {r.doc_id: r.text for r in table.read(spark).collect()}
    assert set(final) == {1, 2, 11, 12}  # 10 blocked by history dedup
    # history grew append-only: version count advanced, nothing rewritten
    assert len(table.versions()) == 2


def test_stream_stream_left_outer_join_emits_null_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: an impression with no purchase
    inside the interval must eventually emit with NULL purchase
    columns — but only once the watermark proves no match can still
    arrive (the outer-null row is a STATE-EVICTION byproduct, which is
    why unwatermarked outer joins are rejected at 100 TB: the null can
    never be emitted safely). The eviction needs TWO later batches:
    one whose data advances the watermark, and one that runs WITH the
    advanced watermark — replayed here as three availableNow passes
    over one checkpoint with files arriving between them."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    imp_dir, pur_dir = str(tmp_path / "imp"), str(tmp_path / "pur")
    os.makedirs(imp_dir); os.makedirs(pur_dir)
    with open(os.path.join(imp_dir, "a.json"), "w") as f:
        f.write(_json.dumps({"user": "u0", "imp_id": "i0",
                             "imp_at": "2024-01-01T01:00:00Z"}) + "\n")
        f.write(_json.dumps({"user": "u1", "imp_id": "i1",
                             "imp_at": "2024-01-01T01:00:00Z"}) + "\n")
    with open(os.path.join(pur_dir, "b.json"), "w") as f:
        f.write(_json.dumps({"user": "u0", "pur_id": "p0",
                             "pur_at": "2024-01-01T01:30:00Z"}) + "\n")

    imps = (spark.readStream.schema("user string, imp_id string, imp_at string")
            .json(imp_dir)
            .withColumn("imp_at", F.to_timestamp("imp_at"))
            .withWatermark("imp_at", "1 hour"))
    purs = (spark.readStream.schema("user string, pur_id string, pur_at string")
            .json(pur_dir)
            .withColumn("pur_at", F.to_timestamp("pur_at"))
            .withWatermark("pur_at", "1 hour"))
    joined = imps.join(
        purs,
        (imps.user == purs.user)
        & (purs.pur_at >= imps.imp_at)
        & (purs.pur_at <= imps.imp_at + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(imps.user, "imp_id", "pur_id")

    out = str(tmp_path / "out")

    def run_pass():
        q = (joined.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    def emitted():
        return {(r.user, r.imp_id, r.pur_id)
                for r in spark.read.parquet(out).collect()}

    run_pass()
    assert emitted() == {("u0", "i0", "p0")}  # i1 still held in state

    # late sentinels advance BOTH watermarks far past i1's interval...
    with open(os.path.join(pur_dir, "c.json"), "w") as f:
        f.write(_json.dumps({"user": "zz", "pur_id": "px",
                             "pur_at": "2024-01-01T12:00:00Z"}) + "\n")
    with open(os.path.join(imp_dir, "d.json"), "w") as f:
        f.write(_json.dumps({"user": "zz", "imp_id": "ix",
                             "imp_at": "2024-01-01T12:00:00Z"}) + "\n")
    run_pass()

    # ...and a further batch runs WITH the advanced watermark,
    # releasing the unmatched impression as an outer-null row
    with open(os.path.join(pur_dir, "e.json"), "w") as f:
        f.write(_json.dumps({"user": "zz", "pur_id": "py",
                             "pur_at": "2024-01-01T12:01:00Z"}) + "\n")
    run_pass()

    rows = emitted()
    assert ("u0", "i0", "p0") in rows
    assert ("u1", "i1", None) in rows  # the watermark-released null row


def test_max_files_per_trigger_bounds_batch_size(spark, tmp_path):
    """Backpressure: maxFilesPerTrigger=1 must split a 3-file backlog
    into ≥3 micro-batches instead of one giant catch-up batch — the
    operational control that keeps recovery from OOMing an executor
    after downtime."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"f{i}.json"), "w") as f:
            for j in range(5):
                f.write(_json.dumps({"k": i * 5 + j}) + "\n")

    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out = str(tmp_path / "out")
    q = (
        stream.withColumn("b", F.spark_partition_id() * 0)  # keep schema simple
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = q.recentProgress
    batches_with_data = [
        p for p in progress if p["numInputRows"] and p["numInputRows"] > 0
    ]
    assert len(batches_with_data) >= 3
    assert all(p["numInputRows"] <= 5 for p in batches_with_data)
    rows = spark.read.parquet(out).count()
    assert rows == 15


def test_streaming_gold_rollup_registry_is_multi_batch(spark):
    """The driver-window streaming row (VERDICT r4 #3): the registry
    query must execute as a REAL multi-micro-batch stream (4 triggers
    over 8 staged files at maxFilesPerTrigger=2) and converge to the
    batch answer."""
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark import registry
    from wistia_etl_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    got = registry._QUERIES["streaming_gold_rollup"](spark, sf)
    events = load_table(spark, sf, "events")
    want = events.groupBy(F.to_date("ts").alias("dt")).agg(
        F.count(F.lit(1)).alias("load_count"),
        F.count(F.when(F.col("value") > F.lit(100.0), F.lit(1))).alias(
            "play_count"
        ),
        F.round(
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 6
        ).alias("engagement_sum"),
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_streaming_stream_join_matches_batch_interval_join(spark):
    """The 4th streaming driver row: two watermarked file streams,
    inner interval join, append file sink — result must equal the
    batch interval join exactly (no watermark drops under time-ordered
    staging), with both sides contributing real multi-batch replay
    (6 staged files per side at maxFilesPerTrigger=1)."""
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark import registry
    from wistia_etl_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    got = registry._QUERIES["streaming_stream_join"](spark, sf)
    ev = load_table(spark, sf, "events").where(F.col("user_id").isNotNull())
    v = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.col("value").alias("pv"),
    )
    want = (
        v.join(
            p,
            F.expr(
                "vu = pu AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR"
            ),
        )
        .groupBy(F.to_date("vts").alias("dt"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_distinct("vu").cast("long").alias("n_users"),
            F.round(
                F.sum(F.col("pv").cast("decimal(25,6)")).cast("double"), 6
            ).alias("purchase_value"),
        )
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stage_time_ordered_contract(spark, tmp_path):
    """stage_time_ordered must reproduce the sequential-write staging
    contract from one job: one parquet file per non-empty calendar
    range, strictly increasing mtimes in range order, no rows lost or
    duplicated, range membership respected, and rows past the last cut
    dropped."""
    import glob
    import os

    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.streaming.staging import (
        stage_time_ordered,
    )

    df = spark.range(1000).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 3600)"
        ).alias("ts"),
    )
    cuts = ["2024-01-10", "2024-01-20", "2024-02-01", "2024-02-10"]
    path = str(tmp_path / "staged")
    stage_time_ordered(df, "ts", path, cuts)

    files = sorted(
        glob.glob(os.path.join(path, "*.parquet")),
        key=lambda p: os.path.getmtime(p),
    )
    # one file per non-empty range, mtimes strictly increasing
    mtimes = [os.path.getmtime(p) for p in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    bounds = [None] + [c for c in cuts]
    seen = 0
    prev_hi = None
    for i, f in enumerate(files):
        part = spark.read.parquet(f)
        lo_ts, hi_ts, n = part.agg(
            F.min("ts"), F.max("ts"), F.count("*")
        ).first()
        assert n > 0
        if prev_hi is not None:
            assert lo_ts >= prev_hi  # replay order == event-time order
        prev_hi = hi_ts
        seen += n
    # rows at/after the final cut are dropped; everything earlier kept
    import datetime

    kept = df.filter(
        F.col("ts") < F.lit(cuts[-1]).cast("timestamp")
    ).count()
    assert seen == kept
    total = spark.read.parquet(path).count()
    assert total == kept


def test_stream_state_partitions_unknown_size_floors(spark, tmp_path):
    """A source without statistics reports Spark's
    ``defaultSizeInBytes`` placeholder (Long.MaxValue): its size is
    unknown, so the width floors at the static default instead of
    clamping to 2048 — alone or next to a sized source."""
    from wistia_etl_pipeline_spark import session as S

    stats_less = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,), (2,)]), "a int"
    )
    size = stats_less._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) >= (1 << 63) - 1  # the placeholder, not a size

    src = str(tmp_path / "src")
    spark.range(1000).write.parquet(src)
    assert S.stream_state_partitions(spark, stats_less) == S.STREAM_SHUFFLE_PARTITIONS
    assert (
        S.stream_state_partitions(spark, [src, stats_less])
        == S.STREAM_SHUFFLE_PARTITIONS
    )


def test_stream_state_partitions_derivation(spark, tmp_path):
    """r13: the streaming state width derives from staged source bytes
    — floors at the static default for MB-scale inputs (bench SFs are
    bit-identical to the r12 constant), scales with bytes above it,
    honors the clamp, and the env override short-circuits everything."""
    import os

    from wistia_etl_pipeline_spark import session as S

    src = str(tmp_path / "src")
    spark.range(1000).write.parquet(src)

    # no source / tiny source -> static floor
    assert S.stream_state_partitions(spark, None) == S.STREAM_SHUFFLE_PARTITIONS
    assert (
        S.stream_state_partitions(spark, src) == S.STREAM_SHUFFLE_PARTITIONS
    )
    # a DataFrame and a list of paths are both accepted
    assert (
        S.stream_state_partitions(spark, spark.read.parquet(src))
        == S.STREAM_SHUFFLE_PARTITIONS
    )
    assert (
        S.stream_state_partitions(spark, [src, src])
        == S.STREAM_SHUFFLE_PARTITIONS
    )

    # above the floor the width tracks ceil(bytes / target), clamped
    size = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    old = S.STREAM_STATE_BYTES_PER_PARTITION
    S.STREAM_STATE_BYTES_PER_PARTITION = max(1, size // 100)  # ~100 parts
    try:
        derived = S.stream_state_partitions(spark, src)
        assert S.STREAM_SHUFFLE_PARTITIONS < derived <= 2048
        S.STREAM_STATE_BYTES_PER_PARTITION = 1  # force the upper clamp
        assert S.stream_state_partitions(spark, src) == 2048
    finally:
        S.STREAM_STATE_BYTES_PER_PARTITION = old

    # the env override wins over any derivation
    os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"] = "77"
    try:
        # module-level default is read at import time; the override
        # path returns it via the env short-circuit
        assert (
            S.stream_state_partitions(spark, src)
            == S.STREAM_SHUFFLE_PARTITIONS
        )
    finally:
        del os.environ["SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"]

    # scoped_shuffle_partitions(source=...) applies the derived width
    with S.scoped_shuffle_partitions(spark, source=src):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            S.STREAM_SHUFFLE_PARTITIONS
        )


def test_merge_sink_crash_inside_swap_converges_after_restart(spark, tmp_path, crash_swap):
    """The vanilla merge sink dies after each filesystem step of its
    rename swaps in turn (two micro-batches, one file each); restarting
    the query on the same checkpoint replays the uncommitted batch and
    ends with the target of a query that never crashed."""

    def scenario(root, step):
        bronze = root / "bronze"
        _write_jsonl(bronze / "f1.json", [
            _event("e1", "2024-01-01T10:00:00Z"),
            _event("e2", "2024-01-01T11:00:00Z"),
        ])
        _write_jsonl(bronze / "f2.json", [
            _event("e2", "2024-01-01T11:00:00Z"),
            _event("e3", "2024-01-01T12:00:00Z"),
        ])
        target, ckpt = str(root / "silver"), str(root / "ckpt")

        def run():
            run_silver_stream(
                spark, str(bronze), target, ckpt, max_files_per_trigger=1
            ).awaitTermination(120)

        with crash_swap(step, target) as steps:
            if step is None:
                run()
            else:
                with pytest.raises(Exception, match="injected crash"):
                    run()
        if step is not None:
            run()  # the restart
        return Counter(map(tuple, spark.read.parquet(target).collect())), steps["done"]

    want, n_steps = scenario(tmp_path / "ref", None)
    assert {r[0] for r in want} == {"e1", "e2", "e3"}
    # the bootstrap swap takes two steps, every later one three
    assert n_steps >= 5 and (n_steps - 2) % 3 == 0
    for step in range(1, n_steps + 1):
        got, _ = scenario(tmp_path / f"crash{step}", step)
        assert got == want, f"crash after swap step {step}"
