"""EP1→EP3 end-to-end: incremental runs with skip/full-pull/resume,
idempotent silver/gold, event-time partition layout, and the per-run
work P3 allows: silver from the pulled batch, dim only on a full pull,
no schema-inference job."""

from __future__ import annotations

import json
import uuid
from collections import Counter

import pytest

from wistia_etl_pipeline_spark import pipeline as pipeline_mod
from wistia_etl_pipeline_spark.incremental.watermark import JsonStateStore
from wistia_etl_pipeline_spark.pipeline import BatchPipeline, WistiaApi
from wistia_etl_pipeline_spark.schemas import (
    DIM_MEDIA_SCHEMA,
    FACT_EVENTS_SCHEMA,
    MEDIA_DAILY_AGG_SCHEMA,
)
from wistia_etl_pipeline_spark.sources.rest_source import PullConfig


def _event(key, ts, pv, visitor, media):
    return {
        "event_key": key, "received_at": ts, "percent_viewed": pv,
        "embed_url": "e", "email": None, "ip": "1",
        "user_agent_details": {"browser": "FF", "browser_version": "1",
                               "platform": "l", "mobile": False},
        "visitor_key": visitor, "country": "US", "region": "CA", "city": "SF",
        "lat": 1.0, "lon": 2.0, "org": None, "media_id": media, "media_name": media.upper(),
    }


class FakeWistia:
    """Two media; events served in pages of 2; mutable so tests can
    simulate new uploads between runs."""

    def __init__(self):
        self.meta = {
            "m1": {"hashed_id": "m1", "name": "M1", "duration": "7200",
                    "created": "2024-01-01T00:00:00Z", "updated": "2024-01-02T00:00:00Z",
                    "section": "s", "subfolder": {"name": "sub"},
                    "thumbnail": {"url": "t"}, "project": {"name": "p"}},
            "m2": {"hashed_id": "m2", "name": "M2", "duration": "3600",
                    "created": "2024-01-01T00:00:00Z", "updated": "2024-01-02T00:00:00Z",
                    "section": "s", "subfolder": None, "thumbnail": None, "project": None},
        }
        self.events = {
            "m1": [
                _event("m1e1", "2024-01-01T10:00:00Z", 0.0, "v1", "m1"),
                _event("m1e2", "2024-01-01T11:00:00Z", 0.5, "v1", "m1"),
                _event("m1e3", "2024-01-02T09:00:00Z", 1.0, "v2", "m1"),
            ],
            "m2": [
                _event("m2e1", "2024-01-01T08:00:00Z", 1.0, "v3", "m2"),
            ],
        }

    def api(self) -> WistiaApi:
        def transport(url: str):
            media = url.split("/media/")[1].split("/")[0]
            page = int(url.split("page=")[1].split("&")[0])
            rows = self.events[media][(page - 1) * 2:(page - 1) * 2 + 2]
            return 200, json.dumps(
                {"data": rows, "total": len(self.events[media]), "per_page": 2}
            ).encode()

        return WistiaApi(
            transport=transport,
            events_url=lambda m, p: f"http://api/media/{m}/events?page={p}&per_page=2",
            metadata=lambda m: self.meta[m],
        )


def _mk(spark, tmp_path, fake, **cfg):
    return BatchPipeline(
        spark=spark,
        api=fake.api(),
        bronze_path=str(tmp_path / "bronze"),
        silver_path=str(tmp_path / "silver"),
        dim_path=str(tmp_path / "dim"),
        gold_path=str(tmp_path / "gold"),
        state_store=JsonStateStore(str(tmp_path / "wm.json")),
        config=PullConfig(per_page=2, **cfg),
    )


def test_full_pipeline_incremental_runs(spark, tmp_path):
    fake = FakeWistia()
    pipe = _mk(spark, tmp_path, fake)

    # run 1: both media full-pull
    s1 = pipe.run_once(["m1", "m2"])
    assert s1["m1"]["action"] == "full_pull" and s1["m1"]["events"] == 3
    assert s1["m2"]["action"] == "full_pull" and s1["m2"]["events"] == 1
    silver = spark.read.parquet(str(tmp_path / "silver"))
    assert silver.count() == 4
    gold = {(r.media_id, str(r.dt)): r for r in
            spark.read.parquet(str(tmp_path / "gold")).collect()}
    g = gold[("m1", "2024-01-01")]
    assert g.load_count == 2 and g.play_count == 1 and g.visitors == 1
    assert abs(g.hours_watched - 0.5 * 7200 / 3600) < 1e-9  # pv 0.0+0.5 ⋅ 2h
    assert ("m2", "2024-01-01") in gold

    # run 2: nothing changed → skip everywhere, outputs untouched
    s2 = pipe.run_once(["m1", "m2"])
    assert {v["action"] for v in s2.values()} == {"skip"}
    assert spark.read.parquet(str(tmp_path / "silver")).count() == 4
    assert spark.read.parquet(str(tmp_path / "gold")).count() == 3

    # run 3: m1 gets a new event (re-upload bumps updated); m2 skips
    fake.events["m1"].append(_event("m1e4", "2024-01-02T15:00:00Z", 1.0, "v9", "m1"))
    fake.meta["m1"]["updated"] = "2024-01-03T00:00:00Z"
    s3 = pipe.run_once(["m1", "m2"])
    assert s3["m1"]["action"] == "full_pull" and s3["m2"]["action"] == "skip"
    silver = spark.read.parquet(str(tmp_path / "silver"))
    assert silver.count() == 5  # replayed m1e1-3 deduped, m1e4 added
    g2 = {(r.media_id, str(r.dt)): r for r in
          spark.read.parquet(str(tmp_path / "gold")).collect()}
    assert g2[("m1", "2024-01-02")].load_count == 2  # e3 + e4
    assert g2[("m1", "2024-01-02")].visitors == 2

    # bronze has the Hive event-time layout (S4/ST5)
    days = {p.name for p in (tmp_path / "bronze" / "media_id=m1").iterdir()
            if p.name.startswith("dt=")}
    assert days == {"dt=2024-01-01", "dt=2024-01-02"}


def test_page_cap_checkpoints_and_resumes(spark, tmp_path):
    fake = FakeWistia()
    pipe = _mk(spark, tmp_path, fake, max_pages=1)  # 1 page (2 events) per run

    s1 = pipe.run_once(["m1"])
    assert s1["m1"]["events"] == 2 and s1["m1"]["completed"] is False
    st = pipe.state_store.read()["m1"]
    assert st.next_page == 2
    # reference fold (bronze.py:245): an interrupted FULL pull advances
    # the watermark to the value captured at pull start; the checkpoint
    # drives the resume, and any remote change during the interruption
    # beats the resume with a catch-up full pull (decide priority)
    assert st.updated == "2024-01-02T00:00:00Z"

    s2 = pipe.run_once(["m1"])  # resumes at page 2, finishes
    assert s2["m1"]["action"] == "resume"
    assert s2["m1"]["completed"] is True
    assert pipe.state_store.read()["m1"].next_page is None
    assert spark.read.parquet(str(tmp_path / "silver")).count() == 3

    # metadata moves AFTER the completed resume → catch-up full pull
    fake.meta["m1"]["updated"] = "2024-01-05T00:00:00Z"
    s3 = pipe.run_once(["m1"])
    assert s3["m1"]["action"] == "full_pull"


def test_stats_feed_ingestion(spark, tmp_path):
    """The optional second paginated feed (stats pages) lands in the
    bronze stats path, partitioned by media."""
    import json as _json

    fake = FakeWistia()
    api = fake.api()
    # stats served from the same fake: 2 numeric rows per media
    stats_data = {"m1": [{"hour": 0, "plays": 3}, {"hour": 1, "plays": 5}]}

    def stats_transport(url):
        if "/stats" in url:
            media = url.split("/media/")[1].split("/")[0]
            page = int(url.split("page=")[1].split("&")[0])
            rows = stats_data.get(media, [])[(page - 1) * 10:(page - 1) * 10 + 10]
            return 200, _json.dumps(rows).encode()
        return api.transport(url)

    from wistia_etl_pipeline_spark.pipeline import WistiaApi

    api2 = WistiaApi(
        transport=stats_transport,
        events_url=api.events_url,
        metadata=api.metadata,
        stats_url=lambda m, p: f"http://api/media/{m}/stats?page={p}&per_page=10",
    )
    pipe = _mk(spark, tmp_path, fake)
    pipe.api = api2
    s = pipe.run_once(["m1"])
    assert s["m1"]["stats_pages"] == 1
    stats = spark.read.json(str(tmp_path / "bronze_stats"))
    payloads = [_json.loads(r.payload) for r in stats.collect()]
    assert sorted(p["plays"] for p in payloads) == [3, 5]
    assert {r.media_id for r in stats.collect()} == {"m1"}

    # replay convergence (ADVICE r7): the stats sink is a per-media
    # dynamic partition OVERWRITE, so a re-pull of the same feed (the
    # at-least-once crash path) replaces rather than re-appends
    pipe._write_stats_batch([
        ("m1", type("R", (), {"pages": [(1, stats_data["m1"])]})()),
    ])
    again = spark.read.json(str(tmp_path / "bronze_stats"))
    assert again.count() == 2
    assert sorted(
        _json.loads(r.payload)["plays"] for r in again.collect()
    ) == [3, 5]


def test_bronze_write_failure_advances_nothing(spark, tmp_path):
    """The batched bronze write (r7) defers every checkpoint fold until
    the batch lands: if the write fails, NO watermark advances, every
    pulled media reports an error row, and the NEXT run re-pulls and
    converges to the exact same silver/gold as an unfailed run
    (at-least-once + idempotent-by-key, same contract as a crash
    mid-loop)."""
    fake = FakeWistia()
    pipe = _mk(spark, tmp_path, fake)

    real = pipe._write_bronze_batch
    calls = {"n": 0}

    def flaky(batches):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected bronze outage")
        return real(batches)

    pipe._write_bronze_batch = flaky

    s1 = pipe.run_once(["m1", "m2"])
    assert all(v["action"] == "error" for v in s1.values())
    assert not (tmp_path / "silver").exists()  # no partial stage ran
    assert pipe.state_store.read() == {}  # no watermark advanced

    s2 = pipe.run_once(["m1", "m2"])  # outage over: full re-pull
    assert s2["m1"]["action"] == "full_pull" and s2["m1"]["events"] == 3
    assert spark.read.parquet(str(tmp_path / "silver")).count() == 4
    gold = {(r.media_id, str(r.dt)) for r in
            spark.read.parquet(str(tmp_path / "gold")).collect()}
    assert ("m1", "2024-01-01") in gold and ("m2", "2024-01-01") in gold

    s3 = pipe.run_once(["m1", "m2"])  # converged
    assert {v["action"] for v in s3.values()} == {"skip"}


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"run-once-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _tables(spark, root) -> dict:
    return {
        t: Counter(map(tuple, spark.read.parquet(str(root / t)).collect()))
        for t in ("silver", "dim", "gold")
    }


def _run_until_skip(pipe, media_ids):
    for _ in range(3):
        if {v["action"] for v in pipe.run_once(media_ids).values()} == {"skip"}:
            return
    pytest.fail("runs did not converge to skip")


def test_crash_inside_silver_swap_converges_on_rerun(spark, tmp_path, crash_swap):
    """A run that dies after any filesystem step of the silver MERGE's
    rename swap, followed by runs until every media skips, ends with the
    silver, dim and gold of a run that never crashed. m2 skips the
    crashed run, so its silver rows live only in the swapped table."""

    def scenario(root, step):
        fake = FakeWistia()
        pipe = _mk(spark, root, fake)
        pipe.gold_exact = True  # bit-identical gold across the two runs
        pipe.run_once(["m1", "m2"])
        fake.events["m1"].append(_event("m1e4", "2024-01-02T15:00:00Z", 1.0, "v9", "m1"))
        fake.meta["m1"]["updated"] = "2024-01-03T00:00:00Z"
        with crash_swap(step, str(root / "silver")) as steps:
            if step is None:
                pipe.run_once(["m1", "m2"])
            else:
                with pytest.raises(RuntimeError, match="injected crash"):
                    pipe.run_once(["m1", "m2"])
        _run_until_skip(pipe, ["m1", "m2"])
        return _tables(spark, root), steps["done"]

    want, n_steps = scenario(tmp_path / "ref", None)
    assert n_steps == 3
    for step in range(1, n_steps + 1):
        got, _ = scenario(tmp_path / f"crash{step}", step)
        assert got == want, f"crash after silver swap step {step}"


def test_run_once_job_counts(spark, tmp_path):
    """One RESUME run and one FULL_PULL run against existing tables,
    pinned by Spark job count: bronze is not re-scanned for silver, no
    table read infers its schema, and the RESUME run does not merge
    dim."""
    fake = FakeWistia()
    pipe = _mk(spark, tmp_path, fake, max_pages=1)
    pipe.run_once(["m1", "m2"])
    resume = _jobs(spark, lambda: pipe.run_once(["m1", "m2"]))
    assert pipe.state_store.read()["m1"].next_page is None
    fake.meta["m2"]["updated"] = "2024-01-03T00:00:00Z"
    full = _jobs(spark, lambda: pipe.run_once(["m1", "m2"]))
    assert pipe.state_store.read()["m2"].updated == "2024-01-03T00:00:00Z"
    assert (resume, full) == (12, 15)


def test_resume_leaves_dim_untouched(spark, tmp_path):
    fake = FakeWistia()
    pipe = _mk(spark, tmp_path, fake, max_pages=1)
    pipe.run_once(["m1"])
    dim = tmp_path / "dim"
    before = {p.name: p.stat().st_mtime_ns for p in dim.iterdir()}
    assert pipe.run_once(["m1"])["m1"]["action"] == "resume"
    assert {p.name: p.stat().st_mtime_ns for p in dim.iterdir()} == before
    assert spark.read.parquet(str(tmp_path / "silver")).count() == 3


def test_resume_without_dim_table_seeds_it(spark, tmp_path):
    """A control document carried over with an open checkpoint (the
    reference's shape) resumes into empty tables: with no dim table to
    keep, the RESUME's metadata seeds it, so gold still joins a
    duration."""
    (tmp_path / "wm.json").write_text(json.dumps({"m1": {
        "updated": "2024-01-02T00:00:00Z",
        "events_checkpoint": {"next_page": 1, "last_received_at": None},
    }}))
    pipe = _mk(spark, tmp_path, FakeWistia())
    assert pipe.run_once(["m1"])["m1"]["action"] == "resume"
    dim = spark.read.parquet(str(tmp_path / "dim")).collect()
    assert [(r.media_id, r.duration_seconds) for r in dim] == [("m1", 7200.0)]
    gold = spark.read.parquet(str(tmp_path / "gold")).where("dt = '2024-01-01'")
    assert abs(gold.collect()[0].hours_watched - 1.0) < 1e-9  # pv 0.0+0.5 ⋅ 2h


def test_silver_merge_failure_converges_on_rerun(spark, tmp_path, monkeypatch):
    """A run whose silver MERGE raises after its bronze batch landed,
    followed by runs until every media skips, ends with the silver, dim
    and gold of a run that never failed: no watermark moved, so the
    rerun re-pulls the same pages (here a RESUME next to a FULL_PULL)."""
    real = pipeline_mod.merge_into_path

    def scenario(root, fail_silver_merge):
        fake = FakeWistia()
        pipe = _mk(spark, root, fake, max_pages=1)
        pipe.gold_exact = True  # bit-identical gold across the two runs
        pipe.run_once(["m1", "m2"])
        fake.meta["m2"]["updated"] = "2024-01-03T00:00:00Z"
        fake.events["m2"].append(_event("m2e2", "2024-01-02T15:00:00Z", 1.0, "v9", "m2"))
        calls = {"silver": 0}

        def merge(spark_, stage, path, keys):
            if path == pipe.silver_path:
                calls["silver"] += 1
                if fail_silver_merge and calls["silver"] == 1:
                    raise OSError("injected silver MERGE failure")
            return real(spark_, stage, path, keys)

        with monkeypatch.context() as m:
            m.setattr(pipeline_mod, "merge_into_path", merge)
            if fail_silver_merge:
                with pytest.raises(OSError, match="injected"):
                    pipe.run_once(["m1", "m2"])
                assert (root / "bronze" / "media_id=m2").exists()
        _run_until_skip(pipe, ["m1", "m2"])
        return _tables(spark, root)

    assert scenario(tmp_path / "failed", True) == scenario(tmp_path / "ref", False)


def test_row_naming_another_media_reaches_silver_and_gold(spark, tmp_path):
    """A row in m1's feed that names m3 is staged with the batch, so it
    lands in silver and gold re-rolls m3 too, although m3 was not
    pulled."""
    fake = FakeWistia()
    fake.events["m1"].append(_event("m3e1", "2024-01-03T10:00:00Z", 1.0, "v7", "m3"))
    pipe = _mk(spark, tmp_path, fake)
    pipe.run_once(["m1"])
    silver = spark.read.parquet(str(tmp_path / "silver"))
    assert [r.event_key for r in silver.where("media_id = 'm3'").collect()] == ["m3e1"]
    gold = {(r.media_id, str(r.dt)): r for r in
            spark.read.parquet(str(tmp_path / "gold")).collect()}
    assert gold[("m3", "2024-01-03")].load_count == 1


def test_declared_schemas_equal_written_tables(spark, tmp_path):
    """Gold reads silver and dim with the declared schemas, and the
    MERGEs check names only; pin the declarations to what is written."""
    pipe = _mk(spark, tmp_path, FakeWistia())
    pipe.run_once(["m1", "m2"])
    for table, declared in (
        ("silver", FACT_EVENTS_SCHEMA),
        ("dim", DIM_MEDIA_SCHEMA),
        ("gold", MEDIA_DAILY_AGG_SCHEMA),
    ):
        assert spark.read.parquet(str(tmp_path / table)).schema == declared, table
