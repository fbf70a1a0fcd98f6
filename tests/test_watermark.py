"""ST1-ST3 watermark state machine: three decision branches, legacy
normalization, checkpoint fold, store roundtrip."""

from __future__ import annotations

from wistia_etl_pipeline_spark.incremental.watermark import (
    EPOCH,
    FULL_PULL,
    RESUME,
    SKIP,
    JsonStateStore,
    MediaState,
    decide,
    fold_checkpoint,
    normalize_media_state,
)


def test_decide_three_branches():
    # full pull: remote newer, no checkpoint (bronze.py:173)
    st = MediaState(updated="2025-04-01T00:00:00Z")
    assert decide(st, "2025-04-02T00:00:00Z") == FULL_PULL
    # skip: remote not newer (bronze.py:176-178)
    assert decide(st, "2025-04-01T00:00:00Z") == SKIP
    assert decide(st, "2025-03-31T00:00:00Z") == SKIP
    # unknown remote timestamp → far-future sentinel → forced pull
    # (bronze.py:169) — NOT a silent skip
    assert decide(st, None) == FULL_PULL
    # resume: pending checkpoint, remote not newer
    st2 = MediaState(updated="2025-04-01T00:00:00Z", next_page=7)
    assert decide(st2, "2025-03-01T00:00:00Z") == RESUME
    # full pull beats resume when the remote moved during the
    # interruption (bronze.py:173-174: do_full_pull evaluated first)
    assert decide(st2, "2025-04-02T00:00:00Z") == FULL_PULL


def test_decide_handles_mixed_iso_suffixes():
    st = MediaState(updated="2025-04-01T00:00:00+00:00")
    assert decide(st, "2025-04-01T00:00:00Z") == SKIP  # same instant
    assert decide(st, "2025-04-01T00:00:01Z") == FULL_PULL


def test_normalize_legacy_string_state():
    # configs/watermarks.json carries bare ISO strings (ST3)
    st = normalize_media_state("2025-04-29T18:11:20Z")
    assert st == MediaState(updated="2025-04-29T18:11:20Z")
    st2 = normalize_media_state(
        {"updated": "2025-04-30T00:00:00Z",
         "events_checkpoint": {"next_page": 3, "last_received_at": "2025-04-29T00:00:00Z"}}
    )
    assert st2.next_page == 3
    assert normalize_media_state(None) == MediaState(updated=EPOCH)


def test_fold_checkpoint_completed_vs_interrupted():
    from wistia_etl_pipeline_spark.incremental.watermark import FULL_PULL, RESUME

    st = MediaState(updated="2025-04-01T00:00:00Z")
    done = fold_checkpoint(
        st, remote_updated="2025-04-02T00:00:00Z", action=FULL_PULL,
        pages_done=True, next_page=9, max_received_at="2025-04-01T23:00:00Z",
    )
    assert done.updated == "2025-04-02T00:00:00Z" and done.next_page is None
    # interrupted FULL pull: watermark advances to the updated CAPTURED
    # at pull start AND the resume point is recorded (bronze.py:245) —
    # so a later resume keeps it, and a remote change mid-interruption
    # triggers a catch-up full pull
    part = fold_checkpoint(
        st, remote_updated="2025-04-02T00:00:00Z", action=FULL_PULL,
        pages_done=False, next_page=9, max_received_at="2025-04-01T23:00:00Z",
    )
    assert part.updated == "2025-04-02T00:00:00Z" and part.next_page == 9
    assert part.last_received_at == "2025-04-01T23:00:00Z"
    # resume completion: watermark UNCHANGED (the fresh remote value is
    # deliberately not folded — reference bronze.py:245)
    res = fold_checkpoint(
        part, remote_updated="2025-04-03T00:00:00Z", action=RESUME,
        pages_done=True, next_page=1, max_received_at=None,
    )
    assert res.updated == "2025-04-02T00:00:00Z" and res.next_page is None


def test_resume_interrupted_then_remote_change_is_never_lost():
    """The round-1 ADVICE lossiness scenario: metadata updates while a
    pull sits interrupted → the media must be re-pulled, not skipped."""
    from wistia_etl_pipeline_spark.incremental.watermark import FULL_PULL

    st = MediaState(updated="2025-04-01T00:00:00Z")
    # full pull for updated=04-02 gets interrupted at page 9
    part = fold_checkpoint(
        st, remote_updated="2025-04-02T00:00:00Z", action=FULL_PULL,
        pages_done=False, next_page=9, max_received_at=None,
    )
    # remote moves to 04-03 while interrupted → full-pull restart wins
    assert decide(part, "2025-04-03T00:00:00Z") == FULL_PULL
    # remote unchanged → plain resume
    assert decide(part, "2025-04-02T00:00:00Z") == RESUME


def test_store_roundtrip_and_legacy_read(tmp_path):
    path = str(tmp_path / "watermarks.json")
    # legacy file: one bare-string entry, one structured
    with open(path, "w") as f:
        f.write(
            '{"a": "2025-04-29T18:11:20Z",'
            ' "b": {"updated": "2025-04-30T00:00:00Z",'
            '       "events_checkpoint": {"next_page": 2, "last_received_at": null}}}'
        )
    store = JsonStateStore(path)
    states = store.read()
    assert states["a"].updated == "2025-04-29T18:11:20Z"
    assert states["b"].next_page == 2
    store.write(states)
    assert store.read() == states  # write→read is lossless (normalized form)


def test_approx_visitors_close_to_exact(spark):
    """A6's documented exact/approx switch: HLL estimate within its
    error bound on a realistic cardinality."""
    from pyspark.sql import functions as F

    from wistia_etl_pipeline_spark.operators.rollup import daily_rollup

    import datetime as dt

    rows = [
        ("m", dt.datetime(2024, 1, 1, h % 24, i % 60), float(i), f"v{i % 500}")
        for h in range(3) for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows, "media_id string, received_at timestamp, percent_viewed double, visitor_key string"
    )
    kw = dict(key="media_id", event_time="received_at",
              engagement_value="percent_viewed", visitor="visitor_key",
              played=F.col("percent_viewed") > 0.0)
    exact = daily_rollup(df, **kw).collect()[0].visitors
    approx = daily_rollup(df, approx_visitors=True, **kw).collect()[0].visitors
    assert exact == 500
    assert abs(approx - exact) / exact < 0.05  # default rsd 5%
