"""End-to-end: API pages (both shapes) → normalize → flatten → dedup →
gold rollup, with hand-computed expectations (SURVEY.md §5.3), plus
corrupt-record isolation under the raw event schema."""

from __future__ import annotations

import json

from wistia_etl_pipeline_spark.operators.dedup import dedup_exact
from wistia_etl_pipeline_spark.operators.flatten import flatten_events
from wistia_etl_pipeline_spark.operators.rollup import media_daily_agg
from wistia_etl_pipeline_spark.schemas import RAW_EVENT_SCHEMA
from wistia_etl_pipeline_spark.session import arrow_local_df
from wistia_etl_pipeline_spark.sources.rest_source import page_shape


def _event(key, ts, pv, visitor, media="m1"):
    return {
        "event_key": key, "received_at": ts, "percent_viewed": pv,
        "embed_url": "https://e", "email": None, "ip": "1.1.1.1",
        "user_agent_details": {"browser": "FF", "browser_version": "1",
                               "platform": "linux", "mobile": False},
        "visitor_key": visitor, "country": "US", "region": "CA", "city": "SF",
        "lat": 1.0, "lon": 2.0, "org": None, "media_id": media,
        "media_name": "Demo",
    }


def test_bronze_to_gold(spark):
    # page 1: envelope shape; page 2: bare array; event e2 duplicated across pages
    page1 = {
        "data": [
            _event("e1", "2024-01-01T10:00:00Z", 0.0, "v1"),
            _event("e2", "2024-01-01T11:00:00Z", 0.5, "v1"),
        ],
        "total": 3, "per_page": 2,
    }
    page2 = [
        _event("e2", "2024-01-01T11:00:00Z", 0.5, "v1"),  # replayed duplicate
        _event("e3", "2024-01-01T12:00:00+00:00", 1.0, "v2"),
    ]
    rows = [r for page in (page1, page2) for r in page_shape(page)[0]]
    assert len(rows) == 4  # both shapes parsed
    # framed as BatchPipeline frames a pull
    raw = arrow_local_df(spark, rows, RAW_EVENT_SCHEMA)

    fact = dedup_exact(flatten_events(raw), ["event_key"])
    assert fact.count() == 3  # replay removed

    dim = spark.createDataFrame([("m1", "Demo", 7200.0)],
                                "media_id string, media_name string, duration_seconds double")
    gold = media_daily_agg(fact, dim).collect()
    assert len(gold) == 1
    g = gold[0]
    assert str(g.dt) == "2024-01-01"
    assert g.load_count == 3 and g.play_count == 2 and g.visitors == 2
    assert abs(g.play_rate - 2 / 3) < 1e-12
    assert abs(g.engagement - 0.5) < 1e-12          # (0+0.5+1)/3
    assert abs(g.hours_watched - 3.0) < 1e-9        # (0+0.5+1)*7200/3600


def test_corrupt_records_are_isolated(spark, tmp_path):
    """A malformed JSON line lands in _corrupt_record instead of
    failing the scan (PERMISSIVE, SURVEY.md S1 prod notes)."""
    p = tmp_path / "events.json"
    good = _event("ok1", "2024-01-01T10:00:00Z", 0.5, "v1")
    p.write_text(json.dumps(good) + "\n{this is not json\n")
    df = spark.read.schema(RAW_EVENT_SCHEMA).json(str(p)).cache()
    try:
        rows = df.collect()
        assert len(rows) == 2
        good_rows = [r for r in rows if r.event_key == "ok1"]
        bad_rows = [r for r in rows if r._corrupt_record is not None]
        assert len(good_rows) == 1 and good_rows[0]._corrupt_record is None
        assert len(bad_rows) == 1 and bad_rows[0].event_key is None
    finally:
        df.unpersist()
