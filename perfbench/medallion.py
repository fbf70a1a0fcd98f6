"""``medallion_incremental``: the write path, one scheduler tick per op.

Input: a benchmark-owned paged transport over ``media`` media, each with
a seeded event history. Set-up pulls the whole history once (every
media is new), then snapshots the table root. Each op then

1. restores that snapshot (untimed), so op N is the same work as op 1;
2. bumps the metadata ``updated`` of a seeded subset of ``changed``
   media and appends ``appended`` events to their feeds (untimed);
3. runs ``BatchPipeline.run_once`` until every media skips (timed). The
   changed media are full-pulled: their history is replayed, and a few
   events are re-delivered on a later page, so duplicate ``event_key``s
   reach bronze. The page cap is below their page count, so every op
   holds one interrupted pull and its RESUME;
4. checks gold against an independent DuckDB rollup of the generated
   events (untimed): counts exactly, doubles to 1.5e-6.

The pipeline runs with its defaults, as ``jobs.main_pipeline --runs``
does: the gold rollup sums doubles (``gold_exact=False``).
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from wistia_etl_pipeline_spark.incremental.watermark import (
    FULL_PULL,
    RESUME,
    SKIP,
    JsonStateStore,
)
from wistia_etl_pipeline_spark.pipeline import BatchPipeline, WistiaApi
from wistia_etl_pipeline_spark.sources.rest_source import PullConfig

TABLES = ("bronze", "silver", "dim", "gold")
_T0 = dt.datetime(2024, 3, 1)
_HISTORY_DAYS = 7
_HISTORY_UPDATED = "2024-04-01T00:00:00Z"
_BUMPED_UPDATED = "2024-04-02T00:00:00Z"
_REDELIVERED = 0.01  # share of history events the feed sends twice

GOLD_COLUMNS = ("media_id", "dt", "load_count", "play_count", "play_rate",
                "hours_watched", "engagement", "visitors")

GOLD_ORACLE = """
SELECT media_id,
       CAST(ts AS DATE) AS dt,
       COUNT(*) AS load_count,
       COUNT(CASE WHEN percent_viewed > 0 THEN 1 END) AS play_count,
       ROUND(COUNT(CASE WHEN percent_viewed > 0 THEN 1 END) / COUNT(*), 6)
           AS play_rate,
       ROUND(CAST(SUM(CAST(percent_viewed * duration AS DECIMAL(25,6)))
                  AS DOUBLE) / 3600.0, 6) AS hours_watched,
       ROUND(CAST(SUM(CAST(percent_viewed AS DECIMAL(25,6))) AS DOUBLE)
             / COUNT(*), 6) AS engagement,
       COUNT(DISTINCT visitor_key) AS visitors
FROM (SELECT DISTINCT * FROM events) e JOIN media USING (media_id)
GROUP BY 1, 2
"""


@dataclass(frozen=True)
class Params:
    media: int = 8
    history: int = 2_500
    changed: int = 4
    appended: int = 500
    per_page: int = 500
    max_pages: int = 4


def _event(rng: random.Random, media_id: str, key: str, day0: int, days: int) -> dict:
    ts = _T0 + dt.timedelta(
        days=day0, seconds=rng.randrange(days * 86_400), microseconds=rng.randrange(10**6)
    )
    return {
        "event_key": key,
        "received_at": ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z",
        "percent_viewed": 0.0 if rng.random() < 0.3 else round(rng.random(), 4),
        "visitor_key": str(rng.randrange(2_000)),
        "media_id": media_id,
        "media_name": media_id.upper(),
        "_ts": ts,
    }


class Feed:
    """The benchmark's transport: pages of each media's current feed,
    JSON-encoded ahead of the op, and its metadata documents. Time spent
    answering calls is counted as the source layer's time."""

    def __init__(self, per_page: int):
        self.per_page = per_page
        self.pages: dict[str, list[bytes]] = {}
        self.meta: dict[str, dict] = {}
        self.fetch_s = 0.0
        self.calls = 0

    def publish(self, media_id: str, rows: list[dict], meta: dict) -> None:
        wire = [{k: v for k, v in r.items() if k != "_ts"} for r in rows]
        n = self.per_page
        self.pages[media_id] = [
            json.dumps({"data": wire[i : i + n], "total": len(wire), "per_page": n}).encode()
            for i in range(0, len(wire), n)
        ]
        self.meta[media_id] = meta

    def events_url(self, media_id: str, page: int) -> str:
        return f"bench://events/{media_id}?page={page}"

    def __call__(self, url: str) -> tuple[int, bytes]:
        t0 = time.perf_counter()
        media_id, page = url[len("bench://events/"):].split("?page=")
        pages = self.pages[media_id]
        p = int(page)
        body = pages[p - 1] if p <= len(pages) else json.dumps(
            {"data": [], "total": 0, "per_page": self.per_page}
        ).encode()
        self.calls += 1
        self.fetch_s += time.perf_counter() - t0
        return 200, body

    def metadata(self, media_id: str) -> dict:
        t0 = time.perf_counter()
        meta = dict(self.meta[media_id])
        self.fetch_s += time.perf_counter() - t0
        return meta


class TimedStateStore(JsonStateStore):
    """The watermark store with its read/write time counted."""

    def __init__(self, path: str):
        super().__init__(path)
        self.state_s = 0.0

    def read(self):
        t0 = time.perf_counter()
        try:
            return super().read()
        finally:
            self.state_s += time.perf_counter() - t0

    def write(self, states) -> None:
        t0 = time.perf_counter()
        try:
            super().write(states)
        finally:
            self.state_s += time.perf_counter() - t0


def _oracle_events(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(
        [{"event_key": r["event_key"], "ts": r["_ts"], "media_id": r["media_id"],
          "percent_viewed": r["percent_viewed"], "visitor_key": r["visitor_key"]}
         for r in rows],
        schema=pa.schema([("event_key", pa.string()), ("ts", pa.timestamp("us")),
                          ("media_id", pa.string()), ("percent_viewed", pa.float64()),
                          ("visitor_key", pa.string())]),
    )


def _files(root: str) -> dict[str, int]:
    """Data files under ``root`` (relative path -> bytes); Spark's
    ``_SUCCESS`` markers and ``.crc`` checksums are not data."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, root)] = os.path.getsize(path)
    return out


def _parquet_rows(root: str, names) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(root, n)).num_rows for n in names)


class Landed:
    """Data files the ``run_once`` calls of one op land in each table.
    A MERGE rewrites its whole table and swaps the rewrite in, so a later
    run's swap deletes what an earlier run wrote; listing the tables after
    every run counts each written file once. Spark names every written
    file with its write job's UUID, so a rewrite never reuses a name."""

    def __init__(self, root: str):
        self.root = root
        self.seen = {t: _files(os.path.join(root, t)) for t in TABLES}
        self.bytes = dict.fromkeys(TABLES, 0)
        self.files = dict.fromkeys(TABLES, 0)
        self.silver_rows = 0

    def collect(self) -> None:
        for t in TABLES:
            path = os.path.join(self.root, t)
            now = _files(path)
            new = [n for n in now if n not in self.seen[t]]
            self.bytes[t] += sum(now[n] for n in new)
            self.files[t] += len(new)
            if t == "silver":
                self.silver_rows += _parquet_rows(path, new)
            self.seen[t] = now


class Medallion:
    #: Untimed ticks after the history ingest. The JIT keeps compiling
    #: for the first few: at local[4] ticks took 10.2 s, 7.7 s, 6.6 s,
    #: then settle to 6.0-6.6 s.
    warmup_ops = 2

    def __init__(self, params: Params = Params()):
        self.p = params

    def params(self) -> dict:
        return vars(self.p)

    def verify_inputs(self) -> None:
        """Inputs are generated from the seed; nothing to check on disk."""

    def tables(self) -> dict[str, str]:
        return {t: os.path.join(self.root, t) for t in TABLES}

    # -- set-up --------------------------------------------------------

    def setup(self, ctx) -> None:
        p = self.p
        self.rng = random.Random(ctx.seed)
        self.media_ids = [f"media{k:02d}" for k in range(p.media)]
        self.duration = {m: 600.0 * (1 + k % 5) for k, m in enumerate(self.media_ids)}
        self.history = {m: self._history(m) for m in self.media_ids}
        self.history_events = _oracle_events(
            [r for m in self.media_ids for r in self.history[m]]
        )
        self.root = os.path.join(ctx.work, "tables")
        self.snapshot = os.path.join(ctx.work, "snapshot")
        self.feed = Feed(p.per_page)
        self.state = TimedStateStore(os.path.join(self.root, "watermarks.json"))
        os.makedirs(self.root)
        self.pipe = BatchPipeline(
            spark=ctx.spark,
            api=WistiaApi(
                transport=self.feed,
                events_url=self.feed.events_url,
                metadata=self.feed.metadata,
            ),
            bronze_path=os.path.join(self.root, "bronze"),
            silver_path=os.path.join(self.root, "silver"),
            dim_path=os.path.join(self.root, "dim"),
            gold_path=os.path.join(self.root, "gold"),
            state_store=self.state,
            config=PullConfig(per_page=p.per_page, max_pages=p.max_pages),
        )
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        self.duck.register("media", pa.Table.from_pylist([
            {"media_id": m, "duration": d} for m, d in self.duration.items()
        ]))
        for m in self.media_ids:
            self.feed.publish(m, self.history[m], self._meta(m, _HISTORY_UPDATED))
        ctx.group("setup:seed")
        # the history lands in one uncapped pull; the capped pipeline's
        # interrupt/resume cycle is what each op measures
        seeder = dataclasses.replace(
            self.pipe, config=PullConfig(per_page=p.per_page, max_pages=1 << 30)
        )
        summaries, _ = self._tick(seeder)
        if any(s["action"] == "error" for run in summaries for s in run.values()):
            raise RuntimeError(f"history ingest failed: {summaries}")
        ctx.release()
        shutil.copytree(self.root, self.snapshot)

    def _history(self, media_id: str) -> list[dict]:
        p = self.p
        rows = sorted(
            (_event(self.rng, media_id, f"{media_id}-h{j:06d}", 0, _HISTORY_DAYS)
             for j in range(p.history)),
            key=lambda r: r["received_at"],
        )
        # re-deliver a few events one page later (an API retry replay)
        for j in sorted(self.rng.sample(range(p.history), int(p.history * _REDELIVERED)),
                        reverse=True):
            rows.insert(min(len(rows), j + p.per_page), dict(rows[j]))
        return rows

    def _meta(self, media_id: str, updated: str) -> dict:
        return {
            "hashed_id": media_id,
            "name": media_id.upper(),
            "duration": str(self.duration[media_id]),
            "created": "2024-01-01T00:00:00Z",
            "updated": updated,
        }

    def _tick(
        self, pipe: BatchPipeline, landed: Landed | None = None
    ) -> tuple[list[dict], float]:
        """One scheduler tick: ``run_once`` until every media skips.
        Returns the run summaries and the summed ``run_once`` wall time;
        ``landed`` lists the tables between runs, outside that time."""
        runs, wall = [], 0.0
        for _ in range(64):
            t0 = time.perf_counter()
            summary = pipe.run_once(self.media_ids)
            wall += time.perf_counter() - t0
            runs.append(summary)
            if landed is not None:
                landed.collect()
            if all(v.get("action") == SKIP for v in summary.values()):
                break
        return runs, wall

    # -- one op --------------------------------------------------------

    def run_op(self, ctx, i: int, gid: str) -> dict:
        p = self.p
        shutil.rmtree(self.root)
        shutil.copytree(self.snapshot, self.root)
        op_rng = random.Random(ctx.seed * 1_000_003 + i)
        changed = sorted(op_rng.sample(self.media_ids, p.changed))
        appended = {}
        for m in self.media_ids:
            if m in changed:
                appended[m] = [
                    _event(op_rng, m, f"{m}-n{i:+05d}-{j:05d}", _HISTORY_DAYS - 1, 2)
                    for j in range(p.appended)
                ]
                self.feed.publish(m, self.history[m] + appended[m],
                                  self._meta(m, _BUMPED_UPDATED))
            else:
                self.feed.publish(m, self.history[m], self._meta(m, _HISTORY_UPDATED))
        self.feed.fetch_s = 0.0
        self.feed.calls = 0
        self.state.state_s = 0.0

        landed = Landed(self.root)
        ctx.group(f"{gid}:tick")
        start = time.time()
        t0 = time.perf_counter()
        error = None
        try:
            runs, wall = self._tick(self.pipe, landed)
        except Exception:  # counted as a failed op, reported by the harness
            runs, wall, error = [], time.perf_counter() - t0, traceback.format_exc()
        end = time.time()
        ctx.group("idle")
        ctx.release()

        t_check = time.perf_counter()
        actions = [s.get("action") for run in runs for s in run.values()]
        items = sum(s.get("events", 0) for run in runs for s in run.values())
        layers = {
            "sources.fetch_s": self.feed.fetch_s,
            "sources.pages": self.feed.calls,
            "incremental.state_s": self.state.state_s,
            "incremental.full_pull": actions.count(FULL_PULL),
            "incremental.resume": actions.count(RESUME),
            "incremental.skip": actions.count(SKIP),
        }
        for t in TABLES:
            layers[f"{t}.bytes"] = landed.bytes[t]
            layers[f"{t}.files"] = landed.files[t]
        inserted = sum(len(v) for v in appended.values())
        # silver rows written per new event
        layers["merge.write_amp"] = landed.silver_rows / inserted
        layers["write_bytes_per_item"] = sum(landed.bytes.values()) / items if items else 0.0
        if error is None and "error" in actions:
            error = f"run_once reported errors: {runs}"
        if error is None:
            error = self._gold_mismatch(appended)
        ctx.correctness_s += time.perf_counter() - t_check
        return {"wall": wall, "items": items, "start": start, "end": end,
                "error": error, "layers": layers}

    def _gold_mismatch(self, appended: dict[str, list[dict]]) -> str | None:
        """Compare gold with the DuckDB rollup of every generated event.
        Counts must be equal. The oracle rounds its doubles to 6 places
        and gold sums doubles unrounded, so they may differ by half a unit
        in the 6th place plus summation-order error: 1.5e-6 allows both."""
        events = pa.concat_tables([
            self.history_events,
            _oracle_events([r for extra in appended.values() for r in extra]),
        ])
        self.duck.register("events", events)
        expected = {r[:2]: r for r in self.duck.execute(GOLD_ORACLE).fetchall()}
        gold = os.path.join(self.root, "gold", "*.parquet")
        try:
            rows = self.duck.execute(
                f"SELECT {', '.join(GOLD_COLUMNS)} FROM read_parquet('{gold}')"
            ).fetchall()
        except duckdb.Error as exc:
            return f"gold is not readable: {exc}"
        got = {r[:2]: r for r in rows}
        if len(rows) != len(got) or got.keys() != expected.keys():
            return f"gold has {len(rows)} rows for {len(got)} keys, expected {len(expected)}"
        for key, want in expected.items():
            if not all(
                abs(a - b) <= 1.5e-6 if isinstance(a, float) else a == b
                for a, b in zip(got[key], want)
            ):
                return f"gold row {got[key]} differs from {want}"
        return None
