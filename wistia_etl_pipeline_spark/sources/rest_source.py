"""REST paginated source — S3 (SURVEY.md §2.1) with distributed fan-out.

The reference fetches API pages in a driver-side loop with bearer auth,
exponential-backoff retry (1,2,4 s on 5xx/URLError), and three pull
termination conditions — short page, ``page*per_page >= total``, and a
page-cap/time budget (bronze.py:83-97, :181-232). The Spark cluster sat
idle during ingestion (SURVEY.md EP1).

Spark-first redesign: the page loop is a pure generator over a
*pluggable transport* (any ``url -> (status, body)`` callable — tests
inject a deterministic fake; production injects an authenticated HTTP
client built from config, NEVER a literal credential — see the
credentials warning in SURVEY.md §0). For many media ids, the fetch
fans out over executors with ``mapInPandas``: one input row per media
id, each executor runs the same loop for its partition's ids, yielding
raw page rows. Ingestion bandwidth then scales with the cluster, not
with one driver.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

Transport = Callable[[str], tuple[int, bytes]]

#: Envelope keys accepted by the page-shape probe (bronze.py:138-143).
ENVELOPE_KEYS = ("data", "events", "items", "results")


class TransportError(Exception):
    """Raised by transports for connection-level failures (URLError
    equivalent)."""


def http_get_json(
    transport: Transport,
    url: str,
    *,
    retries: tuple[float, ...] = (1.0, 2.0, 4.0),
    sleep: Callable[[float], None] = time.sleep,
):
    """GET with exponential-backoff retry — bronze.py:83-97 semantics:
    retry on 5xx and connection errors, fail fast on 4xx."""
    last_exc: Exception | None = None
    for attempt, backoff in enumerate((*retries, None)):
        try:
            status, body = transport(url)
        except TransportError as exc:
            last_exc = exc
            if backoff is None:
                raise
            sleep(backoff)
            continue
        if status >= 500:
            last_exc = TransportError(f"HTTP {status} for {url}")
            if backoff is None:
                raise last_exc
            sleep(backoff)
            continue
        if status >= 400:
            raise TransportError(f"HTTP {status} for {url}")
        return json.loads(body)
    raise last_exc  # pragma: no cover — loop always returns or raises


def page_shape(payload) -> tuple[list, int | None, int | None]:
    """The page-shape normalizer (bronze.py:135-146): accept a bare
    array or an envelope; return (rows, total, per_page).
    """
    if isinstance(payload, list):
        return payload, None, None
    if isinstance(payload, dict):
        for key in ENVELOPE_KEYS:
            if isinstance(payload.get(key), list):
                return payload[key], payload.get("total"), payload.get("per_page")
    return [], None, None


@dataclass(frozen=True)
class PullConfig:
    """Bounded-work knobs, defaults per the reference (bronze.py:28-32)."""

    per_page: int = 50
    max_pages: int = 100
    time_budget_seconds: float = 45.0
    retries: tuple[float, ...] = (1.0, 2.0, 4.0)


@dataclass
class PullResult:
    """Outcome of one bounded pull — feeds fold_checkpoint (ST2)."""

    pages: list[tuple[int, list]] = field(default_factory=list)
    next_page: int | None = None  # set when interrupted by a budget/cap
    completed: bool = False


def fetch_pages(
    transport: Transport,
    url_for_page: Callable[[int], str],
    *,
    start_page: int = 1,
    config: PullConfig = PullConfig(),
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> PullResult:
    """The bounded page loop (bronze.py:204-232), resumable at
    ``start_page`` (ST2 checkpoint resume).

    Stops when: (a) a short page signals the end, (b)
    ``page*per_page >= total`` per the envelope, (c) ``max_pages``
    pages were fetched this run, or (d) the time budget expires —
    (a)/(b) mark the pull completed; (c)/(d) record ``next_page``.
    """
    result = PullResult()
    deadline = clock() + config.time_budget_seconds
    page = start_page
    while True:
        if len(result.pages) >= config.max_pages:  # (c) page cap
            result.next_page = page
            return result
        if clock() >= deadline:  # (d) time budget
            result.next_page = page
            return result
        payload = http_get_json(
            transport, url_for_page(page), retries=config.retries, sleep=sleep
        )
        rows, total, per_page = page_shape(payload)
        per_page = per_page or config.per_page
        if rows:
            result.pages.append((page, rows))
        if len(rows) < per_page:  # (a) short/empty page
            result.completed = True
            return result
        if total is not None and page * per_page >= total:  # (b) envelope total
            result.completed = True
            return result
        page += 1


def fetch_media_pages_distributed(
    spark,
    media_ids: list[str],
    url_for: Callable[[str, int], str],
    transport_factory: Callable[[], Transport],
    *,
    config: PullConfig = PullConfig(),
    start_pages: dict[str, int] | None = None,
    parallelism: int | None = None,
):
    """Fan the page loop out over executors — one task per slice of
    media ids, each yielding (media_id, page, payload_json) rows.

    ``transport_factory`` is called once per executor task (sockets
    aren't picklable; factories are). Per-media errors are isolated to
    an error column instead of failing the stage (the reference's
    per-media try/except, bronze.py:261-265 → ST6).
    """
    import pandas as pd  # local import: executors re-import under Arrow

    starts = start_pages or {}
    n = parallelism or min(len(media_ids), 64) or 1
    from ..session import arrow_local_df

    media_df = arrow_local_df(
        spark,
        [(m, starts.get(m, 1)) for m in media_ids],
        "media_id string, start_page int",
    ).repartition(n, "media_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        for pdf in batches:
            out = []
            for media_id, start in zip(pdf["media_id"], pdf["start_page"]):
                try:
                    res = fetch_pages(
                        transport,
                        lambda p, m=media_id: url_for(m, p),
                        start_page=int(start),
                        config=config,
                    )
                    for page_no, rows in res.pages:
                        out.append(
                            (media_id, page_no, json.dumps(rows), res.completed, None)
                        )
                except Exception as exc:  # ST6: isolate, don't fail the stage
                    out.append((media_id, None, None, False, repr(exc)))
            yield pd.DataFrame(
                out, columns=["media_id", "page", "payload", "completed", "error"]
            )

    return media_df.mapInPandas(
        run,
        "media_id string, page int, payload string, completed boolean, error string",
    )
