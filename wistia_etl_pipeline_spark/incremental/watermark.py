"""Watermark / checkpoint state machine — ST1-ST3 (SURVEY.md §2.7).

The reference tracks, per media id, a high-water mark (``updated`` ISO
timestamp) and an events checkpoint (``next_page``,
``last_received_at``) in a single JSON control document on S3
(bronze.py:48-77, configs/watermarks.json). Each run makes one of three
decisions per media (bronze.py:173-178):

- **skip**       remote ``updated`` <= stored watermark → nothing changed
- **resume**     a checkpoint exists → continue paging from ``next_page``
- **full_pull**  changed and no checkpoint → start from page 1

We keep that state machine as *pure functions* (unit-testable, no I/O)
plus one storage adapter, :class:`JsonStateStore` — a single small JSON
control document, like the reference's (fine: the state is O(#media),
kilobytes).

Streaming equivalence: under Structured Streaming this whole module is
replaced by ``checkpointLocation`` (offsets) + ``withWatermark`` (event
time) — see ``streaming/pipeline.py``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any

# Decision outcomes (bronze.py:173-178)
SKIP = "skip"
RESUME = "resume"
FULL_PULL = "full_pull"

#: Sentinel for "never seen" (the reference's far-past default,
#: bronze.py:153).
EPOCH = "1970-01-01T00:00:00Z"

#: Sentinel for "remote updated unknown" (the reference's far-FUTURE
#: fallback, bronze.py:163-169): an unknown metadata timestamp must
#: force a pull, never silently skip the media.
FAR_FUTURE = "2099-01-01T00:00:00Z"


def updated_from_meta(meta: dict | None) -> str:
    """P4 — the reference's dict-level null-coalescing fallback chain
    (bronze.py:163-169): ``updated or updated_at or created or
    created_at or FAR_FUTURE``. The far-future default makes a media
    with no usable timestamp ALWAYS pull (better a redundant idempotent
    pull than a silently never-ingested media)."""
    meta = meta or {}
    return (
        meta.get("updated")
        or meta.get("updated_at")
        or meta.get("created")
        or meta.get("created_at")
        or FAR_FUTURE
    )


@dataclass(frozen=True)
class MediaState:
    """Normalized per-media watermark state (ST3 normalizes legacy
    plain-string entries into this shape, bronze.py:48-55)."""

    updated: str = EPOCH
    next_page: int | None = None
    last_received_at: str | None = None


def normalize_media_state(raw: Any) -> MediaState:
    """ST3 — accept both state shapes the reference tolerates:
    a legacy bare ISO string, or ``{updated, events_checkpoint:
    {next_page, last_received_at}}`` (bronze.py:48-55)."""
    if raw is None:
        return MediaState()
    if isinstance(raw, str):
        return MediaState(updated=raw)
    if isinstance(raw, MediaState):
        return raw
    cp = raw.get("events_checkpoint") or {}
    return MediaState(
        updated=raw.get("updated") or EPOCH,
        next_page=cp.get("next_page"),
        last_received_at=cp.get("last_received_at"),
    )


def _iso_key(ts: str) -> str:
    """UTC-normalized ISO strings order lexicographically ≡
    chronologically (the invariant the reference's string-max at
    bronze.py:220 relies on). Normalize the two accepted suffix forms
    so the comparison is safe."""
    return ts.replace("+00:00", "Z")


def decide(state: MediaState, remote_updated: str | None) -> str:
    """The three-way decision, reference-exact (bronze.py:173-176).

    FULL_PULL has priority over RESUME: ``do_full_pull = updated >
    last_seen`` is evaluated first, and resume only applies when the
    remote is NOT newer. A metadata change during an interrupted pull
    therefore restarts from page 1 (losing nothing) instead of
    resuming into a feed whose upstream state moved. ``None`` remote
    means the metadata had no usable timestamp — far-future sentinel,
    forced pull (bronze.py:169)."""
    if remote_updated is None:
        remote_updated = FAR_FUTURE
    if _iso_key(remote_updated) > _iso_key(state.updated):
        return FULL_PULL
    if state.next_page is not None:
        return RESUME
    return SKIP


def fold_checkpoint(
    state: MediaState,
    *,
    remote_updated: str,
    action: str,
    pages_done: bool,
    next_page: int,
    max_received_at: str | None,
) -> MediaState:
    """Fold one run's outcome into the next state, reference-exact
    (bronze.py:240-247: ``updated = updated_iso if do_full_pull else
    last_seen_iso``; checkpoint recorded iff the pull didn't finish).

    On FULL_PULL the watermark advances to the remote ``updated``
    CAPTURED WHEN THE PULL STARTED — even if the pull was interrupted.
    The saved checkpoint then drives resumes, and resume completion
    keeps the captured watermark (NOT the fresh remote value), so a
    metadata update that lands while a pull sits interrupted makes the
    next decide() a catch-up FULL_PULL instead of being skipped
    forever — the round-1 resume-loss bug (ADVICE r1 #2).
    """
    last = max(
        filter(None, [state.last_received_at, max_received_at]),
        key=_iso_key,
        default=None,
    )
    return MediaState(
        updated=remote_updated if action == FULL_PULL else state.updated,
        next_page=None if pages_done else next_page,
        last_received_at=last,
    )


# --------------------------------------------------------------------------
# Storage adapters
# --------------------------------------------------------------------------


class JsonStateStore:
    """S7 — the control document, one JSON file (bronze.py:57-77).

    The reference stores ``{media_id: state}`` pretty-printed on S3;
    any fsspec-style path works here. State is O(#media ids) — this is
    deliberately NOT a big-data path.
    """

    def __init__(self, path: str):
        self.path = path

    def read(self) -> dict[str, MediaState]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path, encoding="utf-8") as f:
            raw = json.load(f)
        return {k: normalize_media_state(v) for k, v in raw.items()}

    def write(self, states: dict[str, MediaState]) -> None:
        doc = {
            k: {
                "updated": s.updated,
                "events_checkpoint": (
                    None
                    if s.next_page is None
                    else {"next_page": s.next_page, "last_received_at": s.last_received_at}
                ),
            }
            for k, s in states.items()
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=2, sort_keys=True)  # pretty, like bronze.py:73
        os.replace(tmp, self.path)  # atomic on posix
