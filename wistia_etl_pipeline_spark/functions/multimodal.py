"""Multimodal (image/audio/video) column plumbing — north-star extension.

Media payloads are opaque ``binary`` columns + a typed metadata struct;
decode and PCM-energy run as Arrow-batched ``mapInPandas`` stages;
frame sampling is pure expressions. The *Spark-side* plumbing —
schema, batch shapes, partition sizing, UDF signatures — is real and
tested; the codec calls themselves are stubbed (this environment ships no
image/audio libraries): ``decode_media_batch`` parses a deterministic
fake header, and the place a real codec (Pillow/ffmpeg/torchaudio)
would slot in is a single clearly-marked function.

Scale notes:
- Binary payloads make rows wide: size scan partitions by BYTES, not
  row counts (``spark.sql.files.maxPartitionBytes`` stays the lever
  because parquet binary columns count toward split size).
- Never ``collect()`` media; every transform is partition-local.
- Feature outputs (small fixed-width vectors) should be written to a
  SEPARATE table keyed by media_id: downstream training scans features
  without dragging payload bytes through the shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

#: Media table schema: payload + typed metadata (the multimodal
#: analogue of schemas.RAW_EVENT_SCHEMA).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("content_type", T.StringType()),
                    T.StructField("source_url", T.StringType()),
                    T.StructField("bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

#: Deterministic fake payload header: magic 'WMM1' + u32 width + u32
#: height + u32 n_frames (little-endian). Stands in for a real
#: container header until a codec library is available.
_MAGIC = b"WMM1"
_HEADER = struct.Struct("<4sIII")

DECODED_SCHEMA = (
    "media_id string, kind string, width int, height int, n_frames int, "
    "payload_bytes long, decode_error string"
)


def encode_fake_payload(width: int, height: int, n_frames: int = 1, body: bytes = b"") -> bytes:
    """Build a payload the stub decoder understands (test fixtures)."""
    return _HEADER.pack(_MAGIC, width, height, n_frames) + body


def _decode_one(payload: bytes) -> tuple[int, int, int]:
    """THE CODEC SLOT. Replace with a real decoder (PIL.Image.open /
    av.open / soundfile.read) when the libraries exist; everything
    around it — batching, schema, error isolation — is unchanged.

    Raises ``NotImplementedError`` for real media formats, parses the
    deterministic fake header otherwise.
    """
    if payload is None or len(payload) < _HEADER.size or payload[:4] != _MAGIC:
        raise NotImplementedError(
            "real media decoding requires an image/audio library not present "
            "in this environment; payload is not a WMM1 fake-header blob"
        )
    _magic, width, height, n_frames = _HEADER.unpack_from(payload)
    return width, height, n_frames


def decode_media_meta(df: DataFrame) -> DataFrame:
    """Decode payload headers to typed columns, Arrow-batched, with
    per-row error isolation (a corrupt blob yields a ``decode_error``
    row instead of failing the 100 TB scan)."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    w, h, nf = _decode_one(payload)
                    out.append((media_id, kind, w, h, nf, len(payload), None))
                except Exception as exc:
                    out.append(
                        (media_id, kind, None, None, None,
                         len(payload) if payload is not None else 0, repr(exc))
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "kind", "width", "height", "n_frames",
                    "payload_bytes", "decode_error",
                ],
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, DECODED_SCHEMA)


def frame_sample_plan(df: DataFrame, *, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame index,
    computed from the decoded header — the downstream decode-this-frame
    stage would join back to the payload by media_id. Pure expressions
    (the fan-out is a lateral explode, no Python)."""
    decoded = decode_media_meta(df)
    return decoded.filter(F.col("decode_error").isNull()).select(
        "media_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def pcm_window_energy(
    df: DataFrame, *, window_samples: int = 8
) -> DataFrame:
    """Windowed mean-square energy over 16-bit little-endian PCM
    payloads — the audio-feature sibling of ``decode_media_meta``:
    input rows carry (media_id, payload binary); output rows carry one
    (media_id, win, ms_energy) per non-overlapping sample window,
    where ms_energy = sum(sample^2) div window (exact integers — the
    RMS would need a sqrt; downstream thresholds compare squares).

    Arrow-batched ``mapInPandas``: payload bytes -> numpy int16 ->
    reshaped (n_win, window) -> per-window int64 reduction, vectorized
    per batch. Trailing samples that do not fill a window are dropped
    (documented; a production framer pads instead). This is the real
    100 TB plumbing — binary column in, typed feature rows out, no
    driver involvement; only a real codec (for compressed audio) is
    env-blocked, PCM needs none.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, wins, energies = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                s = np.frombuffer(bytes(payload), dtype="<i2")
                n_win = len(s) // window_samples
                if n_win == 0:
                    continue
                m = (
                    s[: n_win * window_samples]
                    .astype(np.int64)
                    .reshape(n_win, window_samples)
                )
                e = (m * m).sum(axis=1) // window_samples
                ids.extend([mid] * n_win)
                wins.extend(range(n_win))
                energies.extend(int(x) for x in e)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="object"),
                    "win": pd.Series(wins, dtype="int64"),
                    "ms_energy": pd.Series(energies, dtype="int64"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(
        kernel, "media_id string, win long, ms_energy long"
    )


def frame_cut_positions(
    df: DataFrame, *, frame_bytes: int = 16, threshold: int = 680
) -> DataFrame:
    """Scene-change detection over raw video frame buffers — the video
    sibling of ``pcm_window_energy``: input rows carry (media_id,
    payload binary) where the payload is n_frames consecutive
    fixed-size frame buffers; output rows carry one row per media with
    the detected cut positions (frame indices f >= 1 whose L1
    inter-frame distance sum(|frame_f - frame_{f-1}|) exceeds
    ``threshold``) plus the frame count. Exact integers end to end —
    the byte-domain L1 is the pre-codec analogue of the histogram /
    pixel-difference shot detectors (Boreczky & Rowe 1996's baseline
    family), and thresholds compare identically on any engine.

    Arrow-batched ``mapInPandas``: payload -> uint8 matrix
    (n_frames x frame_bytes) -> vectorized |diff| row sums -> one
    output row per media. Frames stay executor-local; at 100 TB the
    stage is linear in total frames and carries no shuffle of its own.
    A trailing partial frame is dropped (same contract as the PCM
    framer). Only a real codec (compressed video) would need the
    env-blocked library slot (``_decode_one``'s NotImplementedError);
    raw frame buffers need none.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, nfs, cuts = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                raw = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = len(raw) // frame_bytes
                if n_frames == 0:
                    continue
                m = (
                    raw[: n_frames * frame_bytes]
                    .astype(np.int64)
                    .reshape(n_frames, frame_bytes)
                )
                d = np.abs(np.diff(m, axis=0)).sum(axis=1)
                pos = (np.nonzero(d > threshold)[0] + 1).tolist()
                ids.append(mid)
                nfs.append(n_frames)
                cuts.append([int(p) for p in pos])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="object"),
                    "n_frames": pd.Series(nfs, dtype="int64"),
                    "cuts": pd.Series(cuts, dtype="object"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(
        kernel, "media_id string, n_frames long, cuts array<long>"
    )
