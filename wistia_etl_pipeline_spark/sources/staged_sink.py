"""A two-phase-commit JSON sink as a Spark 4 Python DataSource WRITER.

Completes the engine's Python DataSource surface (``datasource.py``
implements the batch reader, the partitioned stream reader, and the
Simple fallback; this adds the WRITE side) and re-expresses the
reference's partitioned object-store sink contract (S4,
wistia_transform_bronze.py's put-object loop) through the DSv2 writer
protocol:

- each TASK writes its rows to a private staging file and returns a
  ``WriterCommitMessage`` carrying (staged path, row count, content
  checksum) — nothing a failed/speculated task wrote is ever visible;
- the DRIVER's ``commit`` renames every staged file into place and only
  then writes ``_MANIFEST.json`` (counts + checksums) — readers treat
  the manifest as the commit record, so a crash between renames leaves
  an uncommitted directory, never a torn dataset (the txlog
  put-if-absent philosophy at file-sink scale);
- ``abort`` deletes the staged files.

The checksum is the XOR of per-row md5 fingerprints — order- and
partitioning-independent, so a reader can re-derive it relationally and
verify transport (the dataset_release_manifest idiom).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class StagedFileCommit(WriterCommitMessage):
    staged_path: str
    rows: int
    xor60: int


class StagedJsonWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("staged_json requires option 'path'")
        self.overwrite = overwrite

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> StagedFileCommit:
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"task-{uuid.uuid4().hex}.json")
        rows = 0
        xor60 = 0
        with open(staged, "w", encoding="utf-8") as f:
            for row in iterator:
                rec = json.dumps(row.asDict(), sort_keys=True, default=str)
                digest = hashlib.md5(rec.encode()).hexdigest()[:15]
                xor60 ^= int(digest, 16)
                f.write(rec)
                f.write("\n")
                rows += 1
        return StagedFileCommit(staged_path=staged, rows=rows, xor60=xor60)

    # -- driver side ------------------------------------------------------
    def commit(self, messages) -> None:
        _commit(self.path, messages, "", "_MANIFEST.json", {})
        try:
            os.rmdir(os.path.join(self.path, "_staging"))
        except OSError:
            pass  # a raced writer may still be staging — leave it

    def abort(self, messages) -> None:
        _remove_staged(messages)


def _commit(
    path: str, messages, prefix: str, manifest_name: str, header: dict
) -> None:
    """Rename each staged file to ``<prefix>part-<i>.json`` in ``path``
    (empty ones are deleted), THEN write the manifest ``manifest_name``
    — ``header`` plus the files, total rows and XOR checksum — through
    a temp file and an atomic replace: the manifest is the commit
    record."""
    files = []
    total = 0
    xor60 = 0
    for i, m in enumerate(messages):
        if m is None or m.rows == 0:
            if m is not None:
                os.remove(m.staged_path)
            continue
        name = f"{prefix}part-{i:05d}.json"
        os.replace(m.staged_path, os.path.join(path, name))
        files.append({"path": name, "rows": m.rows, "xor60": m.xor60})
        total += m.rows
        xor60 ^= m.xor60
    manifest = {**header, "files": files, "total_rows": total, "xor60": xor60}
    tmp = os.path.join(path, f"_manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, manifest_name))


def _remove_staged(messages) -> None:
    for m in messages:
        if m is not None:
            try:
                os.remove(m.staged_path)
            except OSError:
                pass


class StagedJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "staged_json"

    def writer(self, schema, overwrite: bool) -> StagedJsonWriter:
        return StagedJsonWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return StagedJsonStreamWriter(self.options)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as f:
        return json.load(f)


def committed_files(path: str) -> list[str]:
    """Paths of the files the committed manifests in ``path`` list —
    the batch ``_MANIFEST.json`` or the per-epoch
    ``_MANIFEST-<id>.json`` ones, in manifest-name order. A file no
    manifest names (an epoch that died before its manifest landed) is
    never returned."""
    files = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_MANIFEST") and name.endswith(".json"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                files += [os.path.join(path, e["path"]) for e in json.load(f)["files"]]
    return files


class StagedJsonStreamWriter(DataSourceStreamWriter):
    """Streaming twin of the batch writer: same per-task staging and
    checksummed commit messages, but the driver commit lands one
    manifest PER EPOCH (``_MANIFEST-<batchId>.json``) — together with
    Spark's offset log this gives the sink exactly-once semantics: a
    replayed epoch rewrites the same manifest id instead of appending
    twice (idempotent by construction), and a reader consumes only
    epochs whose manifest exists."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("staged_json requires option 'path'")

    def write(self, iterator) -> StagedFileCommit:
        return StagedJsonWriter(
            {"path": self.path}, overwrite=False
        ).write(iterator)

    def commit(self, messages, batchId: int) -> None:
        _commit(
            self.path,
            messages,
            f"epoch-{batchId:06d}-",
            f"_MANIFEST-{batchId:06d}.json",
            {"batch_id": batchId},
        )

    def abort(self, messages, batchId: int) -> None:
        _remove_staged(messages)
