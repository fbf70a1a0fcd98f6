"""Transaction-log ACID table: snapshot isolation, crash consistency,
optimistic concurrency, vacuum retention (sources/txlog.py — the
crash-consistent MERGE path the vanilla rename-swap can't provide)."""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from wistia_etl_pipeline_spark.operators.merge import upsert
from wistia_etl_pipeline_spark.sources.txlog import TxLogTable, _put_if_absent


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _target(spark):
    return spark.createDataFrame(
        [Row(k="a", v=1), Row(k="b", v=2), Row(k="c", v=3)]
    )


def _stage(spark):
    return spark.createDataFrame([Row(k="b", v=20), Row(k="d", v=40)])


def test_overwrite_then_read_roundtrip(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    assert t.read(spark) is None
    v = t.overwrite(_target(spark))
    assert v == 0
    assert _rows(t.read(spark)) == _rows(_target(spark))


def test_merge_matches_vanilla_upsert(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    t.merge(spark, _stage(spark), ["k"])
    want = _rows(upsert(_target(spark), _stage(spark), ["k"]))
    assert _rows(t.read(spark)) == want


def test_merge_idempotent_replay(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    t.merge(spark, _stage(spark), ["k"])
    once = _rows(t.read(spark))
    t.merge(spark, _stage(spark), ["k"])  # crash-replay of the same delta
    assert _rows(t.read(spark)) == once


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """Data files written without a log commit (crash between write and
    commit) must never surface to readers."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    orphan = os.path.join(t.path, "data", "v00000001-deadbeef")
    _stage(spark).write.parquet(orphan)  # the crash: no manifest follows
    assert t.current_version() == 0
    assert _rows(t.read(spark)) == _rows(_target(spark))
    # vacuum reclaims the orphan, never the committed head
    removed = t.vacuum(keep_versions=1)
    assert any(p.startswith(orphan + os.sep) for p in removed)
    assert not os.path.exists(orphan)  # emptied directory pruned too
    assert _rows(t.read(spark)) == _rows(_target(spark))


def test_concurrent_reader_survives_commit(spark, tmp_path):
    """A reader pinned to version N keeps working — and can re-collect —
    while N+1 commits (the exact failure mode of overwrite-in-place)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    pinned = t.read(spark)  # snapshot at v0
    before = _rows(pinned)
    t.merge(spark, _stage(spark), ["k"])  # v1 commits underneath
    assert _rows(pinned) == before  # re-collect: v0 files untouched
    assert _rows(t.read(spark)) != before  # fresh read sees v1


def test_manifest_without_file_list_is_refused(spark, tmp_path):
    """A directory-scan manifest (no file list) fails loudly on read,
    append and vacuum; vacuum must never collect the data it names."""
    import json

    import pytest

    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    data_dir = os.path.dirname(os.path.join(t.path, t._manifest(0)["files"][0]["path"]))
    with open(os.path.join(t.log_dir, "00000000.json"), "w") as f:
        json.dump({"version": 0, "data_dir": os.path.relpath(data_dir, t.path)}, f)
    before = sorted(os.listdir(data_dir))
    for op in (
        lambda: t.read(spark),
        lambda: t.append(_stage(spark)),
        lambda: t.vacuum(keep_versions=1),
    ):
        with pytest.raises(ValueError, match="file list"):
            op()
    assert sorted(os.listdir(data_dir)) == before
    assert os.listdir(os.path.join(t.path, "data")) == [os.path.basename(data_dir)]


def test_put_if_absent_is_exclusive(tmp_path):
    dst = str(tmp_path / "00000001.json")

    def attempt(payload):
        tmp = str(tmp_path / f".tmp-{payload}")
        with open(tmp, "w") as f:
            f.write(payload)
        return _put_if_absent(tmp, dst)

    assert attempt("winner") is True
    assert attempt("loser") is False
    assert open(dst).read() == "winner"
    assert not any(p.name.startswith(".tmp") for p in tmp_path.iterdir())


def test_lost_race_retries_against_fresh_snapshot(spark, tmp_path):
    """Serializability: a writer that loses the commit race must
    recompute its upsert on the NEW snapshot, not blind-publish."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))

    # interleave: another writer commits k=c->300 between this merge's
    # snapshot read and its commit attempt
    real_commit = t._commit
    interleaved = {"done": False}

    def racing_commit(version, meta):
        if not interleaved["done"]:
            interleaved["done"] = True
            other = TxLogTable(t.path)
            other.merge(spark, spark.createDataFrame([Row(k="c", v=300)]), ["k"])
        return real_commit(version, meta)

    t._commit = racing_commit
    t.merge(spark, _stage(spark), ["k"])
    t._commit = real_commit

    got = {r.k: r.v for r in t.read(spark).collect()}
    # both writers' effects survive: the lost race was replayed on v1
    assert got == {"a": 1, "b": 20, "c": 300, "d": 40}
    assert t.current_version() == 2


def test_vacuum_retention(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    t.merge(spark, _stage(spark), ["k"])
    t.merge(spark, spark.createDataFrame([Row(k="e", v=5)]), ["k"])
    assert t.current_version() == 2
    head = _rows(t.read(spark))
    removed = t.vacuum(keep_versions=1)
    removed_dirs = {os.path.dirname(p) for p in removed}
    assert len(removed_dirs) == 2  # v0 + v1 data gone
    assert t.versions() == [2]
    assert _rows(t.read(spark)) == head


def test_manifest_stats_enable_file_skipping(spark, tmp_path):
    """Commits record per-file min/max; a ranged read opens only the
    overlapping files and still returns exactly the filtered rows."""
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("k2",))
    # 4 files with disjoint k2 ranges (repartitionByRange + sorted write)
    df = spark.range(0, 4000).select(
        F.col("id").alias("k2"), (F.col("id") % 7).alias("v")
    )
    t.overwrite(df.repartitionByRange(4, "k2").sortWithinPartitions("k2"))

    manifest_files = t._manifest(t.current_version())["files"]
    assert len(manifest_files) == 4
    assert all(f["stats"]["k2"] for f in manifest_files)

    # a range inside one file's span opens 1 file, not 4
    assert t.files_scanned(where=("k2", 100, 200)) == 1
    got = t.read(spark, where=("k2", 100, 200))
    assert got.count() == 101
    assert {r.k2 for r in got.collect()} == set(range(100, 201))

    # a range outside every file opens 0 and returns empty w/ schema
    assert t.files_scanned(where=("k2", 10_000, 20_000)) == 0
    empty = t.read(spark, where=("k2", 10_000, 20_000))
    assert empty.count() == 0 and set(empty.columns) == {"k2", "v"}

    # unranged read is the full snapshot
    assert t.read(spark).count() == 4000


def test_append_reuses_prior_files_without_rewrite(spark, tmp_path):
    """append() commits new files on top of the old snapshot: the head
    manifest references the previous version's files byte-for-byte (same
    paths, same mtimes — nothing was read or rewritten)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    v0_files = {
        os.path.join(t.path, f["path"]): os.path.getmtime(
            os.path.join(t.path, f["path"])
        )
        for f in t._manifest(0)["files"]
    }
    v1 = t.append(spark.createDataFrame([Row(k="d", v=4), Row(k="e", v=5)]))
    assert v1 == 1
    head_paths = {os.path.join(t.path, f["path"]) for f in t._manifest(1)["files"]}
    assert set(v0_files) < head_paths  # strict superset: old files reused
    for p, mtime in v0_files.items():
        assert os.path.getmtime(p) == mtime  # untouched on disk
    assert _rows(t.read(spark)) == _rows(_target(spark)) | {("d", 4), ("e", 5)}
    # time travel still works: v0 unchanged
    assert _rows(t.read(spark, version=0)) == _rows(_target(spark))


def test_vacuum_keeps_files_shared_with_append_head(spark, tmp_path):
    """File-level GC: after an append, the head still references v0's
    files — vacuum(keep_versions=1) must keep them and reclaim nothing
    the head needs."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    t.append(spark.createDataFrame([Row(k="x", v=9)]))
    head = _rows(t.read(spark))
    removed = t.vacuum(keep_versions=1)
    assert removed == [] or all(".crc" in p or "_SUCCESS" in p for p in removed)
    assert t.versions() == [1]
    assert _rows(t.read(spark)) == head  # shared files survived GC


def test_append_chain_then_merge_compacts(spark, tmp_path):
    """Appends accumulate files; a merge rewrites to a fresh snapshot
    whose manifest drops the accumulated list (Delta's OPTIMIZE-like
    effect via MERGE). Old versions stay readable until vacuumed."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    t.append(spark.createDataFrame([Row(k="d", v=4)]))
    t.append(spark.createDataFrame([Row(k="e", v=5)]))
    head_dirs = {os.path.dirname(f["path"]) for f in t._manifest(2)["files"]}
    assert len(head_dirs) == 3  # v0 dir + two append dirs accumulated
    t.merge(spark, _stage(spark), ["k"])  # v3: full rewrite
    merged_dirs = {os.path.dirname(f["path"]) for f in t._manifest(3)["files"]}
    assert len(merged_dirs) == 1 and merged_dirs.isdisjoint(head_dirs)  # compacted
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "d": 40, "e": 5}
    t.vacuum(keep_versions=1)
    assert {r.k: r.v for r in t.read(spark).collect()} == got


def test_append_on_empty_table_bootstraps(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    v = t.append(_target(spark))
    assert v == 0
    assert _rows(t.read(spark)) == _rows(_target(spark))


def test_read_changes_returns_only_appended_batches(spark, tmp_path):
    """Incremental consumption: a consumer that processed version N
    reads exactly the rows later appends added — never the base."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))  # v0
    t.append(spark.createDataFrame([Row(k="d", v=4)]))  # v1
    t.append(spark.createDataFrame([Row(k="e", v=5)]))  # v2
    assert _rows(t.read_changes(spark, 0)) == {("d", 4), ("e", 5)}
    assert _rows(t.read_changes(spark, 1)) == {("e", 5)}
    assert _rows(t.read_changes(spark, 0, to_version=1)) == {("d", 4)}
    # fully caught up: empty frame, schema preserved
    caught_up = t.read_changes(spark, 2)
    assert caught_up.count() == 0
    assert caught_up.columns == ["k", "v"]


def test_read_changes_refuses_rewrites_unless_snapshot(spark, tmp_path):
    """A merge/overwrite in the range removes files — the delta is not
    add-only, so the consumer must restate from a snapshot."""
    import pytest

    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))  # v0
    t.append(spark.createDataFrame([Row(k="d", v=4)]))  # v1
    t.merge(spark, _stage(spark), ["k"])  # v2: rewrite
    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(spark, 0)
    restated = t.read_changes(spark, 0, on_rewrite="snapshot")
    assert _rows(restated) == _rows(t.read(spark))
    # a range that stops before the rewrite is still incremental
    assert _rows(t.read_changes(spark, 0, to_version=1)) == {("d", 4)}


def _days(spark):
    return spark.createDataFrame(
        [
            Row(day=1, k="a", v=1),
            Row(day=1, k="b", v=2),
            Row(day=2, k="c", v=3),
            Row(day=3, k="d", v=4),
        ]
    )


def test_overwrite_partitions_backfills_only_touched_day(spark, tmp_path):
    """Dynamic partition overwrite: re-landing day=2 replaces exactly
    that partition's files; every other day's files are carried into
    the new manifest byte-identical (never read or rewritten)."""
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite_partitions(_days(spark), ["day"])  # v0 bootstrap
    untouched = {
        os.path.join(t.path, f["path"]): os.path.getmtime(
            os.path.join(t.path, f["path"])
        )
        for f in t._manifest(0)["files"]
        if f["partition"]["day"] != "2"
    }
    backfill = spark.createDataFrame(
        [Row(day=2, k="c", v=30), Row(day=2, k="e", v=50)]
    )
    v = t.overwrite_partitions(backfill, ["day"])
    assert v == 1
    assert _rows(t.read(spark)) == {
        (1, "a", 1), (1, "b", 2), (2, "c", 30), (2, "e", 50), (3, "d", 4),
    }
    head_paths = {os.path.join(t.path, f["path"]) for f in t._manifest(1)["files"]}
    assert set(untouched) <= head_paths
    for p, mtime in untouched.items():
        assert os.path.getmtime(p) == mtime
    # snapshot isolation: v0 still shows the original day=2
    assert _rows(t.read(spark, version=0)) == _rows(_days(spark))
    # vacuum reclaims only the replaced day's old files
    removed = t.vacuum(keep_versions=1)
    assert removed and all("__part_day=2" in p for p in removed)
    assert _rows(t.read(spark)) == {
        (1, "a", 1), (1, "b", 2), (2, "c", 30), (2, "e", 50), (3, "d", 4),
    }


def test_overwrite_partitions_refuses_unpartitioned_head(spark, tmp_path):
    import pytest

    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    with pytest.raises(ValueError, match="partition"):
        t.overwrite_partitions(
            spark.createDataFrame([Row(k="a", v=9)]), ["k"]
        )


def test_partition_overwrite_is_a_rewrite_for_read_changes(spark, tmp_path):
    """A consumer mid-stream over appends must notice a partition
    rewrite (files were removed) and restate from a snapshot."""
    import pytest

    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite_partitions(_days(spark), ["day"])  # v0
    t.overwrite_partitions(
        spark.createDataFrame([Row(day=2, k="z", v=99)]), ["day"]
    )  # v1 rewrites day=2
    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(spark, 0)
    assert _rows(t.read_changes(spark, 0, on_rewrite="snapshot")) == _rows(
        t.read(spark)
    )


def test_append_new_column_evolves_schema(spark, tmp_path):
    """merge_schema append: a new column widens the table schema; files
    from before the evolution read it as null (the manifest schema is
    authoritative at scan time — no old file is rewritten)."""
    import pytest

    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    wide = spark.createDataFrame([Row(k="d", v=4, w="x")])
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(wide)  # strict by default
    t.append(wide, merge_schema=True)
    got = t.read(spark)
    assert got.columns == ["k", "v", "w"]
    assert _rows(got) == {
        ("a", 1, None), ("b", 2, None), ("c", 3, None), ("d", 4, "x"),
    }
    # incremental read of the evolved range carries the widened schema
    assert _rows(t.read_changes(spark, 0)) == {("d", 4, "x")}


def test_append_missing_column_fills_null(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    narrow = spark.createDataFrame([Row(k="e")])
    t.append(narrow, merge_schema=True)
    assert _rows(t.read(spark)) == {
        ("a", 1), ("b", 2), ("c", 3), ("e", None),
    }


def test_append_type_change_always_refused(spark, tmp_path):
    import pytest

    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    retyped = spark.createDataFrame([Row(k="f", v="not-an-int")])
    with pytest.raises(ValueError, match="type"):
        t.append(retyped, merge_schema=True)
    # the failed append left no visible state and no garbage the head uses
    assert t.current_version() == 0
    assert _rows(t.read(spark)) == _rows(_target(spark))


def test_check_constraints_reject_bad_batch(spark, tmp_path):
    """CHECK constraints: a violating batch aborts BEFORE anything
    becomes visible — on every commit path. Null predicate results
    count as violations."""
    import pytest

    from wistia_etl_pipeline_spark.sources.txlog import ConstraintViolation

    t = TxLogTable(
        str(tmp_path / "t"),
        constraints={"v_positive": "v > 0", "k_not_null": "k IS NOT NULL"},
    )
    t.overwrite(_target(spark))  # all rows satisfy the checks
    bad = spark.createDataFrame([Row(k="x", v=-1), Row(k=None, v=2)])
    for op in (
        lambda: t.append(bad),
        lambda: t.overwrite(bad),
        lambda: t.merge(spark, bad, ["k"]),
    ):
        with pytest.raises(ConstraintViolation, match="v_positive"):
            op()
    assert t.current_version() == 0  # nothing landed
    assert _rows(t.read(spark)) == _rows(_target(spark))
    t.append(spark.createDataFrame([Row(k="d", v=4)]))  # clean batch OK
    assert ("d", 4) in _rows(t.read(spark))


def test_compact_rewrites_append_chain_without_changing_rows(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.overwrite(_target(spark))
    t.append(spark.createDataFrame([Row(k="d", v=4)]))
    t.append(spark.createDataFrame([Row(k="e", v=5)]))
    before = _rows(t.read(spark))
    n_files_before = len(t._manifest(2)["files"])
    v = t.compact(spark)
    assert v == 3
    assert _rows(t.read(spark)) == before  # same rows
    assert len(t._manifest(3)["files"]) == 1 < n_files_before
    # pre-compaction snapshot still readable until vacuumed
    assert _rows(t.read(spark, version=2)) == before
    # compaction is a rewrite for incremental consumers
    import pytest

    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(spark, 0)


# -- real concurrency stress (VERDICT r2 #5): racing writers -------------

def test_racing_appends_lose_no_batch_and_linearize(spark, tmp_path):
    """Two writers racing append+append: every batch must land exactly
    once and the version history must be gapless 0..N — the put-if-
    absent manifest commit (os.link) is the only arbiter."""
    import threading

    from wistia_etl_pipeline_spark.sources.txlog import TxLogTable

    table = TxLogTable(str(tmp_path / "t"))
    table.overwrite(spark.range(0).selectExpr("id AS k"))  # v0, file manifest

    per_writer, batch_rows = 4, 10
    errors: list[Exception] = []

    def writer(tag: int) -> None:
        try:
            for i in range(per_writer):
                base = tag * 100_000 + i * batch_rows
                df = spark.range(batch_rows).selectExpr(f"id + {base} AS k")
                table.append(df, max_retries=50)
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    # gapless, linearizable history: v0 + one version per committed batch
    assert table.versions() == list(range(2 * per_writer + 1))
    got = sorted(r.k for r in table.read(spark).collect())
    want = sorted(
        tag * 100_000 + i * batch_rows + j
        for tag in (1, 2)
        for i in range(per_writer)
        for j in range(batch_rows)
    )
    assert got == want  # no lost batch, no duplicated batch


def test_racing_append_and_merge_serialize(spark, tmp_path):
    """append vs merge racing on the same table: merge recomputes
    against the CURRENT snapshot on every retry, so whichever
    interleaving wins, the final state must contain every appended row
    AND the merged keys' staged values — no last-write-wins anomaly."""
    import threading

    from wistia_etl_pipeline_spark.sources.txlog import TxLogTable

    table = TxLogTable(str(tmp_path / "t"))
    table.overwrite(
        spark.createDataFrame(
            [(k, 0) for k in range(5)], "k long, v long"
        )
    )

    errors: list[Exception] = []

    def appender() -> None:
        try:
            for i in range(3):
                df = spark.createDataFrame(
                    [(1000 + i * 10 + j, -1) for j in range(10)], "k long, v long"
                )
                table.append(df, max_retries=50)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    def merger() -> None:
        try:
            for i in range(3):
                stage = spark.createDataFrame(
                    [(k, i + 1) for k in range(5)], "k long, v long"
                )
                table.merge(spark, stage, ["k"], max_retries=50)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=merger),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    assert table.versions() == list(range(7))  # v0 + 3 appends + 3 merges
    rows = {(r.k, r.v) for r in table.read(spark).collect()}
    appended = {(1000 + i * 10 + j, -1) for i in range(3) for j in range(10)}
    assert appended <= rows  # every appended row survived every merge
    base = {kv for kv in rows if kv[0] < 1000}
    # merged keys hold values from SOME committed merge generation —
    # never the overwritten 0s, never a torn mix beyond one generation
    # boundary per key pair (serializability: each merge saw a snapshot)
    assert {k for k, _ in base} == set(range(5))
    assert all(v >= 1 for _, v in base)


def test_snapshot_diff_classifies_all_fates(spark):
    from pyspark.sql import Row
    from wistia_etl_pipeline_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [
            Row(k=1, v=10, x="a"),   # unchanged
            Row(k=2, v=20, x="b"),   # changed (v)
            Row(k=3, v=30, x=None),  # changed (x: NULL -> value)
            Row(k=4, v=40, x="d"),   # removed
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, v=10, x="a"),
            Row(k=2, v=21, x="b"),
            Row(k=3, v=30, x="c"),
            Row(k=5, v=50, x="e"),   # added
        ]
    )
    got = {
        r.k: r
        for r in snapshot_diff(old, new, ["k"], ["v", "x"]).collect()
    }
    assert {k: r.status for k, r in got.items()} == {
        1: "unchanged",
        2: "changed",
        3: "changed",
        4: "removed",
        5: "added",
    }
    # old/new column carry-through, NULL on the absent side
    assert (got[2].old_v, got[2].new_v) == (20, 21)
    assert (got[4].new_v, got[4].new_x) == (None, None)
    assert (got[5].old_v, got[5].old_x) == (None, None)


def _range_laid_table(spark, tmp_path, rows, n_files=4):
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("k",))
    df = (
        spark.createDataFrame(rows, "k long, v string")
        .repartitionByRange(n_files, "k")
        .sortWithinPartitions("k")
    )
    t.overwrite(df)
    return t


def test_delete_prunes_and_carries_files(spark, tmp_path):
    rows = [Row(k=i, v=f"r{i}") for i in range(100)]
    t = _range_laid_table(spark, tmp_path, rows)
    before = {f["path"] for f in t._manifest(t.current_version())["files"]}
    v = t.delete(spark, ("k", 10, 19))
    m = t._manifest(v)
    # only the file(s) whose range can contain 10..19 were rewritten
    assert 0 < m["delete"]["files_rewritten"] < len(before)
    assert m["delete"]["files_carried"] > 0
    carried_now = {f["path"] for f in m["files"]} & before
    assert len(carried_now) == m["delete"]["files_carried"]
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == [i for i in range(100) if not 10 <= i <= 19]


def test_delete_preserves_null_keys(spark, tmp_path):
    rows = [Row(k=None, v="nk"), Row(k=5, v="r5"), Row(k=15, v="r15")]
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("k",))
    t.overwrite(spark.createDataFrame(rows, "k long, v string"))
    t.delete(spark, ("k", 0, 10))
    vs = sorted(r.v for r in t.read(spark).collect())
    assert vs == ["nk", "r15"]  # NULL never matches a range predicate


def test_delete_outside_all_ranges_is_noop_commit_free(spark, tmp_path):
    rows = [Row(k=i, v=f"r{i}") for i in range(20)]
    t = _range_laid_table(spark, tmp_path, rows)
    head = t.current_version()
    assert t.delete(spark, ("k", 1000, 2000)) == head  # nothing committed
    assert t.current_version() == head


def test_delete_is_a_rewrite_for_read_changes(spark, tmp_path):
    import pytest

    rows = [Row(k=i, v=f"r{i}") for i in range(40)]
    t = _range_laid_table(spark, tmp_path, rows)
    v0 = t.current_version()
    t.delete(spark, ("k", 0, 9))
    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(spark, v0)
    snap = t.read_changes(spark, v0, on_rewrite="snapshot")
    assert snap.count() == 30


def test_optimize_zorder_tightens_both_columns(spark, tmp_path):
    """Round-robin layout: every file spans the whole key domain, so
    file pruning is dead on BOTH columns. After OPTIMIZE ZORDER the
    manifest stats must prune each dimension to a fraction of the
    files — and the rows must be identical."""
    import random

    rng = random.Random(7)
    rows = [
        Row(k=rng.randrange(1000), v=float(rng.randrange(1000)), p=i)
        for i in range(4000)
    ]
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("k", "v"))
    df = spark.createDataFrame(rows, "k long, v double, p long")
    t.overwrite(df.repartition(8))
    before = sorted(r.p for r in t.read(spark).collect())
    n_files = len(t._manifest(t.current_version())["files"])
    assert t.files_scanned(where=("k", 0, 99)) == n_files
    assert t.files_scanned(where=("v", 0.0, 99.0)) == n_files
    v0 = t.current_version()
    t.optimize_zorder(spark, ["k", "v"], target_files=8)
    m = t._manifest(t.current_version())
    assert m["zorder_by"] == ["k", "v"]
    nf = len(m["files"])
    assert t.files_scanned(where=("k", 0, 99)) < nf
    assert t.files_scanned(where=("v", 0.0, 99.0)) < nf
    after = sorted(r.p for r in t.read(spark).collect())
    assert after == before  # OPTIMIZE is a no-op on data
    import pytest

    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(spark, v0)
