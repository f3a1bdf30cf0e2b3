"""Snapshot versioning: manifest log, time travel, commit contracts."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from ssg_etl_spark.sources import versioning as V


@pytest.fixture()
def snap_dir():
    d = tempfile.mkdtemp(prefix="snaptest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"row{i}") for i in range(lo, hi)], "id long, val string"
    )


def test_append_commits_and_time_travel(spark, snap_dir):
    """v1 stays bit-stable after later appends; latest sees the union;
    version listing is ascending."""
    v1 = V.commit_snapshot(_df(spark, 0, 100), snap_dir)
    v2 = V.commit_snapshot(_df(spark, 100, 150), snap_dir)
    assert (v1, v2) == (1, 2)
    assert V.snapshot_versions(snap_dir) == [1, 2]
    got1 = {r.id for r in V.read_snapshot(spark, snap_dir, version=1).collect()}
    assert got1 == set(range(100))
    latest = {r.id for r in V.read_snapshot(spark, snap_dir).collect()}
    assert latest == set(range(150))
    # Re-read v1 AFTER reading latest: still the pinned file list.
    again = {r.id for r in V.read_snapshot(spark, snap_dir, version=1).collect()}
    assert again == got1


def test_overwrite_replaces_logically_keeps_history(spark, snap_dir):
    """overwrite makes the new version see only its own files, but every
    earlier version remains readable (no data deletion on commit)."""
    V.commit_snapshot(_df(spark, 0, 50), snap_dir)
    V.commit_snapshot(_df(spark, 500, 510), snap_dir, mode="overwrite")
    latest = {r.id for r in V.read_snapshot(spark, snap_dir).collect()}
    assert latest == set(range(500, 510))
    old = {r.id for r in V.read_snapshot(spark, snap_dir, version=1).collect()}
    assert old == set(range(50))


def test_duplicate_version_commit_refused(spark, snap_dir):
    """The single-writer contract surfaces a lost race as an error, not a
    silent manifest clobber."""
    V.commit_snapshot(_df(spark, 0, 10), snap_dir)
    # Simulate a concurrent committer having published v2 already.
    V._publish_manifest(snap_dir, 2, [])
    with pytest.raises(FileExistsError):
        V._publish_manifest(snap_dir, 2, ["x"])


def test_crashed_commit_is_invisible(spark, snap_dir):
    """Data files without a manifest (a commit that died before
    publication) are garbage, not corruption: readers never see them."""
    V.commit_snapshot(_df(spark, 0, 10), snap_dir)
    # Orphan data dir from a crashed v2 commit — no manifest written.
    _df(spark, 900, 910).write.parquet(
        os.path.join(snap_dir, "data", "v2-deadbeef")
    )
    assert V.snapshot_versions(snap_dir) == [1]
    got = {r.id for r in V.read_snapshot(spark, snap_dir).collect()}
    assert got == set(range(10))
    # The NEXT commit claims version 2 in its own unique dir: it must
    # succeed, and the orphan's rows must stay invisible.
    assert V.commit_snapshot(_df(spark, 10, 20), snap_dir) == 2
    latest = {r.id for r in V.read_snapshot(spark, snap_dir).collect()}
    assert latest == set(range(20))


def test_read_errors(spark, snap_dir):
    with pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, snap_dir)
    V.commit_snapshot(_df(spark, 0, 5), snap_dir)
    with pytest.raises(ValueError):
        V.read_snapshot(spark, snap_dir, version=9)


def test_vacuum_retention(spark, snap_dir):
    """Vacuum keeps the last N versions readable, deletes dropped
    manifests and every unreferenced data file (including crashed-commit
    orphans), and append-shared files survive as long as a kept manifest
    references them."""
    V.commit_snapshot(_df(spark, 0, 50), snap_dir)
    V.commit_snapshot(_df(spark, 50, 80), snap_dir)
    V.commit_snapshot(_df(spark, 800, 810), snap_dir, mode="overwrite")
    # Crashed-commit orphan.
    _df(spark, 900, 910).write.parquet(
        os.path.join(snap_dir, "data", "v4-orphan")
    )
    stats = V.vacuum_snapshots(snap_dir, keep_last=2)
    assert stats["versions_dropped"] == 1
    assert stats["files_deleted"] > 0
    assert V.snapshot_versions(snap_dir) == [2, 3]
    # v2 (append of v1) still reads fully: its manifest references v1's
    # files, so they survived the vacuum.
    got2 = {r.id for r in V.read_snapshot(spark, snap_dir, version=2).collect()}
    assert got2 == set(range(80))
    got3 = {r.id for r in V.read_snapshot(spark, snap_dir, version=3).collect()}
    assert got3 == set(range(800, 810))
    # Orphan data is gone from disk.
    assert not os.path.isdir(os.path.join(snap_dir, "data", "v4-orphan"))
    with pytest.raises(ValueError):
        V.read_snapshot(spark, snap_dir, version=1)


def test_vacuum_sweeps_orphan_temp_manifests(spark, snap_dir):
    """A publisher killed between mkstemp and os.replace strands a .tmp in
    _manifests/; vacuum must clear it (ADVICE r6) without touching real
    manifests."""
    V.commit_snapshot(_df(spark, 0, 10), snap_dir)
    tmp = os.path.join(snap_dir, "_manifests", "stranded123.tmp")
    with open(tmp, "w") as f:
        f.write("{}")
    V.vacuum_snapshots(snap_dir, keep_last=1)
    assert not os.path.exists(tmp)
    assert V.snapshot_versions(snap_dir) == [1]


def test_failed_publish_cleans_its_temp(spark, snap_dir):
    """A publish that raises mid-write (here: unserializable meta) leaves
    no .tmp behind."""
    with pytest.raises(TypeError):
        V._publish_manifest(snap_dir, 1, ["f"], meta={"bad": object()})
    leftovers = [
        n
        for n in os.listdir(os.path.join(snap_dir, "_manifests"))
        if n.endswith(".tmp")
    ]
    assert leftovers == []
    assert V.snapshot_versions(snap_dir) == []


def _rows(spark, snap_dir, version=None):
    return sorted(
        (r.id, r.val)
        for r in V.read_snapshot(spark, snap_dir, version).collect()
    )


def test_compact_snapshots_equality_and_file_count(spark, snap_dir):
    """Bin-packing OPTIMIZE (r9): many per-commit small files rewrite to
    the target-size layout as a NEW version with IDENTICAL rows; every
    pre-compaction version stays readable until vacuumed; vacuum then
    reclaims the small files."""
    # Minutes-cadence committer shape: 8 appends, one file each.
    for lo in range(0, 80, 10):
        V.commit_snapshot(_df(spark, lo, lo + 10).coalesce(1), snap_dir)
    before = _rows(spark, snap_dir)
    files_before = len(V._read_manifest(snap_dir, 8)["files"])
    assert files_before >= 8

    stats = V.compact_snapshots(spark, snap_dir, target_file_bytes=1 << 30)
    assert stats["compacted"] is True
    assert stats["files_before"] == files_before
    assert stats["files_after"] == 1  # all rows fit one target-size file
    assert V.snapshot_versions(snap_dir)[-1] == stats["version"] == 9

    assert _rows(spark, snap_dir) == before  # equality pin
    assert _rows(spark, snap_dir, version=8) == before  # history intact

    # Idempotence: an already-compact store is a no-op, no new version.
    again = V.compact_snapshots(spark, snap_dir, target_file_bytes=1 << 30)
    assert again["compacted"] is False
    assert V.snapshot_versions(snap_dir)[-1] == 9

    # Retention completes the story: vacuum to the compacted version
    # deletes every small pre-compaction file.
    stats = V.vacuum_snapshots(snap_dir, keep_last=1)
    assert stats["files_deleted"] >= files_before
    assert _rows(spark, snap_dir) == before


def test_compact_snapshots_crash_safety_mid_compaction(spark, snap_dir):
    """A compactor that dies after rewriting data but BEFORE the manifest
    publish leaves the store exactly as it was: same latest version, same
    rows; the rewritten files are unreferenced garbage that vacuum sweeps."""
    for lo in range(0, 30, 10):
        V.commit_snapshot(_df(spark, lo, lo + 10).coalesce(1), snap_dir)
    before = _rows(spark, snap_dir)

    real_publish = V._publish_manifest

    def exploding_publish(*a, **k):
        raise RuntimeError("simulated crash before manifest publish")

    V._publish_manifest = exploding_publish
    try:
        with pytest.raises(RuntimeError):
            V.compact_snapshots(spark, snap_dir, target_file_bytes=1 << 30)
    finally:
        V._publish_manifest = real_publish

    assert V.snapshot_versions(snap_dir) == [1, 2, 3]
    assert _rows(spark, snap_dir) == before
    # The half-written rewrite is invisible garbage; a retry succeeds and
    # claims the next version cleanly.
    retry = V.compact_snapshots(spark, snap_dir, target_file_bytes=1 << 30)
    assert retry["compacted"] is True and retry["version"] == 4
    assert _rows(spark, snap_dir) == before


def test_compact_snapshots_respects_target_size(spark, snap_dir):
    """A target smaller than the data splits into multiple evenly-sized
    files (ceil(total/target)), never one monolith."""
    V.commit_snapshot(_df(spark, 0, 20000).repartition(16), snap_dir)
    files = V._manifest_files(snap_dir, 1)
    total = sum(os.path.getsize(f) for f in files)
    target = total // 3  # expect ceil(total/target) = 4 (or 3) outputs
    stats = V.compact_snapshots(spark, snap_dir, target_file_bytes=target)
    assert stats["compacted"] is True
    assert 3 <= stats["files_after"] < stats["files_before"]
    assert _rows(spark, snap_dir) == _rows(spark, snap_dir, version=1)


def test_compact_snapshots_errors(spark, snap_dir):
    with pytest.raises(FileNotFoundError):
        V.compact_snapshots(spark, snap_dir)
    V.commit_snapshot(_df(spark, 0, 5), snap_dir)
    with pytest.raises(ValueError):
        V.compact_snapshots(spark, snap_dir, version=7)
    with pytest.raises(ValueError):
        V.compact_snapshots(spark, snap_dir, target_file_bytes=0)
    # r9 review finding: compacting a NON-latest version would publish its
    # rows as the new latest (silent rollback) and regress the carried
    # replay watermark — refuse loudly.
    V.commit_snapshot(_df(spark, 5, 10), snap_dir)
    with pytest.raises(ValueError, match="not the latest"):
        V.compact_snapshots(spark, snap_dir, version=1)
    before = _rows(spark, snap_dir)
    assert V.snapshot_versions(snap_dir) == [1, 2]
    assert _rows(spark, snap_dir) == before


def test_table_relocation_and_legacy_manifest(spark, snap_dir):
    """r10 (r9 portability finding): manifests store paths relative to the
    table root, so a committed table survives a wholesale move — time
    travel, compaction, meta, and vacuum all keep working at the new
    location — and a legacy format-1 manifest (absolute paths) still
    reads."""
    import json

    V.commit_snapshot(_df(spark, 0, 100).repartition(4), snap_dir)
    V.commit_snapshot(_df(spark, 100, 150), snap_dir, meta={"batch": 7})
    # Stored entries are relative: no leading separator, and the manifest
    # contains no trace of the scratch prefix.
    for v in (1, 2):
        for e in V._read_manifest(snap_dir, v)["files"]:
            assert not os.path.isabs(e), e
            assert e.startswith("data" + os.sep), e

    moved = snap_dir + "_moved"
    shutil.move(snap_dir, moved)
    try:
        assert V.snapshot_versions(moved) == [1, 2]
        got1 = {r.id for r in V.read_snapshot(spark, moved, version=1).collect()}
        assert got1 == set(range(100))
        latest = {r.id for r in V.read_snapshot(spark, moved).collect()}
        assert latest == set(range(150))
        assert V.snapshot_meta(moved, 2)["batch"] == 7
        # Compaction sizes files through the resolve seam at the new root.
        stats = V.compact_snapshots(spark, moved, target_file_bytes=1 << 30)
        assert stats["compacted"] is True and stats["version"] == 3
        assert {
            r.id for r in V.read_snapshot(spark, moved).collect()
        } == set(range(150))
        # Vacuum resolves referenced files at the new root too: it must
        # keep every file of the kept version.
        V.vacuum_snapshots(moved, keep_last=1)
        assert {
            r.id for r in V.read_snapshot(spark, moved).collect()
        } == set(range(150))
    finally:
        shutil.rmtree(moved, ignore_errors=True)


def test_legacy_absolute_manifest_still_reads(spark, snap_dir):
    """A format-1 manifest (absolute paths, pre-r10) reads unchanged, and
    an append on top of it carries the absolute entries as stored."""
    import json

    V.commit_snapshot(_df(spark, 0, 30), snap_dir)
    # Rewrite v1 as a legacy manifest with absolute paths.
    m = V._read_manifest(snap_dir, 1)
    legacy = {
        "format_version": 1,
        "version": 1,
        "files": sorted(V._manifest_files(snap_dir, 1)),
        "meta": {},
    }
    with open(V._manifest_path(snap_dir, 1), "w") as f:
        json.dump(legacy, f)
    assert {r.id for r in V.read_snapshot(spark, snap_dir).collect()} == set(
        range(30)
    )
    V.commit_snapshot(_df(spark, 30, 40), snap_dir)
    m2 = V._read_manifest(snap_dir, 2)
    assert m2["format_version"] == 2
    assert any(os.path.isabs(e) for e in m2["files"])  # carried as stored
    assert any(not os.path.isabs(e) for e in m2["files"])  # new ones relative
    assert {r.id for r in V.read_snapshot(spark, snap_dir).collect()} == set(
        range(40)
    )
    # An unknown future format still refuses loudly.
    bad = dict(m, format_version=99)
    with open(V._manifest_path(snap_dir, 1), "w") as f:
        json.dump(bad, f)
    with pytest.raises(ValueError, match="unsupported manifest format"):
        V.read_snapshot(spark, snap_dir, version=1)


def _typed_df(spark, lo, hi):
    import datetime as dt
    import decimal

    return spark.createDataFrame(
        [
            (
                i,
                dt.datetime(2024, 1, 1, 0, 0, i % 60),
                decimal.Decimal(i) / 100,
                [f"t{i}", None],
            )
            for i in range(lo, hi)
        ],
        "id long, ts timestamp_ntz, amt decimal(10,2), tags array<string>",
    )


def _resolve_jobs(spark, fn):
    """Spark jobs started while ``fn`` runs (a schema-inference scan
    starts one)."""
    sc = spark.sparkContext
    group = f"resolve-{id(fn)}"
    sc.setJobGroup(group, "resolve")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_manifest_schema_round_trip(spark, snap_dir):
    """A commit records its schema (NTZ, decimal and array types, every
    field nullable) and a read resolves with it: same schema, same rows,
    no schema-inference job."""
    from pyspark.sql import types as T

    df = _typed_df(spark, 0, 30)
    V.commit_snapshot(df, snap_dir)
    recorded = T.StructType.fromJson(V._read_manifest(snap_dir, 1)["schema"])
    assert recorded.simpleString() == (
        "struct<id:bigint,ts:timestamp_ntz,amt:decimal(10,2),tags:array<string>>"
    )
    assert all(f.nullable for f in recorded.fields)
    assert _resolve_jobs(spark, lambda: V.read_snapshot(spark, snap_dir).schema) == []
    got = V.read_snapshot(spark, snap_dir)
    assert got.schema == recorded
    assert sorted(got.collect()) == sorted(df.collect())


def test_manifest_without_schema_reads_by_inference(spark, snap_dir):
    """A manifest written before the schema field existed still reads
    (by inference), and an append on top of it records no schema."""
    import json

    V.commit_snapshot(_typed_df(spark, 0, 10), snap_dir)
    m = V._read_manifest(snap_dir, 1)
    del m["schema"]
    with open(V._manifest_path(snap_dir, 1), "w") as f:
        json.dump(m, f)
    got = V.read_snapshot(spark, snap_dir)
    assert sorted(got.collect()) == sorted(_typed_df(spark, 0, 10).collect())
    V.commit_snapshot(_typed_df(spark, 10, 20), snap_dir)
    assert V._read_manifest(snap_dir, 2)["schema"] is None
    assert V.read_snapshot(spark, snap_dir).count() == 20


def test_append_with_a_new_schema_records_none(spark, snap_dir):
    """An append whose schema differs from the previous version's keeps
    the inference read: the new manifest records no schema, and an append
    whose schema matches (nullability aside) keeps the recorded one."""
    from pyspark.sql import functions as F

    V.commit_snapshot(_df(spark, 0, 10), snap_dir)
    same = _df(spark, 10, 20).withColumn("id", F.coalesce("id", F.lit(0)))
    assert not same.schema["id"].nullable
    V.commit_snapshot(same, snap_dir)
    assert V._read_manifest(snap_dir, 2)["schema"] == V._read_manifest(
        snap_dir, 1
    )["schema"]
    V.commit_snapshot(_df(spark, 20, 30).withColumn("note", F.lit("n")), snap_dir)
    assert V._read_manifest(snap_dir, 3)["schema"] is None
    got = V.read_snapshot(spark, snap_dir)
    assert {r.id for r in got.collect()} == set(range(30))
    assert {r.id for r in V.read_snapshot(spark, snap_dir, version=2).collect()} == set(
        range(20)
    )


def test_compaction_carries_the_schema_forward(spark, snap_dir):
    """``compact_snapshots`` reads the version with its recorded schema
    and the compacted version records the same schema."""
    for lo in range(0, 40, 10):
        V.commit_snapshot(_typed_df(spark, lo, lo + 10), snap_dir)
    before = V._read_manifest(snap_dir, 4)["schema"]
    assert before is not None
    stats = V.compact_snapshots(spark, snap_dir, target_file_bytes=1 << 30)
    assert stats["compacted"] and stats["version"] == 5
    assert V._read_manifest(snap_dir, 5)["schema"] == before
    assert sorted(V.read_snapshot(spark, snap_dir).collect()) == sorted(
        _typed_df(spark, 0, 40).collect()
    )
