"""Snapshot versioning ("time travel") over parquet — reproducible
corpus pinning (BASELINE.json north-star extension; the lakehouse
counterparts are the Delta/Iceberg commit logs).

Why a training-data engine needs it: a 100 TB corpus is rebuilt and
appended continuously, but every training run must be able to name —
and re-read, bit-for-bit — the exact snapshot it consumed. Mutating a
directory of parquet in place cannot give that; a manifest log can.

Design (deliberately minimal, single-writer):
* Data files are immutable: every commit writes NEW parquet files under
  ``<path>/data/v<N>/`` and never touches previous files.
* A commit is one JSON manifest ``<path>/_manifests/v<N>.json`` listing
  every data file visible in that version (append commits carry the
  previous version's list plus the new files). Paths are stored RELATIVE
  to the table root and resolved at read, so a committed table can be
  moved or re-mounted wholesale (format 2, r10); legacy format-1
  manifests with absolute paths stay readable. The manifest directory
  IS the log — versions are discovered by listing it, and a version is
  readable forever regardless of later commits.
* Manifest publication is write-temp + ``os.replace`` (atomic on POSIX):
  a reader either sees a complete manifest or none; a crashed commit
  leaves data files that no manifest references — garbage, never
  corruption.
* Readers load exactly the manifest's file list (``spark.read.parquet``
  with explicit paths): time travel is O(manifest) metadata work, and
  file-level pruning/pushdown applies to the listed files as usual.
* A manifest records the schema of the files it lists (``schema``, the
  committed frame's ``StructType`` JSON with every field nullable, as a
  parquet read returns it), and readers scan with it, so a read
  resolves without a schema-inference job. An append whose frame
  schema differs from the previous version's records none, and so do
  manifests written before the field existed: those reads infer, as
  before.

Scale notes: the manifest holds file paths, not row data — at 128 MB
target files, 100 TB is ~800k paths; JSON is fine at this round's scale
and the format is versioned (``format_version``) so a real deployment
can shard manifests without changing callers. Concurrent writers need a
lock service (as Delta does on S3); this module documents and assumes a
single committer, which is the shape of a scheduled corpus-build DAG
(reference: scripts/ETL pipelines run one writer per table).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Format 2 (r10): manifests store data-file paths RELATIVE to the table
# root, so a committed table can be relocated (or mounted at a different
# prefix on another box/object store) without rewriting its log — the
# r9 portability finding. Readers resolve entries at read time and still
# accept format-1 manifests (absolute paths) for tables committed before
# the change.
FORMAT_VERSION = 2
_READABLE_FORMATS = (1, 2)


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _resolve_file(root: str, entry: str) -> str:
    """Resolve a manifest file entry against the table root. Relative
    entries (format 2) attach to wherever the table lives NOW; absolute
    and scheme-prefixed entries (legacy format 1) pass through
    unchanged. A SCHEME-PREFIXED root (``s3a://bucket/table``) joins
    with plain '/' — ``os.path.abspath`` would mangle the scheme into a
    local path (r11 seam test), and object-store URIs are not local
    paths to normalize."""
    if os.path.isabs(entry) or "://" in entry:
        return entry
    if "://" in root:
        return root.rstrip("/") + "/" + entry
    return os.path.join(os.path.abspath(root), entry)


def _manifest_files(path: str, version: int) -> list[str]:
    """A version's data files, resolved to readable paths."""
    return [
        _resolve_file(path, e) for e in _read_manifest(path, version)["files"]
    ]


def _file_size(resolved_path: str) -> int:
    """Size of one data file — the single seam every byte-sizing call
    goes through, so an object-store deployment swaps one function (a
    listing/HEAD call), not call sites."""
    return os.path.getsize(resolved_path)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version}.json")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending (empty list for a fresh path)."""
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        m = json.load(f)
    if m.get("format_version") not in _READABLE_FORMATS:
        raise ValueError(
            f"unsupported manifest format {m.get('format_version')!r}"
        )
    return m


def _publish_manifest(
    path: str,
    version: int,
    files: list[str],
    meta: dict | None = None,
    schema: dict | None = None,
) -> None:
    """Atomic manifest publication: temp file + os.replace. Refuses to
    overwrite an existing version (single-writer contract — a lost race
    surfaces as an error, not a silent clobber)."""
    target = _manifest_path(path, version)
    if os.path.exists(target):
        raise FileExistsError(
            f"version {version} already committed at {target}"
        )
    os.makedirs(_manifest_dir(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=_manifest_dir(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(
                {
                    "format_version": FORMAT_VERSION,
                    "version": version,
                    "files": sorted(files),
                    "meta": meta or {},
                    "schema": schema,
                },
                f,
            )
        os.replace(tmp, target)
    except BaseException:
        # A crash between mkstemp and os.replace must not strand the temp
        # file in _manifests/ forever (vacuum also sweeps stragglers from
        # hard kills that skip this handler).
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def snapshot_meta(path: str, version: int) -> dict:
    """Commit metadata recorded with a version (e.g. the streaming
    batch_id) — the idempotence key for replayed committers."""
    return _read_manifest(path, version).get("meta", {})


def last_batch_id(path: str) -> int:
    """Replay watermark of a streaming sink: the highest micro-batch id
    committed to ``path``, or -1 for an empty log.

    Streaming commits record it as ``max_batch_id`` in their meta,
    carried forward commit to commit (and through compaction), so one
    manifest read decides. Structured-streaming batch ids are monotone
    within a checkpoint lineage, so ``batch_id <= last_batch_id(path)``
    means the batch was already committed. Logs written before the key
    existed fall back to a scan of every version's ``batch_id``; their
    next commit upgrades them."""
    versions = snapshot_versions(path)
    if not versions:
        return -1
    latest = snapshot_meta(path, versions[-1])
    if "max_batch_id" in latest:
        return int(latest["max_batch_id"])
    bids = (snapshot_meta(path, v).get("batch_id") for v in versions)
    return max((int(b) for b in bids if b is not None), default=-1)


def snapshot_file_count(path: str, version: int | None = None) -> int:
    """Data-file count of a version (default latest) — the signal
    auto-compaction triggers on (one file accumulates per append
    commit; compaction resets the count)."""
    versions = snapshot_versions(path)
    if not versions:
        return 0
    if version is None:
        version = versions[-1]
    return len(_read_manifest(path, version)["files"])


def _nullable_json(schema_json):
    """A schema's JSON with every field, element and value nullable — the
    schema a parquet read of the committed files returns."""
    if isinstance(schema_json, list):
        return [_nullable_json(v) for v in schema_json]
    if not isinstance(schema_json, dict):
        return schema_json
    return {
        k: True
        if k in ("nullable", "containsNull", "valueContainsNull")
        else (v if k == "metadata" else _nullable_json(v))
        for k, v in schema_json.items()
    }


def _scan(spark: SparkSession, path: str, version: int) -> DataFrame:
    """A version's files, read with the manifest's recorded schema when
    it has one (no inference job), else with inference."""
    m = _read_manifest(path, version)
    files = [_resolve_file(path, e) for e in m["files"]]
    if m.get("schema") is None:
        return spark.read.parquet(*files)
    return spark.read.schema(T.StructType.fromJson(m["schema"])).parquet(*files)


def _data_files(data_dir: str) -> list[str]:
    return [
        os.path.join(data_dir, n)
        for n in os.listdir(data_dir)
        if n.endswith(".parquet")
    ]


def commit_snapshot(
    df: DataFrame, path: str, mode: str = "append", meta: dict | None = None
) -> int:
    """Commit ``df`` as the next version and return its number.

    ``mode='append'``: the new version sees every file of the previous
    version plus the new files (the corpus-growth commit).
    ``mode='overwrite'``: the new version sees ONLY the new files — a
    logical replace that still never deletes data, so every earlier
    version stays readable (retention/vacuum is a separate, explicitly
    destructive step a deployment schedules).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be 'append' or 'overwrite'")
    versions = snapshot_versions(path)
    version = (versions[-1] + 1) if versions else 1
    # Unique per-commit data dir (mkdtemp): an orphan dir from a crashed
    # earlier attempt at this version number can never collide with —
    # or leak rows into — this commit; only the manifest decides
    # visibility.
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    data_dir = tempfile.mkdtemp(
        prefix=f"v{version}-", dir=os.path.join(path, "data")
    )
    df.write.mode("overwrite").parquet(data_dir)
    root = os.path.abspath(path)
    files = [
        os.path.relpath(f, root)
        for f in _data_files(os.path.abspath(data_dir))
    ]
    schema = _nullable_json(df.schema.jsonValue())
    if mode == "append" and versions:
        # Carry prior entries AS STORED (a legacy-absolute entry stays
        # absolute; rewriting it relative would break if it points
        # outside the table root).
        prev = _read_manifest(path, versions[-1])
        files += prev["files"]
        if prev.get("schema") != schema:
            schema = None  # mixed or unknown file schemas: readers infer
    _publish_manifest(path, version, files, meta, schema)
    return version


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a committed version (default: latest). The plan scans exactly
    the manifest's file list — later commits never change what an
    already-pinned version returns."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return _scan(spark, path, version)


def compact_snapshots(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    version: int | None = None,
) -> dict:
    """Bin-pack a version's data files into ~``target_file_bytes`` files,
    committed as a NEW overwrite version with identical rows — the
    OPTIMIZE step a minutes-cadence micro-batch committer needs: the
    streaming folds and versioned appends add one (coalesced) file per
    commit, and at 100 TB that open-file/footer overhead — not data
    volume — becomes the first operational failure mode (the reference's
    Postgres sinks never had this problem, so the engine owns it;
    reference analog: the per-batch inserts of dags/ssg_gl_etl.py:441-463
    rely on the database to keep storage compact).

    Crash safety is inherited from the commit protocol: the rewrite lands
    in a fresh data dir and becomes visible only via the atomic manifest
    publish — a crash mid-compaction leaves unreferenced parquet files
    (garbage for ``vacuum_snapshots``), never a torn or double-counted
    version, and every pre-compaction version stays readable until
    vacuumed. Single shuffle (``repartition``) so output files are
    evenly sized; a no-op (already ≤ the target layout) returns without
    committing. The source version's commit meta is CARRIED FORWARD into
    the compacted version (merged under the compaction keys): streaming
    committers read their replay watermark (:func:`last_batch_id`) from
    the latest version's meta, and a compaction that dropped it would
    silently re-admit replayed batches. Returns ``{"compacted": bool,
    "version": committed-or-source version, "files_before": n,
    "files_after": m}``.
    """
    if target_file_bytes < 1:
        raise ValueError("target_file_bytes must be positive")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        version = versions[-1]
    # Only the LATEST version may be compacted: the rewrite is published
    # as the new latest, so compacting an older version would silently
    # roll the live table back to its rows AND regress the carried
    # replay watermark, re-admitting already-committed batches (r9
    # review finding). The explicit parameter exists so single-writer
    # callers can pin which version they believe is latest and fail
    # loudly on a race instead of compacting a surprise.
    if version != versions[-1]:
        raise ValueError(
            f"version {version} is not the latest ({versions[-1]}); "
            "compaction always publishes as the new latest, so only the "
            "latest version may be compacted"
        )
    files = _manifest_files(path, version)
    total_bytes = sum(_file_size(f) for f in files)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
    if len(files) <= n_out:
        return {
            "compacted": False,
            "version": version,
            "files_before": len(files),
            "files_after": len(files),
        }
    df = _scan(spark, path, version).repartition(n_out)
    new_version = commit_snapshot(
        df,
        path,
        mode="overwrite",
        meta={
            **snapshot_meta(path, version),
            "compaction_of": version,
            "files_before": len(files),
        },
    )
    files_after = len(_read_manifest(path, new_version)["files"])
    return {
        "compacted": True,
        "version": new_version,
        "files_before": len(files),
        "files_after": files_after,
    }


def vacuum_snapshots(path: str, keep_last: int = 1) -> dict:
    """Retention: drop all but the last ``keep_last`` versions and delete
    every data file no kept manifest references (including orphans from
    crashed commits). The ONE explicitly destructive step in the module —
    scheduled deliberately, never implied by a commit. Returns counts
    ``{"versions_dropped": n, "files_deleted": m}``.

    Time travel to a vacuumed version stops working by design; callers
    pin retention windows to their reproducibility requirements (e.g.
    "every snapshot a live training run consumed").
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(path)
    drop = versions[:-keep_last]
    keep = versions[-keep_last:]
    referenced: set[str] = set()
    for v in keep:
        referenced.update(
            os.path.abspath(f) for f in _manifest_files(path, v)
        )
    files_deleted = 0
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        for sub in os.listdir(data_root):
            d = os.path.join(data_root, sub)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                fp = os.path.abspath(os.path.join(d, name))
                if name.endswith(".parquet") and fp not in referenced:
                    os.remove(fp)
                    files_deleted += 1
            if not any(
                n.endswith(".parquet") for n in os.listdir(d)
            ):
                shutil.rmtree(d, ignore_errors=True)
    for v in drop:
        os.remove(_manifest_path(path, v))
    # Orphan temp manifests (publisher killed between mkstemp and replace —
    # e.g. SIGKILL, which skips _publish_manifest's own cleanup).
    md = _manifest_dir(path)
    if os.path.isdir(md):
        for name in os.listdir(md):
            if name.endswith(".tmp"):
                try:
                    os.unlink(os.path.join(md, name))
                except OSError:
                    pass
    return {"versions_dropped": len(drop), "files_deleted": files_deleted}
