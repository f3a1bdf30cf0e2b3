"""Write-path operators (SURVEY §2.1 S2/S4/S6, §2.3 J11, §2.9 M14).

The reference lands data three ways — JDBC overwrite from Spark
(sparkFiles/sparkProcess.py:333-341), 1000-row batched ORM inserts
(dags/ssg_gl_etl.py:441-463), and pandas ``to_sql`` with 100k chunks
(build_etl_pipeline_python.py:42). Spark-native form: one atomic
``df.write`` per job; batching, parallelism, and retries are the
framework's job, not hand-rolled loops.

Scale design (the part that matters at 100 TB):

* **Partitioned layout** — ``partitionBy`` on the dominant filter columns
  (date, source) so downstream scans prune partitions instead of reading
  the world (SURVEY §4: the reference has no partitioned storage; we
  introduce it).
* **File sizing** — a partition-count cap before write avoids the
  many-small-files failure mode that kills object-store listings.
* **Modified-timestamp stamping** replaces the reference's AFTER-UPDATE
  triggers (dltproject/sql scripts/create trigger.sql:12-22, J11): the
  engine has no in-place update, so the stamp happens on the write path.
* **Directory commit** — every rewrite of a plain parquet directory (the
  ERP rollup target, the CDC upsert target, the span-dedup index,
  compaction) commits through ``commit_directory``: one rename-only swap
  whose every crash state ``recover_directory`` resolves.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from ssg_etl_spark.session import local_frame


def stamp_modified(df: DataFrame, col: str = "modified_at", batch_ts=None) -> DataFrame:
    """J11: ModifiedDate trigger → write-path timestamp column.

    ``batch_ts`` (datetime or ISO string) pins the stamp for reproducible /
    oracle-checked runs; default is wall-clock, like the reference trigger
    (dltproject/sql scripts/create trigger.sql:12-22). Both branches emit
    TIMESTAMP_NTZ in UTC wall time (the engine's time contract): a
    naive/string batch_ts parses zone-free via ``utc_ts_lit``, and the
    wall-clock default normalizes ``current_timestamp()`` (a
    session-rendered instant) through ``utc_wall`` — parsing/rendering
    through the ambient session timeZone would name a different wall time
    in every embedding application, and the two branches would otherwise
    disagree on the column type.
    """
    from ssg_etl_spark.functions.scalar import utc_ts_lit, utc_wall

    stamp = (
        utc_wall(F.current_timestamp())
        if batch_ts is None
        else utc_ts_lit(batch_ts)
    )
    return df.withColumn(col, stamp)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_files_per_partition: int | None = None,
) -> None:
    """S2/S4/S6: atomic partitioned parquet write.

    ``max_files_per_partition`` bounds files per output directory from BOTH
    sides: repartitioning on (partition columns + a salt in [0, max))
    spreads each partition value over at most ``max`` shuffle partitions —
    so a skewed 2 TB date writes up to ``max`` well-sized files instead of
    one giant one, and an unskewed date still collapses to few files.
    (Repartitioning on the partition columns alone would put each value in
    exactly ONE task → one giant file per directory.)
    """
    out = df
    if partition_by and max_files_per_partition:
        non_part = [c for c in df.columns if c not in partition_by]
        salt = F.pmod(F.hash(*[F.col(c) for c in non_part]), F.lit(max_files_per_partition))
        out = df.repartition(*[F.col(c) for c in partition_by], salt)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


_RECORD = "_record.json"  # "_": parquet readers skip it as metadata


def replace_file(path: str, data: bytes) -> None:
    """Publish one file atomically: write a hidden temp file beside
    ``path``, then ``os.replace`` it in — a reader sees all of it or
    nothing."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def directory_record(path: str) -> dict | None:
    """The record ``commit_directory`` committed with ``path``, or None —
    a file read, no Spark job."""
    try:
        with open(os.path.join(path.rstrip("/"), _RECORD)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _swap(path: str) -> None:
    """Renames only: target aside → stage in → aside copy removed."""
    stage, aside = path + "__staging", path + "__old"
    if os.path.exists(path):
        os.rename(path, aside)
    os.rename(stage, path)
    if os.path.exists(aside):
        shutil.rmtree(aside)


def commit_directory(
    writer: DataFrameWriter, path: str, record: dict | None = None
) -> None:
    """Replace the parquet directory ``path`` with ``writer``'s output:
    ``writer`` fills ``<path>__staging`` (its plan may read ``path``),
    the JSON ``record`` lands in the stage as ``_record.json`` — the
    commit point — and ``_swap`` renames it in. ``path`` is never
    half-deleted, and ``recover_directory`` (which callers run before
    reading ``path``) resolves any crash to exactly the last commit.
    ``record`` travels with the data (the ERP watermark, the span index's
    batch id); ``directory_record`` reads it. Local-FS renames; on an
    object store use a transactional table format instead.
    """
    path = path.rstrip("/")
    stage = path + "__staging"
    writer.mode("overwrite").parquet(stage)
    rec = json.dumps(record or {}, default=lambda v: v.isoformat())  # datetimes
    replace_file(os.path.join(stage, _RECORD), rec.encode())
    _swap(path)


def recover_directory(path: str) -> None:
    """Resolve what a crashed ``commit_directory`` left beside ``path``
    (a no-op on a clean layout). The swap only renames, so each layout
    names the crash point: a stage without its record never committed
    (discarded, however partial); a stage with it did (the swap is
    finished); aside + target means only the cleanup was lost (aside
    dropped); aside alone means the target vanished (aside restored).
    """
    path = path.rstrip("/")
    stage, aside = path + "__staging", path + "__old"
    if os.path.exists(stage) and directory_record(stage) is None:
        shutil.rmtree(stage)
    if os.path.exists(aside):
        if os.path.exists(path):
            shutil.rmtree(aside)
        elif not os.path.exists(stage):
            os.rename(aside, path)
    if os.path.exists(stage):
        _swap(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Maintenance: rewrite a parquet dataset into ~``target_file_bytes``
    files, returning the new file count.

    Long-running incremental pipelines accrete one small file per
    run/partition; at object-store scale the listing + open overhead of
    10^6 tiny files dominates scan time. Sizing uses the dataset's actual
    on-disk bytes (driver-side os.walk — metadata, not row data); a
    Hive-partitioned layout (``key=value`` directories) is preserved, with
    partition-column type inference disabled so ``src=01`` doesn't come
    back as bigint 1, and each partition is sized INDIVIDUALLY: a salt
    column bounded by ceil(partition_bytes / target) spreads a huge
    partition over many right-sized files while tiny partitions stay one
    file each (repartitioning on the partition columns alone would hash
    each value into exactly one task → one file per directory regardless
    of size). Returns the number of data files actually written.

    The rewrite commits through ``commit_directory`` (rename-only swap),
    and a crashed earlier compaction is resolved by ``recover_directory``
    first, so the live dataset is never half-deleted. Local-FS only — on
    an object store use a transactional table format's OPTIMIZE/rewrite
    instead (this guard raises rather than funneling a remote dataset
    through one task).
    """
    if "://" in path:
        raise ValueError(
            "compact_parquet sizes and swaps via the local filesystem; for "
            f"remote storage ({path!r}) use the table format's compaction"
        )
    path = path.rstrip("/")
    recover_directory(path)

    def dir_bytes(d: str) -> int:
        t = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if not f.startswith(("_", ".")):
                    t += os.path.getsize(os.path.join(root, f))
        return t

    def data_file_count(d: str) -> int:
        return sum(
            1
            for _root, _dirs, files in os.walk(d)
            for f in files
            if not f.startswith(("_", "."))
        )

    # Detect Hive-style partition directories (one branch is enough — the
    # layout is uniform) so the rewrite keeps the pruning structure.
    part_cols: list[str] = []
    probe = path
    while True:
        subdirs = [
            d for d in os.listdir(probe)
            if "=" in d and os.path.isdir(os.path.join(probe, d))
        ]
        if not subdirs:
            break
        part_cols.append(subdirs[0].split("=", 1)[0])
        probe = os.path.join(probe, subdirs[0])

    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old_infer = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")  # keep partition values verbatim
    try:
        df = spark.read.parquet(path)  # file index resolves here
    finally:
        spark.conf.set(infer_key, old_infer)

    if not part_cols:
        n_target = max(1, -(-dir_bytes(path) // target_file_bytes))  # ceil
        writer = df.repartition(n_target).write
    else:
        # Per-leaf-partition sizes → per-partition salt bounds. The walk
        # visits exactly len(part_cols) levels of key=value directories.
        leaves: list[tuple[list[str], int]] = []

        def walk_parts(d: str, vals: list[str]) -> None:
            if len(vals) == len(part_cols):
                leaves.append((vals, dir_bytes(d)))
                return
            for sub in os.listdir(d):
                full = os.path.join(d, sub)
                if "=" in sub and os.path.isdir(full):
                    walk_parts(full, vals + [sub.split("=", 1)[1]])

        walk_parts(path, [])
        rows = [
            (*vals, max(1, -(-size // target_file_bytes))) for vals, size in leaves
        ]
        schema = ", ".join(f"`{c}` string" for c in part_cols) + ", `_n_salts` int"
        salt_map = local_frame(spark, rows, schema)
        n_total = max(1, sum(r[-1] for r in rows))
        non_part = [c for c in df.columns if c not in part_cols]
        if not non_part:  # degenerate: partition cols only → nothing to salt on
            non_part = part_cols
        # Left join tolerates URL-escaped directory names that don't match
        # the decoded partition value — those partitions fall back to one
        # file. Salt = deterministic row hash bounded by the partition's
        # own file budget.
        arranged = (
            df.join(F.broadcast(salt_map), part_cols, "left")
            .withColumn(
                "_salt",
                F.pmod(
                    F.hash(*[F.col(c) for c in non_part]),
                    F.coalesce(F.col("_n_salts"), F.lit(1)),
                ),
            )
            .repartition(n_total, *[F.col(c) for c in part_cols], F.col("_salt"))
            .drop("_n_salts", "_salt")
        )
        writer = arranged.write.partitionBy(*part_cols)

    commit_directory(writer, path)
    return data_file_count(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table for CO-LOCATED joins (SURVEY §4 scale
    design: 'repartition/bucketing for co-located joins').

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle: each task reads matching bucket files from both
    sides (the plan shows no Exchange on the join key —
    ``tests/test_sources.py`` pins this). The in-bucket sort makes the join
    a streaming merge and improves min/max skipping. This is the parquet
    analog of the reference's clustered-index landing tables; at 100 TB,
    bucket the fact and its hot dimension on the join key once at write
    time and every downstream join of the pair skips its biggest shuffle.
    """
    # Pre-shuffle onto the bucket keys: without it every upstream task
    # writes its own file per bucket (P × num_buckets small files, and each
    # bucket fragmented across P files — the opposite of the point).
    arranged = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    writer = (
        arranged.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    )
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(table)


def jdbc_write_options(
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batch_size: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    truncate: bool = True,
) -> dict[str, str]:
    """S2: option map for a JDBC overwrite/append landing.

    Mirrors the reference's Spark JDBC overwrite
    (sparkFiles/sparkProcess.py:333-341) and replaces its 1000-row ORM
    insert loops (dags/ssg_gl_etl.py:441-463): ``batchsize`` is the insert
    batching, per-partition connections are the parallelism, and
    ``truncate=true`` keeps overwrite as TRUNCATE+INSERT instead of
    DROP+CREATE (preserves grants/indexes).
    """
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
        "truncate": str(truncate).lower(),
    }
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    if driver is not None:
        opts["driver"] = driver
    return opts


def jdbc_write(
    df: DataFrame, mode: str = "overwrite", num_partitions: int | None = None, **kwargs
) -> None:
    """S2/S4: land a DataFrame over JDBC (``kwargs`` as in
    ``jdbc_write_options``).

    ``num_partitions`` caps concurrent connections (a 1000-task write would
    open 1000 sessions — coalesce, don't shuffle, to bound it). Untestable
    in this sandbox (no database/driver jar); the option plumbing is
    unit-tested and this stays a thin ``.save()``.
    """
    out = df.coalesce(num_partitions) if num_partitions else df
    out.write.format("jdbc").options(**jdbc_write_options(**kwargs)).mode(mode).save()


def bigquery_write_options(
    table: str,
    temporary_gcs_bucket: str | None = None,
    write_method: str = "direct",
    partition_field: str | None = None,
    clustered_fields: list[str] | None = None,
) -> dict[str, str]:
    """S12: option map for the spark-bigquery connector sink.

    Mirrors the reference's pandas→BigQuery load
    (scripts/ETL Pipeline/gpc_extract_and_load.py:45 ``to_gbq``), Spark-form:
    ``format("bigquery")`` with either the Storage Write API (``direct``,
    no staging bucket) or ``indirect`` staging through GCS. Partition/
    cluster fields map the engine's partitioned-layout discipline onto the
    warehouse table.
    """
    if write_method not in ("direct", "indirect"):
        raise ValueError(f"write_method must be direct|indirect, got {write_method!r}")
    if write_method == "indirect" and not temporary_gcs_bucket:
        raise ValueError("indirect writes need temporary_gcs_bucket")
    opts = {"table": table, "writeMethod": write_method}
    if temporary_gcs_bucket:
        opts["temporaryGcsBucket"] = temporary_gcs_bucket
    if partition_field:
        opts["partitionField"] = partition_field
    if clustered_fields:
        opts["clusteredFields"] = ",".join(clustered_fields)
    return opts


def bigquery_write(df: DataFrame, mode: str = "append", **kwargs) -> None:
    """S12: land a DataFrame in BigQuery (``kwargs`` as in
    ``bigquery_write_options``). Needs the spark-bigquery connector jar on
    the cluster; untestable here, so the option plumbing is unit-tested and
    this stays a thin ``.save()``."""
    df.write.format("bigquery").options(**bigquery_write_options(**kwargs)).mode(
        mode
    ).save()


def replicate_table(
    spark: SparkSession, source_path: str, target_path: str
) -> None:
    """S14/M14: full-refresh copy — read source, atomically overwrite target
    (the reference DELETEs then re-inserts row-by-row,
    scripts/test/replicate_table.py:49-74; an overwrite write is the
    transactional equivalent with none of the partial-failure window)."""
    spark.read.parquet(source_path).write.mode("overwrite").parquet(target_path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_partitions: int = 32,
    mode: str = "overwrite",
) -> None:
    """Globally-ordered parquet export WITHOUT a single-partition sort:
    ``repartitionByRange`` samples the sort keys and range-partitions the
    data (file i holds keys strictly below file i+1), then each partition
    sorts locally — the distributed form of ORDER BY for exports consumed
    by binary search / merge readers / downstream range pruning. The
    anti-pattern this replaces (``orderBy().coalesce(1)``) funnels the
    whole dataset through one task; here every task sorts ~1/N of the
    rows, and min/max parquet stats on the sort key make readers skip
    files. Per-file order is pinned by test; cross-file order follows from
    the range exchange.
    """
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )
