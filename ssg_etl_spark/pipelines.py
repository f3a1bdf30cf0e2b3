"""End-to-end incremental pipeline composition (SURVEY §3.1/§3.2 lifecycle,
re-expressed Spark-first).

One scheduled run of the reference's flagship DAG shape
(dags/ssg_gl_etl.py: watermark read → has-new-data gate → extract →
transform → load → watermark advance) as a single function over parquet
state. The aggregation load is **additive**: per-key partial sums from each
batch merge into the target by addition — exact for decomposable aggregates
(sum/count), so the target equals a from-scratch batch rollup after any
sequence of runs (`tests/test_pipeline.py` pins this invariant).

Exactly-once across crashes: the merged target commits through
``sources.sinks.commit_directory``, and its commit record carries the
run's audit row — the target and the watermark commit together, and the
next run reads the watermark from the record without a Spark job. After
the swap the audit row lands as ``log/<run id>.parquet`` (pyarrow, atomic
rename); a start that finds it missing writes it from the record. A crash
at ANY point leaves either no record (the batch replays into the
untouched target) or a record whose commit recovery completes — never a
double-count.
A target without a record was left by the earlier marker protocol after a
clean run: its watermark is read once from the log; that protocol's
crash leftover ``_commit.json`` raises ``LegacyCommitError``.
The swap uses local-FS rename; on HDFS/S3 swap this layer for a
transactional table format (Delta/Iceberg MERGE), keeping the same logic.

Every state read resolves its schema without a Spark job: the log reads
with ``schemas.ETL_LOG``, the target with the batch rollup's schema.

Scale: each run shuffles only the new batch (watermark-pruned scan, cached
once and reused for the audit aggregate + rollup — one source scan); the
merge joins target×delta on the rollup key — both aggregate-sized (days ×
types), not fact-sized.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssg_etl_spark.operators import incremental as inc
from ssg_etl_spark.operators.rollups import rollup_date_type
from ssg_etl_spark.schemas import ETL_LOG
from ssg_etl_spark.session import arrow_table
from ssg_etl_spark.sources import sinks

SOURCE_NAME = "events_rollup"
# ETL_LOG's timestamp fields, ISO strings in the target's commit record.
_TS = {f.name for f in ETL_LOG.fields if f.dataType.typeName().startswith("timestamp")}


class LegacyCommitError(RuntimeError):
    """A ``_commit.json`` left by a crash of the earlier marker protocol."""


def _read_or_none(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame | None:
    if not os.path.exists(path):
        return None
    return spark.read.schema(schema).parquet(path)


def merge_additive(
    target: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Additive merge of per-key partial aggregates (M5 variant for
    decomposable aggregates): full-outer join on the key, summed columns
    add, missing side contributes zero."""
    if target is None:
        return delta
    t = target.alias("t")
    d = delta.alias("d")
    cond = [t[k].eqNullSafe(d[k]) for k in keys]
    merged = t.join(d, cond, "full_outer")
    key_cols = [F.coalesce(t[k], d[k]).alias(k) for k in keys]
    # SUM of an all-NULL group is NULL — a key whose stored AND incoming
    # values are both NULL must stay NULL (coalescing to 0 would diverge
    # from the from-scratch rollup the pipeline invariant pins).
    val_cols = [
        F.when(t[c].isNull() & d[c].isNull(), F.lit(None))
        .otherwise(F.coalesce(t[c], F.lit(0)) + F.coalesce(d[c], F.lit(0)))
        .alias(c)
        for c in sum_cols
    ]
    return merged.select(*key_cols, *val_cols)


def _land_audit_row(log_dir: str, row: dict) -> None:
    """The run's audit row as ``log/<run id>.parquet``, unless it is there."""
    dest = os.path.join(log_dir, f"{row['process_log_id']}.parquet")
    if os.path.exists(dest):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(log_dir, exist_ok=True)
    buf = pa.BufferOutputStream()
    pq.write_table(arrow_table([row], ETL_LOG), buf)
    sinks.replace_file(dest, buf.getvalue().to_pybytes())


def _committed_row(record: dict) -> dict:
    """The audit row a target record carries, timestamps parsed back."""
    return {k: dt.datetime.fromisoformat(v) if k in _TS and v else v
            for k, v in record.items()}


def run_events_rollup_once(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    started_at: dt.datetime | None = None,
) -> dict:
    """One pipeline run. Returns run metrics (rows extracted, gate result).

    Rows with a NULL event time are excluded BY DESIGN: the strictly-greater
    watermark predicate can never admit them, and re-admitting them every
    run would double-count under the additive merge. Quarantine/repair
    NULL-timestamp rows upstream (sources/files.read_csv's corrupt-record
    channel is the ingest-side hook) — the from-scratch-equality invariant
    is over rows with event time.
    """
    os.makedirs(state_dir, exist_ok=True)

    # Single-writer guard: overlapping scheduled runs would double-count the
    # same batch (both read the old watermark). O_EXCL lock; a crash leaves
    # a stale lock which is taken over after one hour.
    lock = os.path.join(state_dir, "_run.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        import time

        try:
            mtime = os.path.getmtime(lock)
        except FileNotFoundError:
            # Holder released between our open and the stat; treat as busy —
            # the next scheduled run picks the batch up.
            return {"extracted": 0, "skipped": True, "reason": "lock contention"}
        if time.time() - mtime < 3600:
            return {"extracted": 0, "skipped": True, "reason": "run in progress"}
        # Stale-lock takeover must elect ONE winner (mtime check alone is a
        # TOCTOU: two waiters could both pass it). rename() is atomic — the
        # single successful renamer re-acquires; everyone else skips.
        stale = f"{lock}.stale-{os.getpid()}-{time.time_ns()}"
        try:
            os.rename(lock, stale)
        except FileNotFoundError:
            return {"extracted": 0, "skipped": True, "reason": "lock contention"}
        os.remove(stale)
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            return {"extracted": 0, "skipped": True, "reason": "lock contention"}
    try:
        return _run_locked(spark, events, state_dir, started_at)
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _run_locked(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    started_at: dt.datetime | None,
) -> dict:
    legacy = os.path.join(state_dir, "_commit.json")
    if os.path.exists(legacy):
        raise LegacyCommitError(
            f"{legacy}: a run of the earlier commit protocol crashed after "
            "its commit; finish it with that version, or delete this file "
            "and target__staging to replay the batch"
        )
    target = os.path.join(state_dir, "target")
    log_dir = os.path.join(state_dir, "log")
    sinks.recover_directory(target)
    committed = sinks.directory_record(target)
    if committed is None:  # fresh state, or a target the earlier protocol wrote
        log = _read_or_none(spark, log_dir, ETL_LOG)
        wm = None if log is None else inc.get_watermark(log, SOURCE_NAME)
    else:
        last = _committed_row(committed["audit_row"])
        _land_audit_row(log_dir, last)  # the swap landed, the row may not have
        wm = last["last_extract_ts"]

    if wm is not None and not inc.has_new_data(events, "ts", wm):
        return {"extracted": 0, "skipped": True}  # M4 gate: nothing new

    started = started_at or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    if wm is None:
        wm = inc.bootstrap_watermark(events, "ts")
    batch = inc.incremental_read(events, "ts", wm)
    batch.persist()  # one source scan feeds both the audit agg and the rollup
    try:
        log_row = inc.audit_row(SOURCE_NAME, batch, "ts", started)
        delta = rollup_date_type(batch)
        old = _read_or_none(spark, target, delta.schema)
        merged = merge_additive(
            old, delta, ["event_date", "event_type"], ["total_value", "n_events"]
        )
        sinks.commit_directory(merged.write, target, {"audit_row": log_row})
        _land_audit_row(log_dir, log_row)
        return {"extracted": log_row["rows_extracted"], "skipped": False}
    finally:
        batch.unpersist()
