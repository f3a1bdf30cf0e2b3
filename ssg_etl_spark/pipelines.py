"""End-to-end incremental pipeline composition (SURVEY §3.1/§3.2 lifecycle,
re-expressed Spark-first).

One scheduled run of the reference's flagship DAG shape
(dags/ssg_gl_etl.py: watermark read → has-new-data gate → extract →
transform → load → watermark advance) as a single function over parquet
state. The aggregation load is **additive**: per-key partial sums from each
batch merge into the target by addition — exact for decomposable aggregates
(sum/count), so the target equals a from-scratch batch rollup after any
sequence of runs (`tests/test_pipeline.py` pins this invariant).

Exactly-once across crashes: a staged-commit protocol. The merged target is
written to a staging directory, then a commit marker (atomic rename) makes
the run durable, then staging swaps into place and the audit-log row is
appended; `_recover` finishes any interrupted run at the next start. A
crash at ANY point either leaves the watermark unadvanced (batch replays
into an untouched target) or completes on recovery — never a double-count.
The audit row is built once per run, as a Python dict (one aggregate job
over the batch): the commit marker records it and the log append writes
it through ``session.local_frame``, so no Python worker runs and nothing
reads the row back from Spark.
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
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssg_etl_spark.operators import incremental as inc
from ssg_etl_spark.operators.rollups import rollup_date_type
from ssg_etl_spark.schemas import ETL_LOG
from ssg_etl_spark.session import local_frame

SOURCE_NAME = "events_rollup"


def _paths(state_dir: str) -> dict[str, str]:
    return {
        "log": os.path.join(state_dir, "log"),
        "target": os.path.join(state_dir, "target"),
        "staging": os.path.join(state_dir, "target__staging"),
        "marker": os.path.join(state_dir, "_commit.json"),
    }


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


def _write_marker(marker_path: str, payload: dict) -> None:
    tmp = marker_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.rename(tmp, marker_path)  # atomic on POSIX: this IS the commit point


def _log_has_run(spark: SparkSession, log_path: str, run_id: str) -> bool:
    log = _read_or_none(spark, log_path, ETL_LOG)
    if log is None:
        return False
    return log.filter(F.col("process_log_id") == run_id).limit(1).count() > 0


def _publish(spark: SparkSession, p: dict[str, str], log_row: dict | None) -> None:
    """Swap staging → target and append the audit row (an ``ETL_LOG``
    dict); safe to re-run."""
    if os.path.exists(p["staging"]):
        if os.path.exists(p["target"]):
            shutil.rmtree(p["target"])
        os.rename(p["staging"], p["target"])
    if log_row is not None:
        local_frame(spark, [log_row], ETL_LOG).write.mode("append").parquet(p["log"])
    os.remove(p["marker"])


def _recover(spark: SparkSession, p: dict[str, str]) -> None:
    """Finish (or discard) whatever a crashed previous run left behind."""
    if os.path.exists(p["marker"]):
        with open(p["marker"]) as f:
            committed = json.load(f)
        run_id = committed["run_id"]
        if _log_has_run(spark, p["log"], run_id):
            # Swap + log landed; only the marker removal was lost.
            _publish(spark, p, None)
        else:
            raw = committed["log_row"]
            parsed = {
                f.name: (
                    dt.datetime.fromisoformat(raw[f.name])
                    # startswith: matches TIMESTAMP and TIMESTAMP_NTZ (the
                    # audit log's type since the round-8 NTZ contract).
                    if raw.get(f.name) is not None
                    and f.dataType.typeName().startswith("timestamp")
                    else raw.get(f.name)
                )
                for f in ETL_LOG.fields
            }
            _publish(spark, p, parsed)
    elif os.path.exists(p["staging"]):
        shutil.rmtree(p["staging"])  # un-committed staging: discard


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
    p = _paths(state_dir)
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
        return _run_locked(spark, events, p, started_at)
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _run_locked(
    spark: SparkSession,
    events: DataFrame,
    p: dict[str, str],
    started_at: dt.datetime | None,
) -> dict:
    _recover(spark, p)

    log = _read_or_none(spark, p["log"], ETL_LOG)
    if log is None:
        log = inc.empty_log(spark)

    wm = inc.get_watermark(log, SOURCE_NAME)
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
        target = _read_or_none(spark, p["target"], delta.schema)
        merged = merge_additive(
            target, delta, ["event_date", "event_type"], ["total_value", "n_events"]
        )
        merged.write.mode("overwrite").parquet(p["staging"])  # 1) stage
        marker_row = {
            k: (v.isoformat() if isinstance(v, dt.datetime) else v)
            for k, v in log_row.items()
        }
        _write_marker(p["marker"], {"run_id": log_row["process_log_id"], "log_row": marker_row})  # 2) commit
        _publish(spark, p, log_row)  # 3) swap + audit append + marker removal
        return {"extracted": log_row["rows_extracted"], "skipped": False}
    finally:
        batch.unpersist()
