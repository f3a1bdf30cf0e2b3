"""Incremental watermark framework (SURVEY §2.9 M1-M4).

Re-expresses the reference's etl_extract_log protocol:
* M1 watermark read  — MAX(lastextractdatetime) per source (dags/ssg_gl_etl.py:97-124)
* M2 bootstrap       — first run falls back to MIN(event time) (:205-225)
* M3 advance + audit — append one log row per run (:127-181, :465-497)
* M4 has-new gate    — COUNT(*) > wm branch (:543-605)

State lives in a small append-only parquet log table (schemas.ETL_LOG);
reads are `agg(max)` over it. At 100 TB the log stays tiny (one row per
run) — always broadcast, never a shuffle.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssg_etl_spark.schemas import ETL_LOG
from ssg_etl_spark.session import local_frame


def empty_log(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], ETL_LOG)


def get_watermark(log: DataFrame, source: str):
    """M1: latest successful watermark for a source, or None (→ bootstrap)."""
    row = (
        log.filter((F.col("source_connection") == source) & F.col("success"))
        .agg(F.max("last_extract_ts").alias("wm"))
        .first()
    )
    return row["wm"] if row else None


def bootstrap_watermark(df: DataFrame, ts_col: str):
    """M2: first-run watermark = just before MIN(event time) so the strictly
    greater filter still admits the earliest rows."""
    row = df.agg(F.min(ts_col).alias("mn")).first()
    if row["mn"] is None:
        return None
    return row["mn"] - dt.timedelta(microseconds=1)


def incremental_read(df: DataFrame, ts_col: str, watermark) -> DataFrame:
    """M4/P5: strictly-greater watermark filter — pushed to the parquet scan
    by Catalyst, so old partitions are never read.

    The watermark literal goes through ``utc_ts_lit`` (TIMESTAMP_NTZ):
    ``F.lit(datetime)`` would build a session-rendered TIMESTAMP whose
    comparison against the NTZ column coerces through the ambient session
    zone — the round-8 tz sweep caught exactly that shift here."""
    if watermark is None:
        return df
    from ssg_etl_spark.functions.scalar import utc_ts_lit

    return df.filter(F.col(ts_col) > utc_ts_lit(watermark))


def has_new_data(df: DataFrame, ts_col: str, watermark) -> bool:
    """M4 gate: cheap existence probe (limit 1, not a full count)."""
    return bool(incremental_read(df, ts_col, watermark).limit(1).take(1))


def audit_row(
    source: str,
    batch: DataFrame,
    ts_col: str,
    started_at: dt.datetime,
    success: bool = True,
    status: str = "completed",
    error_message: str | None = None,
) -> dict:
    """M3: the one audit/advance record (``schemas.ETL_LOG`` fields) for a
    finished batch, as a Python dict — one aggregate job over the batch."""
    agg = batch.agg(
        F.count(F.lit(1)).alias("n"), F.max(ts_col).alias("mx")
    ).first()
    return {
        "process_log_id": str(uuid.uuid4()),
        "source_connection": source,
        "rows_extracted": agg["n"],
        "started_at": started_at,
        "finished_at": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
        "last_extract_ts": agg["mx"],
        "success": success,
        "status": status,
        "error_message": error_message,
    }


def advance_watermark(
    spark: SparkSession,
    source: str,
    batch: DataFrame,
    ts_col: str,
    started_at: dt.datetime,
    success: bool = True,
    status: str = "completed",
    error_message: str | None = None,
) -> DataFrame:
    """M3: the one-row audit/advance record for a finished batch, as a
    local frame (``audit_row``'s dict).

    Caller appends it to the log table (`mode("append")`); the write is the
    only side effect in the protocol and is idempotent per process_log_id.
    """
    row = audit_row(
        source, batch, ts_col, started_at, success, status, error_message
    )
    return local_frame(spark, [row], ETL_LOG)


def run_incremental(
    spark: SparkSession,
    source_df: DataFrame,
    ts_col: str,
    log: DataFrame,
    source: str,
    started_at: dt.datetime | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full M1→M4 cycle: returns (incremental batch, new log row).

    The returned batch is lazy; the log row's count/max come from their own
    action. Against an immutable snapshot source (parquet files) the two
    scans agree; against a LIVE mutable source, persist or write the batch
    BEFORE deriving anything else from it so the audit row and the loaded
    rows describe the same data (pipelines.run_events_rollup_once persists).
    """
    started = started_at or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    wm = get_watermark(log, source)
    if wm is None:
        wm = bootstrap_watermark(source_df, ts_col)
    batch = incremental_read(source_df, ts_col, wm)
    log_row = advance_watermark(spark, source, batch, ts_col, started)
    return batch, log_row
