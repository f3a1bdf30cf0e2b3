"""End-to-end incremental pipeline: N runs over growing data == one batch
rollup of everything; the no-new-data gate skips; reruns don't double-count."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ssg_etl_spark.operators import incremental as inc
from ssg_etl_spark.operators.rollups import rollup_date_type
from ssg_etl_spark.pipelines import SOURCE_NAME, run_events_rollup_once
from ssg_etl_spark.schemas import ETL_LOG
from ssg_etl_spark.sources.tables import load_table
from tests.conftest import COMMIT_CRASHES, InjectedCrash


def _snapshot(spark, path):
    return {
        (r.event_date, r.event_type): (round(r.total_value, 6), r.n_events)
        for r in spark.read.parquet(path + "/target").collect()
    }


def _want(events):
    return {
        (r.event_date, r.event_type): (round(r.total_value, 6), r.n_events)
        for r in rollup_date_type(events).collect()
    }


def _log(spark, state):
    return spark.read.schema(ETL_LOG).parquet(os.path.join(state, "log"))


def _tree(root):
    """Every file under ``root`` with its mtime."""
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    }


def test_incremental_runs_equal_batch(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p

    # Run 1 sees only the first half; run 2 sees everything.
    m1 = run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)
    assert m1["extracted"] > 0 and not m1["skipped"]
    m2 = run_events_rollup_once(spark, events, state)
    assert m2["extracted"] > 0 and not m2["skipped"]
    assert m1["extracted"] + m2["extracted"] == events.count()

    want = _want(events)
    assert _snapshot(spark, state) == want

    # Run 3: nothing new — the M4 gate skips, target unchanged.
    m3 = run_events_rollup_once(spark, events, state)
    assert m3 == {"extracted": 0, "skipped": True}
    assert _snapshot(spark, state) == want


@pytest.mark.parametrize("point", ["record_staged", "log_row_missing"])
def test_crash_after_commit_recovers_exactly_once(
    spark, sf_dir, tmp_path, crash_once, point
):
    """Run 2 dies after its commit point: with its record staged but not
    swapped in, or with the swap done but the audit row not landed. The
    next run finishes the commit (swap, then the log row from the record)
    and finds nothing new, instead of double-counting the batch."""
    from ssg_etl_spark.sources import sinks

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p
    run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)

    if point == "record_staged":
        crash_once(*COMMIT_CRASHES["recorded"])
    else:
        crash_once(sinks, "replace_file", lambda path, _: path.endswith(".parquet"))
    with pytest.raises(InjectedCrash):
        run_events_rollup_once(spark, events, state)
    staged = os.path.join(state, "target__staging")
    assert os.path.exists(staged) == (point == "record_staged")
    assert _log(spark, state).count() == 1  # run 2's row has not landed

    m = run_events_rollup_once(spark, events, state)
    assert m == {"extracted": 0, "skipped": True}
    assert not os.path.exists(staged)
    assert _snapshot(spark, state) == _want(events)
    log = _log(spark, state).collect()
    assert len(log) == 2 and sum(r.rows_extracted for r in log) == events.count()


def test_uncommitted_staging_is_discarded(spark, sf_dir, tmp_path):
    """Crash before the commit record: staging is discarded and the batch
    replays cleanly (watermark never advanced)."""
    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p
    run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)
    # Orphan staging dir, no record (crash mid-stage).
    os.makedirs(os.path.join(state, "target__staging"), exist_ok=True)
    m = run_events_rollup_once(spark, events, state)
    assert not m["skipped"] and m["extracted"] > 0
    assert _snapshot(spark, state) == _want(events)


@pytest.mark.parametrize("with_skip", [False, True], ids=["no_skip", "with_skip"])
def test_record_watermark_equals_log_watermark(spark, sf_dir, tmp_path, with_skip):
    """After every run, skipped ones included, the target's commit record
    holds the watermark the log gives (``get_watermark``), and the log
    holds one row per committed run, one file named by each run id."""
    import datetime as dt

    from ssg_etl_spark.sources.sinks import directory_record

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cuts = events.selectExpr(
        "percentile_approx(ts, array(0.3, 0.6, 1.0)) p"
    ).first().p
    for n, cut in enumerate(cuts, start=1):
        seen = events.filter(F.col("ts") <= cut)
        assert not run_events_rollup_once(spark, seen, state)["skipped"]
        if with_skip:
            assert run_events_rollup_once(spark, seen, state)["skipped"]
        rec = directory_record(os.path.join(state, "target"))["audit_row"]
        log = _log(spark, state)
        wm = inc.get_watermark(log, SOURCE_NAME)
        assert dt.datetime.fromisoformat(rec["last_extract_ts"]) == wm == cut
        ids = [r.process_log_id for r in log.collect()]
        assert len(set(ids)) == n and rec["process_log_id"] in ids
        assert sorted(os.listdir(os.path.join(state, "log"))) == sorted(
            f"{i}.parquet" for i in ids
        )
    assert _snapshot(spark, state) == _want(events)


def test_target_without_record_reads_watermark_from_log(spark, sf_dir, tmp_path):
    """A target the earlier marker protocol committed has no record: its
    watermark comes from the audit log, and the next run extracts exactly
    the rows past it."""
    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p
    m1 = run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)
    os.remove(os.path.join(state, "target", "_record.json"))
    m2 = run_events_rollup_once(spark, events, state)
    assert m1["extracted"] + m2["extracted"] == events.count()
    assert _snapshot(spark, state) == _want(events)


def test_legacy_commit_marker_raises(spark, sf_dir, tmp_path):
    """A ``_commit.json`` left by a crash of the earlier protocol raises a
    typed error naming the file; nothing is replayed or changed."""
    from ssg_etl_spark.pipelines import LegacyCommitError

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    run_events_rollup_once(spark, events.limit(10), state)
    marker = os.path.join(state, "_commit.json")
    with open(marker, "w") as f:
        f.write('{"run_id": "r", "log_row": {}}')
    before = _tree(state)
    with pytest.raises(LegacyCommitError, match=re.escape(marker)):
        run_events_rollup_once(spark, events, state)
    assert _tree(state) == before


def test_fresh_lock_skips_the_run(spark, sf_dir, tmp_path):
    """A held ``_run.lock`` (younger than an hour) skips the run and
    leaves the state, the lock included, untouched."""
    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    run_events_rollup_once(spark, events.limit(10), state)
    open(os.path.join(state, "_run.lock"), "w").close()
    before = _tree(state)
    m = run_events_rollup_once(spark, events, state)
    assert m == {"extracted": 0, "skipped": True, "reason": "run in progress"}
    assert _tree(state) == before


def test_stale_lock_is_taken_over(spark, sf_dir, tmp_path):
    """A lock older than an hour is a crashed holder's: the run takes it
    over, completes, and releases it."""
    import time

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    os.makedirs(state)
    lock = os.path.join(state, "_run.lock")
    open(lock, "w").close()
    old = time.time() - 3601
    os.utime(lock, (old, old))
    m = run_events_rollup_once(spark, events, state)
    assert m == {"extracted": events.count(), "skipped": False}
    assert not os.path.exists(lock)
    assert _snapshot(spark, state) == _want(events)


def test_lock_is_released_when_the_run_raises(spark, sf_dir, tmp_path, crash_once):
    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    crash_once(*COMMIT_CRASHES["recorded"])
    with pytest.raises(InjectedCrash):
        run_events_rollup_once(spark, events, state)
    assert not os.path.exists(os.path.join(state, "_run.lock"))
