"""Structured Streaming slice: file micro-batches → windowed aggregate →
results equal the batch twin; foreachBatch CDC merge is idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssg_etl_spark.sources.tables import load_table
from ssg_etl_spark.streaming.pipeline import (
    foreach_batch_upsert,
    run_events_pipeline_once,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stream source: events split into files by event-time range, written
    in arrival order (a real source — Kafka, log shipper — delivers roughly
    event-time-ordered micro-batches; random file order would make most
    rows watermark-late, which is not the semantics under test)."""
    import os
    import time

    path = str(tmp_path_factory.mktemp("events_src"))
    events = load_table(spark, sf_dir, "events")
    bounds = events.selectExpr("min(ts) lo", "max(ts) hi").first()
    cuts = [bounds.lo + (bounds.hi - bounds.lo) * i / 4 for i in range(5)]
    base = time.time()
    seen: set[str] = set()
    for i in range(4):
        part = events.filter(
            (F.col("ts") >= cuts[i])
            & ((F.col("ts") < cuts[i + 1]) if i < 3 else (F.col("ts") <= cuts[i + 1]))
        )
        part.coalesce(1).write.mode("append").parquet(path)
        # FileStreamSource orders by modification time: space the batches out.
        for f in set(os.listdir(path)) - seen:
            t = base + i * 60
            os.utime(os.path.join(path, f), (t, t))
            seen.add(f)
    return path


def test_stream_matches_batch_twin(spark, sf_dir, events_dir, tmp_path):
    from ssg_etl_spark.plans.registry import load_all

    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    run_events_pipeline_once(spark, events_dir, ckpt, out)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in load_all(include_extra=True)["events_10min_window"]
        .builder(spark, sf_dir)
        .collect()
    }
    # Append mode emits a window once the watermark (max ts - 30 min) passes
    # its end; later windows stay open in state. Everything emitted must
    # match the batch twin exactly, and every closed window must be emitted.
    assert got, "stream emitted nothing"
    for key, val in got.items():
        assert val == want[key], key
    import datetime

    hi = max(ws for ws, _ in want)
    cutoff = hi - datetime.timedelta(minutes=40)  # watermark 30m + window 10m
    closed = {k for k in want if k[0] + datetime.timedelta(minutes=10) <= cutoff}
    missing = closed - set(got)
    assert not missing, sorted(missing)[:5]


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "target")
    apply = foreach_batch_upsert(target, keys=["k"])
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    apply(b1, 0)
    b2 = spark.createDataFrame([(2, "B"), (2, "B"), (3, "c")], ["k", "v"])
    apply(b2, 1)
    apply(b2, 1)  # replayed batch (at-least-once delivery)
    out = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_stateful_sessionization_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """applyInPandasWithState sessions == batch twin for sessions closed
    before the final watermark (open/timeout-pending sessions stay in
    state at availableNow termination)."""
    import datetime

    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import events_file_stream
    from ssg_etl_spark.streaming.stateful import sessionize_batch, sessionize_stream

    out = str(tmp_path / "sessions")
    q = (
        sessionize_stream(events_file_stream(spark, events_dir), 30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(out).collect()
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, round(r.total_value, 6))
        for r in sessionize_batch(events, 30).collect()
    }
    assert got, "no sessions emitted"
    for key, val in got.items():
        assert val == want[key], key
    # Coverage: every session that closed (gap passed) before the final
    # watermark minus slack must have been emitted.
    hi = events.agg(F.max("ts")).first()[0]
    cutoff = hi - datetime.timedelta(minutes=30 + 30 + 10)  # watermark+gap+slack
    closed = {k for k in want if k[2] <= cutoff}
    missing = closed - set(got)
    assert not missing, sorted(missing)[:3]


def test_native_session_window_stream_matches_batch(
    spark, sf_dir, events_dir, tmp_path
):
    """session_window on a STREAM (append mode) == the batch session_window
    twin for every session closed before the final watermark — the fully
    Catalyst-native counterpart of the applyInPandasWithState pin above;
    all four sessionization forms share one oracle."""
    import datetime

    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import events_file_stream
    from ssg_etl_spark.streaming.stateful import (
        sessionize_native,
        sessionize_native_stream,
    )

    out = str(tmp_path / "native_sessions")
    q = (
        sessionize_native_stream(events_file_stream(spark, events_dir), 30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            round(r.total_value, 6),
        )
        for r in spark.read.parquet(out).collect()
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            round(r.total_value, 6),
        )
        for r in sessionize_native(events, 30).collect()
    }
    assert got, "no sessions emitted"
    for key, val in got.items():
        assert val == want[key], key
    # Every session closed comfortably before the final watermark emitted.
    hi = events.agg(F.max("ts")).first()[0]
    cutoff = hi - datetime.timedelta(minutes=30 + 30 + 10)
    closed = {k for k in want if k[2] <= cutoff}
    missing = closed - set(got)
    assert not missing, sorted(missing)[:3]


def test_quality_gate_stream_splits_and_replays_safely(spark, tmp_path):
    """Dead-letter streaming ingest: rows failing any row rule land in
    quarantine WITH the failing rule names; passing rows append to the
    target; NULL rule verdicts fail the row; a replayed batch re-lands in
    neither sink (manifest batch-id watermark)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ssg_etl_spark.schemas import EVENTS
    from ssg_etl_spark.sources.versioning import read_snapshot
    from ssg_etl_spark.streaming.pipeline import foreach_batch_quality_gate

    day = dt.datetime(2024, 1, 1)
    rows = [
        (1, day, 7, "click", 1.0, None),
        (2, day, 8, "view", -3.0, None),      # fails value_positive
        (3, day, 9, "bogus", 2.0, None),      # fails known_type
        (4, day, 10, "view", None, None),     # NULL value -> fails value_positive
        (5, day, 11, "purchase", 5.0, None),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(src)

    target = str(tmp_path / "target")
    quarantine = str(tmp_path / "rejects")
    rules = {
        "value_positive": F.col("value") > 0,
        "known_type": F.col("event_type").isin("click", "view", "purchase"),
    }
    gate = foreach_batch_quality_gate(target, quarantine, rules)

    stream = (
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    good = {r.event_id for r in read_snapshot(spark, target).collect()}
    bad = {
        r.event_id: sorted(r.failed_rules)
        for r in read_snapshot(spark, quarantine).collect()
    }
    assert good == {1, 5}
    assert bad == {
        2: ["value_positive"],
        3: ["known_type"],
        4: ["value_positive"],
    }

    # Replay the same batch id: neither sink may grow.
    gate(spark.createDataFrame(rows, EVENTS), batch_id=0)
    assert {r.event_id for r in read_snapshot(spark, target).collect()} == good
    assert len(read_snapshot(spark, quarantine).collect()) == 3

    import pytest as _p

    with _p.raises(ValueError):
        foreach_batch_quality_gate(target, quarantine, {})


def test_quality_gate_auto_compaction_preserves_rows_and_watermark(
    spark, tmp_path
):
    """compact_every (r9): a multi-batch gated stream keeps the target's
    file count bounded by inline compaction; rows are unchanged; the
    replay watermark (max_batch_id) is CARRIED through compaction commits
    so a replayed batch is still skipped afterwards."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ssg_etl_spark.schemas import EVENTS
    from ssg_etl_spark.sources.versioning import (
        read_snapshot,
        snapshot_file_count,
        snapshot_meta,
        snapshot_versions,
    )
    from ssg_etl_spark.streaming.pipeline import foreach_batch_quality_gate

    day = dt.datetime(2024, 1, 1)
    rows = [(i, day, i, "click", float(i + 1), None) for i in range(24)]
    src = str(tmp_path / "src")
    # 6 source files → 6 micro-batches of 4 rows each.
    spark.createDataFrame(rows, EVENTS).repartition(6).write.parquet(src)

    target = str(tmp_path / "target")
    quarantine = str(tmp_path / "rejects")
    gate = foreach_batch_quality_gate(
        target,
        quarantine,
        {"value_positive": F.col("value") > 0},
        compact_every=3,
    )
    stream = (
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r.event_id for r in read_snapshot(spark, target).collect()}
    assert got == set(range(24))
    # Without compaction 6 commits = 6 files; with compact_every=3 the
    # latest version is bounded below that.
    assert snapshot_file_count(target) < 6
    comp_versions = [
        v
        for v in snapshot_versions(target)
        if "compaction_of" in snapshot_meta(target, v)
    ]
    assert comp_versions, "no compaction fired — fixture too small"
    # Every compaction commit carried the replay watermark forward.
    assert all(
        "max_batch_id" in snapshot_meta(target, v) for v in comp_versions
    )

    # Replay an already-committed batch: target unchanged (watermark
    # survives compaction commits).
    gate(spark.createDataFrame(rows[:4], EVENTS), batch_id=0)
    assert {r.event_id for r in read_snapshot(spark, target).collect()} == got

    import pytest as _p

    with _p.raises(ValueError):
        foreach_batch_quality_gate(target, quarantine, {"r": F.lit(True)}, compact_every=1)


def test_ge_checkpoint_drives_dead_letter_stream(spark, tmp_path):
    """The LITERAL reference checkpoint (adv_checkpoint.yml → adv_suite.json)
    wired to the streaming surface (r9 verdict #7): its column-map
    expectation (saleterritory not-null) quarantines rows carrying the
    suite/expectation name; its aggregate/structural expectations are
    evaluated per micro-batch and RECORDED to the audit table (row-count
    38809 fails on a 6-row stream, mean/max/type/exists pass); replays
    re-land in no sink."""
    import os

    import pytest as _pytest

    from ssg_etl_spark.sources.versioning import read_snapshot
    from ssg_etl_spark.streaming.pipeline import foreach_batch_ge_checkpoint_gate

    ge_root = (
        "/root/reference/scripts/ETL Pipeline/GreatExpectations/"
        "great_expectations"
    )
    cp_path = os.path.join(ge_root, "checkpoints", "adv_checkpoint.yml")
    suites = os.path.join(ge_root, "expectations")
    if not os.path.exists(cp_path):
        _pytest.skip("reference checkpoint not present")

    schema = (
        "row_id long, productcategory string, Sales double, "
        "saleterritory string, OrderQuantity int, StandardCost double"
    )
    rows = [
        (1, "bikes", 10.0, "EMEA", 5, 250.0),
        (2, "bikes", 11.0, None, 7, 260.0),  # fails saleterritory not-null
        (3, "parts", 12.0, "APAC", 9, 240.0),
        (4, "parts", 13.0, None, 11, 255.0),  # fails saleterritory not-null
        (5, "bikes", 14.0, "AMER", 13, 245.0),
        (6, "bikes", 15.0, "EMEA", 15, 250.0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    target = str(tmp_path / "target")
    quarantine = str(tmp_path / "rejects")
    audit = str(tmp_path / "audit")
    gate = foreach_batch_ge_checkpoint_gate(
        cp_path, suites, target, quarantine, audit
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    good = {r.row_id for r in read_snapshot(spark, target).collect()}
    bad = {
        r.row_id: list(r.failed_rules)
        for r in read_snapshot(spark, quarantine).collect()
    }
    assert good == {1, 3, 5, 6}
    rule = "adv_suite/expect_column_values_to_not_be_null(saleterritory)"
    assert bad == {2: [rule], 4: [rule]}

    audits = {
        r.expectation: r.passed for r in read_snapshot(spark, audit).collect()
    }
    assert audits["column_exists(productcategory)"] is True
    assert audits["column_exists(Sales)"] is True
    assert audits["max_between(OrderQuantity, 1, 50)"] is True
    assert audits["mean_between(StandardCost, 100, 500)"] is True
    assert audits["row_count_between(38809, 38809)"] is False
    assert audits["not_null(saleterritory, mostly=1.0)"] is False
    arows = read_snapshot(spark, audit).collect()
    assert all(
        r.checkpoint == "adv_checkpoint" and r.suite == "adv_suite"
        for r in arows
    )

    # Replay batch 0: no sink grows.
    n_bad = len(read_snapshot(spark, quarantine).collect())
    n_audit = len(arows)
    gate(spark.createDataFrame(rows, schema), batch_id=0)
    assert {r.row_id for r in read_snapshot(spark, target).collect()} == good
    assert len(read_snapshot(spark, quarantine).collect()) == n_bad
    assert len(read_snapshot(spark, audit).collect()) == n_audit


def test_kafka_option_plumbing():
    from ssg_etl_spark.streaming.pipeline import (
        kafka_sink_options,
        kafka_source_options,
    )

    opts = kafka_source_options(
        "broker1:9092,broker2:9092",
        ["sqlserver.silverstr.sales_master", "sqlserver.silverstr.sales_items"],
        starting_offsets="latest",
        max_offsets_per_trigger=100_000,
    )
    assert opts["subscribe"] == (
        "sqlserver.silverstr.sales_master,sqlserver.silverstr.sales_items"
    )
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "true"
    assert kafka_sink_options("b:9092", "out") == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out",
    }


def test_stateful_late_strays_merge_into_one_session(spark, tmp_path):
    """Two admitted-late events within one gap of each other must come out
    as ONE merged session (the batch twin's answer), not two singletons —
    and events within the gap of each other but before the open session
    stay separate from it."""
    import datetime as dt
    import os
    import time

    from ssg_etl_spark.schemas import EVENTS
    from ssg_etl_spark.streaming.pipeline import events_file_stream
    from ssg_etl_spark.streaming.stateful import sessionize_stream

    src = str(tmp_path / "src")
    day = dt.datetime(2024, 1, 1)

    def write_batch(rows, mtime_offset):
        df = spark.createDataFrame(rows, EVENTS)
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        df.coalesce(1).write.mode("append").parquet(src)
        t = time.time() + mtime_offset
        for f in set(os.listdir(src)) - before:
            os.utime(os.path.join(src, f), (t, t))

    # Batch 1 opens a session at 10:00 (watermark 4h admits the strays).
    write_batch([(1, day + dt.timedelta(hours=10), 7, "click", 1.0, None)], -120)
    # Batch 2: late events at 08:00 and 08:10 — both > gap before 10:00.
    write_batch(
        [
            (2, day + dt.timedelta(hours=8), 7, "click", 2.0, None),
            (3, day + dt.timedelta(hours=8, minutes=10), 7, "click", 3.0, None),
        ],
        -60,
    )

    out = str(tmp_path / "sessions")
    q = (
        sessionize_stream(
            events_file_stream(spark, src), gap_minutes=30, watermark="4 hours"
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = [
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    ]
    assert got == [
        (
            7,
            day + dt.timedelta(hours=8),
            day + dt.timedelta(hours=8, minutes=10),
            2,
            5.0,
        )
    ]


def test_dedupe_stream_drops_redelivered_events(spark, tmp_path):
    """At-least-once redelivery (same event_id in a later micro-batch)
    must come out once; distinct events all survive."""
    import datetime as dt
    import os
    import time

    from ssg_etl_spark.schemas import EVENTS
    from ssg_etl_spark.streaming.pipeline import dedupe_stream, events_file_stream

    src = str(tmp_path / "src")
    day = dt.datetime(2024, 1, 1)

    def write_batch(rows, mtime_offset):
        df = spark.createDataFrame(rows, EVENTS)
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        df.coalesce(1).write.mode("append").parquet(src)
        t = time.time() + mtime_offset
        for f in set(os.listdir(src)) - before:
            os.utime(os.path.join(src, f), (t, t))

    e1 = (1, day, 7, "click", 1.0, None)
    e2 = (2, day + dt.timedelta(minutes=1), 7, "view", 2.0, None)
    e3 = (3, day + dt.timedelta(minutes=2), 8, "click", 3.0, None)
    write_batch([e1, e2], -120)
    write_batch([e2, e3], -60)  # e2 redelivered in the next micro-batch

    out = str(tmp_path / "deduped")
    q = (
        dedupe_stream(events_file_stream(spark, src), ["event_id"], watermark="2 hours")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Union of per-micro-batch delta-vs-corpus pairs == one batch-mode
    incremental run over all streamed documents (batches pair only with
    the static base, so batch boundaries cannot change the result)."""
    from ssg_etl_spark.operators.dedup import minhash_lsh_pairs_incremental
    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import run_incremental_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")

    # Two source files → two micro-batches (maxFilesPerTrigger=1).
    src = str(tmp_path / "incoming")
    delta.filter("doc_id % 20 = 0").coalesce(1).write.mode("append").parquet(src)
    delta.filter("doc_id % 20 != 0").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "pairs")
    run_incremental_dedup_stream(
        spark, base, src, str(tmp_path / "ckpt"), out
    )

    got = {
        (r.doc_new, r.doc_base): r.jaccard
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_new, r.doc_base): r.jaccard
        for r in minhash_lsh_pairs_incremental(base, delta, 0.5).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12
    n_batches = {
        r.batch_id for r in spark.read.parquet(out).collect()
    }
    assert len(n_batches) >= 1  # at least one non-empty micro-batch ran

    # Replay idempotence (r12): re-applying a batch id overwrites its own
    # partition (deterministic pairs vs the static base), so the row
    # count stays flat — the pre-r12 plain append doubled it.
    from ssg_etl_spark.streaming.pipeline import (
        foreach_batch_incremental_dedup,
    )

    out2 = str(tmp_path / "pairs2")
    fold = foreach_batch_incremental_dedup(base, out2)
    fold(delta.filter("doc_id % 20 = 0"), batch_id=0)
    c1 = spark.read.parquet(out2).count()
    assert c1 > 0
    fold(delta.filter("doc_id % 20 = 0"), batch_id=0)  # crash-replay
    assert spark.read.parquet(out2).count() == c1
    fold(delta.filter("doc_id % 20 != 0"), batch_id=1)  # new batch lands
    assert spark.read.parquet(out2).count() == len(want)


def test_streaming_span_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Evolving-index streaming span dedup: with batches in ascending
    doc_id order, first-seen-wins across batches equals the global-min
    canonical of the batch-mode chunk_keep_list — the union of per-batch
    keep decisions must match it exactly."""
    from ssg_etl_spark.operators.dedup import chunk_keep_list
    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import run_span_dedup_stream

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 120")

    src = str(tmp_path / "incoming")
    docs.filter("doc_id < 60").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 60").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "keeps")
    run_span_dedup_stream(
        spark, src, str(tmp_path / "ckpt"), str(tmp_path / "chunk_index"), out
    )

    got = {
        (r.doc_id, r.chunk_id): r.keep
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_id, r.chunk_id): r.keep
        for r in chunk_keep_list(docs, 16).collect()
    }
    assert got == want
    batches = {r.batch_id for r in spark.read.parquet(out).collect()}
    assert len(batches) == 2  # one micro-batch per file, both non-empty


def test_span_dedup_swap_crash_recovery(spark, tmp_path):
    """The index commit recovers from each layout its rename-only swap can
    leave: target renamed aside with the committed stage not yet in
    (finish the swap), an aside copy beside the target (drop it), and a
    stage without its commit record beside an intact target (discard
    it)."""
    import os
    import shutil

    from ssg_etl_spark.streaming.pipeline import foreach_batch_span_dedup

    index_path = str(tmp_path / "idx")
    out = str(tmp_path / "keeps")
    apply = foreach_batch_span_dedup(index_path, out)

    boiler = " ".join(f"b{i}" for i in range(16))
    b0 = spark.createDataFrame([(1, boiler)], "doc_id long, text string")
    apply(b0, 0)
    idx_rows = {r.chunk_hash for r in spark.read.parquet(index_path).collect()}

    # Crash between the two renames: the target is aside, the committed
    # stage (here batch 0's index, record included) not yet renamed in.
    os.rename(index_path, index_path + "__old")
    shutil.copytree(index_path + "__old", index_path + "__staging")
    b1 = spark.createDataFrame([(2, boiler)], "doc_id long, text string")
    apply(b1, 1)  # must first finish the swap, then probe against it
    keeps = {(r.doc_id, r.batch_id): r.keep
             for r in spark.read.parquet(out).collect()}
    assert keeps[(1, 0)] is True
    assert keeps[(2, 1)] is False  # boiler already canonical in recovered index
    assert {r.chunk_hash for r in spark.read.parquet(index_path).collect()} \
        == idx_rows

    # Cleanup lost (aside copy beside the target) plus a stage that died
    # mid-write (no record): both discarded, the batch applies.
    shutil.copytree(index_path, index_path + "__old")
    os.makedirs(os.path.join(index_path + "__staging", "_temporary", "0"))
    b2 = spark.createDataFrame(
        [(3, " ".join(f"z{i}" for i in range(16)))],
        "doc_id long, text string",
    )
    apply(b2, 2)
    assert not os.path.exists(index_path + "__staging")
    assert not os.path.exists(index_path + "__old")
    keeps = {(r.doc_id, r.batch_id): r.keep
             for r in spark.read.parquet(out).collect()}
    assert keeps[(3, 2)] is True


def test_span_dedup_replay_idempotent(spark, tmp_path):
    """Micro-batch replay must not append contradictory keep rows: after a
    completed commit the index's record (its batch id) makes the replay a
    no-op; after a crash BEFORE the commit the recomputed decisions
    overwrite the batch's own output partition (dynamic partition
    overwrite) bit-identically."""
    import shutil

    from ssg_etl_spark.streaming.pipeline import foreach_batch_span_dedup

    index_path = str(tmp_path / "idx")
    out = str(tmp_path / "keeps")
    apply = foreach_batch_span_dedup(index_path, out)

    boiler = " ".join(f"b{i}" for i in range(16))
    fresh = " ".join(f"f{i}" for i in range(16))
    apply(spark.createDataFrame([(1, boiler)], "doc_id long, text string"), 0)

    pre_swap = str(tmp_path / "idx_preswap")
    shutil.copytree(index_path, pre_swap)
    b1 = spark.createDataFrame(
        [(2, boiler + " " + fresh)], "doc_id long, text string"
    )
    apply(b1, 1)

    def snapshot():
        return sorted(
            (r.doc_id, r.chunk_id, r.keep, r.batch_id)
            for r in spark.read.parquet(out).collect()
        )

    want = snapshot()
    assert (2, 0, False, 1) in want  # boiler chunk deduped against batch 0
    assert (2, 1, True, 1) in want  # fresh chunk kept

    # Replay AFTER the commit: the record short-circuits — decisions unchanged
    # (recomputing here would flip every keep to False).
    apply(b1, 1)
    assert snapshot() == want

    # Replay BEFORE the swap (crash after the output write): restore the
    # pre-swap index; recomputation must overwrite partition batch_id=1
    # with identical rows, not append a second copy.
    shutil.rmtree(index_path)
    shutil.copytree(pre_swap, index_path)
    apply(b1, 1)
    assert snapshot() == want


def test_snapshot_commit_stream_versions_and_replay(spark, sf_dir, tmp_path):
    """One snapshot version per micro-batch; re-running the stream on the
    same checkpoint commits nothing new; a replayed batch_id no-ops
    instead of double-committing; every intermediate version stays
    pinned."""
    from ssg_etl_spark.sources import versioning as V
    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import (
        foreach_batch_snapshot_commit,
        run_snapshot_commit_stream,
    )

    docs = load_table(spark, sf_dir, "documents").limit(90)
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    # Three source files -> three micro-batches (maxFilesPerTrigger=1).
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    run_snapshot_commit_stream(spark, src, ckpt, snap)
    versions = V.snapshot_versions(snap)
    assert len(versions) == 3
    latest = {r.doc_id for r in V.read_snapshot(spark, snap).collect()}
    assert latest == {r.doc_id for r in docs.collect()}
    # Version sizes grow monotonically (append commits).
    sizes = [
        V.read_snapshot(spark, snap, version=v).count() for v in versions
    ]
    assert sizes == sorted(sizes) and sizes[-1] == len(latest)

    # Restart on the same checkpoint: nothing new to process, no commits.
    run_snapshot_commit_stream(spark, src, ckpt, snap)
    assert V.snapshot_versions(snap) == versions

    # Crash-replay simulation: re-apply an already-committed batch_id.
    apply = foreach_batch_snapshot_commit(snap)
    replay_bid = max(
        V.snapshot_meta(snap, v)["batch_id"] for v in versions
    )
    apply(docs.limit(5), replay_bid)
    assert V.snapshot_versions(snap) == versions
    # O(1) replay detection: the newest manifest alone carries the
    # committed-batch high-water mark (no per-batch scan of the log).
    assert V.snapshot_meta(snap, versions[-1])["max_batch_id"] == replay_bid
    # An EARLIER replayed id is caught by the watermark too.
    apply(docs.limit(5), replay_bid - 1)
    assert V.snapshot_versions(snap) == versions


def test_snapshot_commit_legacy_log_upgrades_to_watermark(spark, sf_dir, tmp_path):
    """Logs written before max_batch_id existed: the replay check falls
    back to the one-time meta scan, and the next commit records the
    carried watermark."""
    from ssg_etl_spark.sources import versioning as V
    from ssg_etl_spark.sources.tables import load_table
    from ssg_etl_spark.streaming.pipeline import foreach_batch_snapshot_commit

    docs = load_table(spark, sf_dir, "documents").limit(20)
    snap = str(tmp_path / "snap")
    # Legacy commits: batch_id only, no max_batch_id.
    V.commit_snapshot(docs.limit(5), snap, mode="append", meta={"batch_id": 0})
    V.commit_snapshot(docs.limit(5), snap, mode="append", meta={"batch_id": 1})
    apply = foreach_batch_snapshot_commit(snap)
    apply(docs.limit(5), 1)  # replay of a legacy batch: no-op
    assert V.snapshot_versions(snap) == [1, 2]
    apply(docs.limit(5), 2)  # genuinely new batch commits + upgrades
    assert V.snapshot_versions(snap) == [1, 2, 3]
    assert V.snapshot_meta(snap, 3)["max_batch_id"] == 2


def test_rest_poll_foreach_batch_parses_and_tolerates_errors(spark, tmp_path):
    """One fetch per tick row, typed rows land with _batch_id, a raising
    fetch is skipped (reference's per-iteration try/except), an all-fail
    batch writes nothing."""
    from pyspark.sql import types as T

    from ssg_etl_spark.streaming.pipeline import foreach_batch_rest_poll

    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("score", T.LongType()),
        ]
    )
    out = str(tmp_path / "polled")
    calls = {"n": 0}

    def fetch():
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("transient API failure")
        return f'[{{"user": "u{calls["n"]}", "score": {calls["n"] * 10}}}]'

    apply = foreach_batch_rest_poll(fetch, schema, out)
    ticks = spark.range(3)  # 3 tick rows -> 3 fetches, one raises
    apply(ticks, 7)
    got = {(r.user, r.score, r._batch_id) for r in spark.read.parquet(out).collect()}
    assert got == {("u1", 10, 7), ("u3", 30, 7)}
    # Empty tick batch: no fetches, no writes.
    apply(spark.range(0), 8)
    assert calls["n"] == 3

    def always_fail():
        raise RuntimeError("down")

    foreach_batch_rest_poll(always_fail, schema, str(tmp_path / "never"))(
        spark.range(2), 9
    )
    import os

    assert not os.path.exists(str(tmp_path / "never"))


def test_rest_poll_rate_stream_end_to_end(spark, tmp_path):
    """The 1 Hz poller driven by the real rate source for a bounded
    window: at least one micro-batch of fetched rows lands."""
    from pyspark.sql import types as T

    from ssg_etl_spark.streaming.pipeline import run_rest_poll_stream

    schema = T.StructType([T.StructField("tick", T.LongType())])
    out = str(tmp_path / "rate_polled")
    seq = {"n": 0}

    def fetch():
        seq["n"] += 1
        return f'[{{"tick": {seq["n"]}}}]'

    run_rest_poll_stream(
        spark,
        fetch,
        schema,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        rows_per_second=5,
        timeout_seconds=10,
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) >= 1
    assert {r.tick for r in rows} <= set(range(1, seq["n"] + 1))


def _ge_checkpoint(tmp_path):
    """A one-suite GE checkpoint on the events schema: one row rule
    (quarantines odd event ids) and one batch-level expectation (audited)."""
    import json

    suites = tmp_path / "suites"
    suites.mkdir()
    (suites / "replay_suite.json").write_text(json.dumps({"expectations": [
        {"expectation_type": "expect_column_values_to_be_in_set",
         "kwargs": {"column": "parity", "value_set": [0]}},
        {"expectation_type": "expect_column_to_exist",
         "kwargs": {"column": "event_id"}},
    ]}))
    cp = tmp_path / "checkpoint.yml"
    cp.write_text(
        "name: replay_checkpoint\n"
        "validations:\n"
        "  - expectation_suite_name: replay_suite\n"
    )
    return str(cp), str(suites)


# name -> (idempotent, sink factory(tmp_path) -> (apply, state paths),
#          input table). SUM folds and append sinks skip a replayed batch
# id; the MAX/OR/min-union folds re-fold it to the same state. The
# idempotent folds key on the unique event_id (bottom-k with k above the
# fixture's row count), so a new batch always changes their state.
_REPLAY_SINKS = {
    "hll": (True, lambda t, p: (
        p.foreach_batch_hll_merge(str(t / "s"), ["event_type"], "event_id"),
        [t / "s"]), "events"),
    "bottomk": (True, lambda t, p: (
        p.foreach_batch_bottomk_merge(str(t / "s"), "event_id", k=4096),
        [t / "s"]), "events"),
    "bottomk_grouped": (True, lambda t, p: (
        p.foreach_batch_bottomk_merge_grouped(
            str(t / "s"), "event_id", ["event_type"], k=4096),
        [t / "s"]), "events"),
    "bloom": (True, lambda t, p: (
        p.foreach_batch_bloom_merge(str(t / "s"), "event_id"),
        [t / "s"]), "events"),
    "hist": (False, lambda t, p: (
        p.foreach_batch_hist_merge(str(t / "s"), "value", 0.0, 500.0),
        [t / "s"]), "events"),
    "cms": (False, lambda t, p: (
        p.foreach_batch_cms_merge(str(t / "s"), "event_type"),
        [t / "s"]), "events"),
    "logbucket": (False, lambda t, p: (
        p.foreach_batch_logbucket_merge(str(t / "s"), "value"),
        [t / "s"]), "events"),
    "snapshot_commit": (False, lambda t, p: (
        p.foreach_batch_snapshot_commit(str(t / "s")),
        [t / "s"]), "events"),
    "quality_gate": (False, lambda t, p: (
        p.foreach_batch_quality_gate(
            str(t / "ok"), str(t / "bad"), {"even": "event_id % 2 = 0"}),
        [t / "ok", t / "bad"]), "events"),
    "ge_audit": (False, lambda t, p: (
        p.foreach_batch_ge_checkpoint_gate(
            *_ge_checkpoint(t), str(t / "ok"), str(t / "bad"), str(t / "audit")),
        [t / "ok", t / "bad", t / "audit"]), "events"),
    "ivf_append": (False, lambda t, p: (
        p.foreach_batch_ivf_append(str(t / "cents"), str(t / "s")),
        [t / "s"]), "embeddings"),
}


@pytest.mark.parametrize("name", sorted(_REPLAY_SINKS))
def test_streaming_sinks_replay_policy(spark, sf_dir, tmp_path, name):
    """One replay contract for every snapshot-log sink: fold three batches,
    then replay the last batch id. SUM folds and append sinks commit no
    new version and leave every table unchanged; the idempotent folds
    leave the state unchanged, and after a vacuum a restart on a fresh
    checkpoint (batch id 0 again) still folds new data."""
    from ssg_etl_spark.operators import similarity
    from ssg_etl_spark.sources import versioning as V
    from ssg_etl_spark.streaming import pipeline

    idempotent, make, table = _REPLAY_SINKS[name]
    src = load_table(spark, sf_dir, table)
    key = "vec_id" if table == "embeddings" else "event_id"
    src = src.withColumn("parity", F.col(key) % 2)
    if table == "embeddings":  # IVF cells append against frozen centroids
        similarity.build_ivf_index(src, n_cells=4)["centroids"].write.parquet(
            str(tmp_path / "cents")
        )
    # Slices by key // 2, so every batch holds both parities and both
    # gate sinks commit on every batch.
    batches = [src.filter((F.col(key) / 2).cast("long") % 4 == i) for i in range(4)]

    def state(paths):
        return [
            sorted(str(r) for r in V.read_snapshot(spark, str(p)).collect())
            if V.snapshot_versions(str(p)) else None
            for p in paths
        ]

    apply, paths = make(tmp_path, pipeline)
    for bid in range(3):
        apply(batches[bid], batch_id=bid)
    before = state(paths)
    versions = [V.snapshot_versions(str(p)) for p in paths]
    assert before[0] is not None
    assert all(
        V.last_batch_id(str(p)) == 2 for p in paths if V.snapshot_versions(str(p))
    )

    apply(batches[2], batch_id=2)
    assert state(paths) == before
    if not idempotent:
        assert [V.snapshot_versions(str(p)) for p in paths] == versions
        return

    V.vacuum_snapshots(str(paths[0]), keep_last=1)
    apply(batches[3], batch_id=0)
    assert state(paths) != before
    ref_dir = tmp_path / "ref"
    ref_dir.mkdir()
    ref_apply, ref_paths = make(ref_dir, pipeline)
    for bid, b in enumerate(batches):
        ref_apply(b, batch_id=bid)
    assert state(paths) == state(ref_paths)
    assert V.last_batch_id(str(paths[0])) == 2
