"""Structured Streaming pipeline (SURVEY §2.10).

The reference streams two ways: micro-batch pull (Airflow cron + watermark,
dags/ssg_gl_etl.py) and a Kafka CDC consumer routing topic→table inserts
(scripts/test/transform.py:46-83). Spark-native form:

* file/kafka source → event-time watermark → tumbling-window aggregates
  (the 10-minute lookback of dags/hanger_lanes_to_pg_etl.py:117 becomes a
  proper event-time window);
* ``foreachBatch`` + join-rewrite merge for the CDC apply path — idempotent
  (keyed upsert) where the reference's append was at-least-once; this is a
  documented improvement (SURVEY §2.10 late/duplicate handling).

The streaming aggregates reuse the exact same column logic as the batch
twins (plans/events_pack.events_10min_window), so batch oracles also pin
the streaming semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssg_etl_spark.operators.merge import merge_upsert
from ssg_etl_spark.operators.rollups import DEC
from ssg_etl_spark.schemas import EVENTS
from ssg_etl_spark.session import local_frame
from ssg_etl_spark.sources import sinks, versioning


def events_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based micro-batch source over the events schema (S10 analog —
    swap format('kafka') + from_json for the Kafka deployment; the
    downstream plan is identical)."""
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def foreach_batch_rest_poll(fetch, record_schema, out_path: str):
    """S8 streaming twin: per-tick REST polling → typed append sink.

    The reference's poller (dags/get_data_api.py:42-64) loops
    fetch → format → produce at 1 Hz with per-iteration error tolerance;
    here each rate-source micro-batch carries N tick rows and drives N
    ``fetch()`` calls (driver-side — API calls are control-plane I/O,
    like the batch REST source), each returning one JSON response body.
    Responses parse through the same explicit-schema from_json/explode
    path as the batch source, land as ONE append per micro-batch keyed
    by ``_batch_id`` (restart replays overwrite nothing — parquet append
    of an already-written batch is the at-least-once contract; callers
    needing exactly-once point this at a snapshot/foreach_batch_upsert
    sink instead). A failing fetch is logged and skipped — the
    reference's loop-level try/except — never a stream crash.
    """
    import logging

    from ssg_etl_spark.sources.files import flatten_json_records

    def apply(batch: DataFrame, batch_id: int) -> None:
        n = batch.count()
        if n == 0:
            return
        payloads = []
        for _ in range(n):
            try:
                payloads.append(fetch())
            except Exception as e:  # noqa: BLE001 — reference polls on
                logging.getLogger(__name__).warning(
                    "rest poll fetch failed (skipped): %s", e
                )
        if not payloads:
            return
        spark = batch.sparkSession
        frames = [
            flatten_json_records(spark, p, record_schema) for p in payloads
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        out.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)

    return apply


def run_rest_poll_stream(
    spark: SparkSession,
    fetch,
    record_schema,
    out_path: str,
    checkpoint: str,
    rows_per_second: int = 1,
    timeout_seconds: float | None = None,
):
    """Drive :func:`foreach_batch_rest_poll` from the rate source: one
    generated row per second == one poll per second, the reference's 1 Hz
    cadence, with Structured Streaming supplying scheduling, retry-able
    checkpointed progress, and graceful stop (the reference hand-rolls a
    60 s sleep loop). ``timeout_seconds`` bounds the run (tests/one-shot
    ingestion windows); None streams until ``query.stop()``."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_rest_poll(fetch, record_schema, out_path)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
    if timeout_seconds is not None:
        q.awaitTermination(timeout=timeout_seconds)
        q.stop()
        q.awaitTermination()
    return q


def kafka_source_options(
    bootstrap_servers: str,
    topics: list[str],
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """S10: option map for the Kafka micro-batch source.

    Mirrors the reference consumer's subscription
    (scripts/test/transform.py:46-83: two topics, earliest offsets,
    JSON-deserialized). ``maxOffsetsPerTrigger`` is the per-micro-batch
    rate cap — the backpressure knob the reference's poll loop lacks.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(topics),
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_stream(spark: SparkSession, **kwargs) -> DataFrame:
    """S10: raw Kafka stream as (topic, value, offset, ts) rows — the wire
    shape ``cdc.route_topics`` / ``cdc.parse_change_envelopes`` consume.

    Untestable in this sandbox (no broker / kafka connector jar); the option
    plumbing is unit-tested and ``events_file_stream`` is the in-repo
    stand-in with an identical downstream plan.
    """
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(**kwargs))
        .load()
    )
    return raw.select(
        F.col("topic"),
        F.col("value").cast("string").alias("value"),
        F.col("offset"),
        F.col("timestamp").alias("kafka_ts"),
    )


def events_kafka_stream(spark: SparkSession, **kwargs) -> DataFrame:
    """S10: Kafka → typed events rows (from_json over the EVENTS schema),
    plan-compatible with ``events_file_stream`` so every downstream operator
    (windowed counts, foreachBatch upsert) is source-agnostic."""
    return (
        kafka_stream(spark, **kwargs)
        .select(F.from_json("value", EVENTS).alias("rec"))
        .select("rec.*")
    )


def kafka_sink_options(
    bootstrap_servers: str, topic: str
) -> dict[str, str]:
    """Option map for the Kafka sink (topic-per-table publication)."""
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def write_stream_to_kafka(
    df: DataFrame, checkpoint: str, key_cols: list[str] | None = None, **kwargs
):
    """Publish a streaming DataFrame to Kafka as JSON messages; returns the
    started query. Key by ``key_cols`` for per-key log compaction."""
    key = (
        F.to_json(F.struct(*key_cols)).alias("key")
        if key_cols
        else F.lit(None).cast("string").alias("key")
    )
    payload = df.select(key, F.to_json(F.struct(*df.columns)).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .options(**kafka_sink_options(**kwargs))
        .option("checkpointLocation", checkpoint)
        .start()
    )


def windowed_event_counts(
    stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark.

    ``withWatermark`` bounds state: windows older than the watermark close
    and evict — this is what makes the aggregation runnable forever at
    scale. Late rows beyond the watermark drop (documented divergence from
    the reference, which silently double-counts on retry)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedupe_stream(
    stream: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "30 minutes"
) -> DataFrame:
    """Exactly-once-ification of an at-least-once source: drop redelivered
    events by key within the watermark horizon.

    The reference's Kafka consumer re-inserts on redelivery
    (scripts/test/transform.py poll loop — at-least-once, duplicates land).
    ``dropDuplicatesWithinWatermark`` keeps first-seen per key and expires
    its dedup state once the watermark passes — bounded state, unlike a
    plain dropDuplicates which would grow forever on a stream.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def foreach_batch_upsert(target_path: str, keys: list[str], seq_col: str | None = None):
    """M13: CDC apply as a foreachBatch merge into a parquet target.

    Each micro-batch is first reduced to one row per key: with ``seq_col``
    (a CDC LSN / Kafka offset / event time), the highest-sequence row wins
    deterministically; without it, an arbitrary row per key is kept — pass
    ``seq_col`` whenever a batch can hold several changes for one key.
    The reduced batch is merged (join-rewrite, operators/merge.merge_upsert)
    into the target and rewritten through ``sinks.commit_directory``,
    whose recovery runs first, so a crash anywhere in an earlier apply
    leaves exactly its last committed target. Idempotent per batch."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        import os

        from pyspark.sql.window import Window

        spark = batch.sparkSession
        sinks.recover_directory(target_path)
        if seq_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
            latest = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            latest = batch.dropDuplicates(keys)
        # Recovered, so only a missing target means "first batch"; a read
        # failure of an existing one propagates (never overwrite history).
        target = spark.read.parquet(target_path) if os.path.exists(target_path) else None
        merged = (
            latest
            if target is None
            else merge_upsert(target, latest.select(*target.columns), keys)
        )
        sinks.commit_directory(merged.write, target_path)

    return apply


def run_events_pipeline_once(
    spark: SparkSession, source_path: str, checkpoint: str, target_path: str
) -> None:
    """Drive the windowed aggregate over all available files once
    (Trigger.AvailableNow — the cron-cadence equivalent) and land results."""
    stream = events_file_stream(spark, source_path)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", target_path)
        .start()
    )
    q.awaitTermination()


def foreach_batch_incremental_dedup(
    base: DataFrame, out_path: str, threshold: float = 0.5
):
    """Streaming ingest dedup: every micro-batch of NEW documents is
    near-dup-checked against the STATIC base corpus (delta×base MinHash,
    operators/dedup.minhash_lsh_pairs_incremental) and the flagged pairs
    append to ``out_path`` tagged with the batch id.

    Batches pair only with the base, never with each other, so the union
    of per-batch outputs equals one batch-mode delta-vs-corpus run over
    all streamed documents — pinned by tests/test_streaming.py. At scale
    the base signatures/buckets are a precomputed table and the hot-shingle
    cap list should be pinned from the base corpus (here it is recomputed
    over base ∪ batch, which only drifts if a batch itself pushes a
    shingle over the cap).

    Replay safety (r12): the pairs are a deterministic function of
    (static base, batch), so the write is a DYNAMIC PARTITION OVERWRITE
    on ``batch_id`` — a crash-replayed micro-batch rewrites its own
    partition bit-identically instead of appending duplicate pairs.
    """
    from ssg_etl_spark.cache import release_tracked, scope_token
    from ssg_etl_spark.operators.dedup import minhash_lsh_pairs_incremental

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # Scoped release: this runs on the micro-batch thread while other
        # consumers of the same session may hold their own tracked persists
        # — drop only the handles THIS batch registered.
        tok = scope_token()
        pairs = minhash_lsh_pairs_incremental(base, batch, threshold)
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        release_tracked(since=tok)

    return apply


def run_incremental_dedup_stream(
    spark: SparkSession,
    base: DataFrame,
    source_path: str,
    checkpoint: str,
    out_path: str,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
) -> None:
    """Drive the streaming delta-vs-corpus dedup over all available files
    once (Trigger.AvailableNow), one micro-batch per source file."""
    from ssg_etl_spark.schemas import DOCUMENTS

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_incremental_dedup(base, out_path, threshold)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_span_dedup(index_path: str, out_path: str, chunk_words: int = 16):
    """Streaming span dedup with an EVOLVING chunk-digest index: each
    micro-batch is probed against the index-so-far (first-seen-wins across
    batches), its per-chunk keep/drop decisions append to ``out_path``,
    and the index folds forward via ``merge_chunk_index``, committed
    through ``sinks.commit_directory`` as in ``foreach_batch_upsert``. Unlike
    ``foreach_batch_incremental_dedup`` (static base), the reference set
    here GROWS: a span first seen in batch 3 dedups batch 7.

    If batches arrive in ascending doc_id order, the union of batch
    outputs equals the batch-mode ``chunk_keep_list`` keep decisions over
    the full stream (first-seen == global min) — pinned by
    tests/test_streaming.py.

    Replay safety (micro-batches replay after any crash before the
    checkpoint commit): the keep output is written with DYNAMIC PARTITION
    OVERWRITE on ``batch_id``, so a replayed batch replaces its own
    partition instead of appending duplicate/contradictory rows. The
    remaining hazard — replaying AFTER the index swap, where the batch's
    own chunks are already in the index and every keep decision would
    flip to drop — is closed by the index's commit record, which holds
    the ``batch_id`` that committed it. Record has this batch id ⟹ the
    commit (and the output write, which precedes it) completed ⟹ the
    replay is a no-op. Otherwise the index is pre-commit and
    recomputation is bit-identical, overwriting the partition in place.
    """
    from ssg_etl_spark.cache import release_tracked, scope_token
    from ssg_etl_spark.operators.dedup import (
        build_chunk_index,
        chunk_keep_list_vs_index,
        merge_chunk_index,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        import os

        if batch.isEmpty():
            return
        tok = scope_token()
        spark = batch.sparkSession
        sinks.recover_directory(index_path)
        if (sinks.directory_record(index_path) or {}).get("batch_id") == batch_id:
            # Replay after a completed commit: output + index already hold
            # this batch; recomputing against the post-commit index would
            # mark every chunk as a duplicate of itself.
            return
        if os.path.exists(index_path):
            index = spark.read.parquet(index_path)
        else:
            index = local_frame(
                spark,
                [],
                "chunk_hash string, canon_doc_id long, "
                "canon_chunk_id int, n_occurrences bigint",
            )
        keep = chunk_keep_list_vs_index(batch, index, chunk_words=chunk_words)
        # Materialize decisions BEFORE the index commit — both plans read the
        # pre-batch index from index_path. Dynamic overwrite of this
        # batch's partition only: idempotent under replay.
        (
            keep.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        merged = (
            build_chunk_index(batch, chunk_words=chunk_words)
            if index.isEmpty()
            else merge_chunk_index(index, batch, chunk_words=chunk_words)
        )
        sinks.commit_directory(merged.write, index_path, {"batch_id": batch_id})
        release_tracked(since=tok)

    return apply


def run_span_dedup_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    index_path: str,
    out_path: str,
    chunk_words: int = 16,
    max_files_per_trigger: int = 1,
) -> None:
    """Drive the evolving-index span dedup over all available files once
    (Trigger.AvailableNow), one micro-batch per source file."""
    from ssg_etl_spark.schemas import DOCUMENTS

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_span_dedup(index_path, out_path, chunk_words)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _commit_batch(
    df: DataFrame, path: str, batch_id: int, prev_max: int, mode: str
) -> int:
    """The one streaming commit: ``df`` lands as the next snapshot version
    of ``path`` with ``{batch_id, max_batch_id}`` meta, the replay
    watermark carried forward for :func:`versioning.last_batch_id`. The
    append sinks call it only for ``batch_id > prev_max``; the state
    folds commit overwrite snapshots through :func:`_fold_sink`."""
    return versioning.commit_snapshot(
        df,
        path,
        mode=mode,
        meta={"batch_id": batch_id, "max_batch_id": max(batch_id, prev_max)},
    )


def _check_keep_versions(keep_versions: int | None) -> None:
    if keep_versions is not None and keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")


def _fold_sink(
    path: str,
    fold,
    idempotent: bool,
    keep_versions: int | None = None,
    group_cols: list[str] | None = None,
    max_groups: int | None = None,
):
    """The foreachBatch driver behind every sketch state fold (HLL,
    bottom-k, grouped bottom-k, Bloom, histogram, CMS, log-bucket).

    Per non-empty micro-batch: read the replay watermark, read the prior
    state (None for an empty log), ``fold(batch, prior)`` into the merged
    state, collect it, and commit it as ONE coalesced overwrite snapshot
    (new data files, then an atomic manifest ``os.replace``: a crash
    mid-write leaves the prior state readable and the replayed batch
    re-folds into it). ``keep_versions=N`` then vacuums all but the last
    N versions; every fold commits a fresh tiny state file, so a
    minutes-cadence stream would otherwise keep one manifest and one
    file per batch forever. The latest version carries the whole state
    and the watermark, so retention limits only time-travel depth.

    The replay policy follows the fold's merge algebra, not an option.
    ``idempotent`` folds (MAX, OR, min-union) re-fold a replayed batch
    to the identical state, so they never skip: a restart on a fresh
    checkpoint, whose batch ids start at 0 again, keeps folding. SUM
    folds would double-count, so a batch id at or below the watermark
    commits nothing.

    ``group_cols`` with ``max_groups`` bound the driver collect, which is
    rows-per-group × |groups|: a high-cardinality group column
    accumulating across batches would otherwise melt the driver
    silently. A distributed distinct-count over the merged state runs
    before the collect and raises with the measured cardinality.
    """
    _check_keep_versions(keep_versions)
    if max_groups is not None and max_groups < 1:
        raise ValueError("max_groups must be positive")

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        prev = versioning.last_batch_id(path)
        if batch_id <= prev and not idempotent:
            return
        spark = batch.sparkSession
        prior = (
            versioning.read_snapshot(spark, path)
            if versioning.snapshot_versions(path)
            else None
        )
        merged = fold(batch, prior)
        if not group_cols:
            rows = merged.collect()
        else:
            # Persisted so the bound check and the collect share one
            # computation.
            merged = merged.persist()
            try:
                n_groups = merged.select(*group_cols).distinct().count()
                if n_groups > max_groups:
                    raise ValueError(
                        f"fold state at {path} holds {n_groups} groups,"
                        f" exceeding max_groups={max_groups}: every batch"
                        " collects the whole state to the driver. Bucket"
                        " the group column (e.g. domain instead of URL),"
                        " or raise max_groups deliberately"
                    )
                rows = merged.collect()
            finally:
                merged.unpersist()
        _commit_batch(
            local_frame(spark, rows, merged.schema).coalesce(1),
            path,
            batch_id,
            prev,
            "overwrite",
        )
        if keep_versions is not None:
            versioning.vacuum_snapshots(path, keep_last=keep_versions)

    return apply


def foreach_batch_snapshot_commit(snapshot_path: str):
    """Streaming corpus versioning: every micro-batch lands as ONE new
    snapshot version (``versioning.commit_snapshot`` append), so each
    training run can pin "the corpus as of version N" while ingestion
    keeps flowing — the continuous form of the batch commit.

    Replay safety: appends are not idempotent, so a batch id at or below
    ``versioning.last_batch_id`` (a crash between the commit and the
    checkpoint write) commits nothing. The watermark is read from the
    newest manifest alone, so a long-lived stream pays O(1) manifest
    reads per batch, not O(versions) (which compounded to O(V²) over the
    stream's life). Contract: one committer per (checkpoint, snapshot
    path) lineage — same as the underlying single-writer manifest log.
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        prev = versioning.last_batch_id(snapshot_path)
        if batch_id > prev:
            _commit_batch(batch, snapshot_path, batch_id, prev, "append")

    return apply


def run_snapshot_commit_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    snapshot_path: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drive snapshot-per-micro-batch ingestion over all available files
    once (Trigger.AvailableNow), one commit per source file."""
    from ssg_etl_spark.schemas import DOCUMENTS

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_snapshot_commit(snapshot_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_hll_merge(
    registers_path: str,
    group_cols: list[str],
    value_col: str,
    keep_versions: int | None = None,
    max_groups: int = 10_000,
):
    """Streaming distinct-count sketch: each micro-batch's HLL registers
    fold into a persisted register table by register-wise MAX
    (operators/sketches.py). MAX-merging is IDEMPOTENT, so a replayed
    micro-batch (restart between write and checkpoint commit) leaves the
    sketch unchanged — this sink is exactly-once by algebra and never
    skips a batch id. State is ≤ 256 rows per group forever; the stream
    never re-reads its own history.

    Commit, retention (``keep_versions``) and the ``max_groups`` bound on
    the per-batch registers×|groups| driver collect are the shared
    :func:`_fold_sink` driver's. Its atomic snapshot commit is what makes
    the algebra enough: an in-place overwrite of ``registers_path``
    would let a crash between delete and rewrite destroy ALL accumulated
    state, and the replay would silently rebuild the sketch from that
    one batch.
    """
    from ssg_etl_spark.operators.sketches import hll_merge, hll_registers

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        fresh = hll_registers(batch, group_cols, value_col)
        return fresh if prior is None else hll_merge([prior, fresh], group_cols)

    return _fold_sink(
        registers_path,
        fold,
        idempotent=True,
        keep_versions=keep_versions,
        group_cols=group_cols,
        max_groups=max_groups,
    )


def foreach_batch_bottomk_merge(
    sketch_path: str,
    key_col: str,
    k: int | None = None,
    keep_versions: int | None = None,
):
    """Streaming bottom-k (KMV) fold: each micro-batch's bottom-k distinct
    hashes merge into a persisted sketch by min-union
    (operators/sketches.bottomk_merge). Min-union is IDEMPOTENT — a
    replayed micro-batch re-merges to the identical state — so, like the
    HLL/Bloom folds and unlike the SUM folds, this sink is exactly-once
    by algebra and never skips a batch id. The persisted state is the
    stream-lifetime STABLE DISTINCT-KEY SAMPLE (membership only ever
    shrinks as smaller hashes arrive) plus the KMV cardinality input —
    state <= k rows forever. Commit and retention: :func:`_fold_sink`."""
    from ssg_etl_spark.operators.sketches import (
        BOTTOMK_K,
        bottomk_merge,
        bottomk_sketch,
    )

    k = BOTTOMK_K if k is None else k

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        fresh = bottomk_sketch(batch, key_col, k=k)
        return fresh if prior is None else bottomk_merge([prior, fresh], k=k)

    return _fold_sink(sketch_path, fold, idempotent=True, keep_versions=keep_versions)


def foreach_batch_bottomk_merge_grouped(
    sketch_path: str,
    key_col: str,
    group_cols: list[str],
    k: int | None = None,
    keep_versions: int | None = None,
    max_groups: int = 10_000,
):
    """Streaming PER-GROUP bottom-k fold — the grouped twin of
    :func:`foreach_batch_bottomk_merge`: each micro-batch's per-group
    bottom-k (operators/sketches.bottomk_sketch_grouped) min-unions into
    a persisted grouped sketch table via ``bottomk_merge_grouped``.
    Idempotent by the same algebra (per-group dedup + re-rank), so
    replays are exactly-once and never skipped; state is ≤ k rows PER
    GROUP forever. This is the maintenance side of the overlap
    machinery: the persisted table feeds ``kmv_set_estimates_grouped`` /
    ``kmv_overlap_matrix`` directly, so a live stream keeps per-source
    distinct samples whose cross-source overlap matrix is one query at
    any time — no corpus rescan ever.

    ``max_groups`` ENFORCES the k×|groups| driver-collect bound in code
    (the same raise-don't-melt discipline as ``kmv_overlap_matrix``'s
    max_sources and SemDeDup's max_cluster_size; the check is
    :func:`_fold_sink`'s): a caller passing a high-cardinality group
    column (per-URL instead of per-domain) gets an error with the
    measured cardinality, not a melted driver. At the default 10 000
    groups × k=256 the collect is ≤ ~2.6M sketch rows — deliberate
    territory. Raise the bound consciously, or bucket the group column
    first."""
    from ssg_etl_spark.operators.sketches import (
        BOTTOMK_K,
        bottomk_merge_grouped,
        bottomk_sketch_grouped,
    )

    k = BOTTOMK_K if k is None else k
    if not group_cols:
        raise ValueError(
            "group_cols must be non-empty (use foreach_batch_bottomk_merge"
            " for the global sketch)"
        )

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        fresh = bottomk_sketch_grouped(batch, key_col, group_cols, k=k)
        if prior is None:
            return fresh
        return bottomk_merge_grouped([prior, fresh], group_cols, k=k)

    return _fold_sink(
        sketch_path,
        fold,
        idempotent=True,
        keep_versions=keep_versions,
        group_cols=group_cols,
        max_groups=max_groups,
    )


def run_hll_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    registers_path: str,
    group_cols: list[str],
    value_col: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drive the streaming HLL fold over all available files once
    (Trigger.AvailableNow), one micro-batch per source file."""
    from ssg_etl_spark.schemas import EVENTS

    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_hll_merge(registers_path, group_cols, value_col)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_bloom_merge(
    bloom_path: str,
    key_col: str,
    n_bits: int = 1024,
    k: int = 4,
    keep_versions: int | None = None,
):
    """Streaming membership index: each micro-batch's keys fold into a
    persisted Bloom word table by bitwise OR (operators/bloom.py). OR is
    IDEMPOTENT, so a replayed micro-batch leaves the filter unchanged —
    exactly-once by algebra, the same contract as the HLL fold above —
    and the state publishes through atomic snapshot commits, so a crash
    mid-write can never destroy accumulated bits. State is ≤ n_bits/32
    word rows forever; probing "have we ever seen this key?" needs only
    the latest snapshot, never the stream's history. Commit and
    ``keep_versions`` retention: :func:`_fold_sink`."""
    from ssg_etl_spark.operators.bloom import bloom_build, bloom_merge

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        fresh = bloom_build(batch, key_col, n_bits=n_bits, k=k)
        return fresh if prior is None else bloom_merge([prior, fresh])

    return _fold_sink(bloom_path, fold, idempotent=True, keep_versions=keep_versions)


def foreach_batch_hist_merge(
    hist_path: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
    keep_versions: int | None = None,
):
    """Streaming distribution profile: each micro-batch's fixed-range
    histogram counts ADD into a persisted bin table — the quantile
    sketch's streaming form (operators/analytics.histogram_quantiles
    post-processes the result at read time).

    Contrast with the HLL (MAX) and Bloom (OR) folds: SUM is mergeable
    but NOT idempotent, so replay safety cannot come from algebra — it
    comes from the replay watermark (``versioning.last_batch_id``): a
    replayed micro-batch is detected from the newest manifest alone and
    skipped by :func:`_fold_sink`, and the atomic snapshot commit keeps
    prior state readable through a crash. The bin range must be FIXED up
    front ([lo, hi), out-of-range values clamp into the edge bins) —
    per-batch min/max would mis-align bins across batches and make the
    counts meaningless to add.
    """
    if hi <= lo:
        raise ValueError("hi must be greater than lo")
    if n_bins < 1:
        raise ValueError("n_bins must be positive")

    width = (hi - lo) / n_bins

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        v = F.col(value_col).cast("double")
        fresh = (
            batch.filter(v.isNotNull())
            .select(
                F.least(
                    F.greatest(
                        F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
                        F.lit(0),
                    ),
                    F.lit(n_bins - 1),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        if prior is None:
            return fresh
        return prior.unionByName(fresh).groupBy("bin").agg(F.sum("n").alias("n"))

    return _fold_sink(hist_path, fold, idempotent=False, keep_versions=keep_versions)


def foreach_batch_cms_merge(
    sketch_path: str, value_col: str, keep_versions: int | None = None
):
    """Streaming frequency sketch: each micro-batch's count-min cells ADD
    into a persisted sketch (operators/sketches.cms_sketch) through
    atomic snapshot commits. Like the histogram fold — and unlike the
    HLL/Bloom folds — SUM is not replay-idempotent, so exactly-once
    comes from the replay watermark (``versioning.last_batch_id``).
    State is ≤ depth × width = 1024 cells forever; ``cms_lookup`` probes
    the latest snapshot for any key's frequency over the stream's whole
    history. This completes the streaming-fold family: HLL (MAX,
    idempotent), Bloom (OR, idempotent), histogram and CMS (SUM,
    batch-id-guarded). Commit and ``keep_versions`` retention:
    :func:`_fold_sink`."""
    from ssg_etl_spark.operators.sketches import cms_merge, cms_sketch

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        fresh = cms_sketch(batch, [], value_col)
        return fresh if prior is None else cms_merge([prior, fresh], [])

    return _fold_sink(sketch_path, fold, idempotent=False, keep_versions=keep_versions)


def foreach_batch_logbucket_merge(
    sketch_path: str,
    value_col: str,
    keep_versions: int | None = None,
    weight_col: str | None = None,
):
    """Streaming quantile profile via the log-bucket sketch: each
    micro-batch's significant-digit bucket counts ADD into a persisted
    bucket table (operators/sketches.logbucket_sketch) through atomic
    snapshot commits; ``logbucket_quantiles`` reads percentile estimates
    off the latest snapshot at any time with the sketch's <=0.5%-of-value
    error contract.

    This supersedes the fixed-range histogram fold for columns whose
    range is UNKNOWN or evolving: ``foreach_batch_hist_merge`` must pin
    [lo, hi) up front (mis-aligned bins cannot be added), and one
    out-of-range fat-finger clamps into an edge bin forever — log buckets
    align by construction across batches, so there is nothing to
    configure and nothing an outlier can distort. Like the other SUM
    folds (histogram, CMS), replay safety comes from the replay
    watermark (``versioning.last_batch_id``), not algebra. State is
    bounded by occupied buckets (~hundreds; capped by the value range's
    decades), never by stream length. Commit and ``keep_versions``
    retention: :func:`_fold_sink`.
    ``weight_col``: optional positive row weights (token counts) — the
    weighted sketch's bucket table has the identical (blo, bhi, cnt)
    schema and the identical SUM-merge algebra, so the fold, the replay
    watermark, and the quantile read are unchanged; the stream then
    maintains token-mass percentiles instead of row percentiles."""
    from ssg_etl_spark.operators.sketches import logbucket_merge, logbucket_sketch

    def fold(batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        fresh = logbucket_sketch(batch, value_col, weight_col=weight_col)
        return fresh if prior is None else logbucket_merge([prior, fresh])

    return _fold_sink(sketch_path, fold, idempotent=False, keep_versions=keep_versions)


def foreach_batch_quality_gate(
    target_path: str,
    quarantine_path: str,
    row_rules: "dict[str, object]",
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
):
    """Quality-gated streaming ingest with a dead-letter side: each
    micro-batch's rows are checked against named row-level predicates
    (rule name → boolean Column, True = row passes); passing rows append
    to the target as a new snapshot version, failing rows land in the
    quarantine WITH the list of rules they failed — nothing is silently
    dropped, and the reject stream is itself a queryable table (the
    dead-letter pattern; the reference's Great-Expectations suites stop
    the pipeline instead — at 100 TB/day a poison row must not halt
    ingestion).

    Both sinks are append-mode snapshot commits, each guarded by its own
    replay watermark (``versioning.last_batch_id``; appends are not
    idempotent), so a replayed micro-batch re-lands in NEITHER table.
    Rule predicates must be deterministic row functions — the same rows
    quarantine on every engine and replay.

    ``compact_every=N`` (r9): whenever the target's latest version
    accumulates ≥ N data files (appends add one coalesced file per
    batch; compaction resets the count), bin-pack it into
    ``target_file_bytes`` files via ``compact_snapshots`` — inline
    OPTIMIZE, the minutes-cadence committer's file-count fix. Safe with
    the replay watermark because compaction carries the source version's
    meta (incl. ``max_batch_id``) forward; a compaction crash leaves the
    store exactly as committed (atomic manifest)."""
    if not row_rules:
        raise ValueError("row_rules must be non-empty")
    if compact_every is not None and compact_every < 2:
        raise ValueError("compact_every must be >= 2")

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        flags = []
        for name, rule in row_rules.items():
            passed = F.expr(rule) if isinstance(rule, str) else rule
            # NULL verdicts FAIL the row (three-valued logic would
            # otherwise silently pass e.g. `value > 0` on a NULL value —
            # the quality engine's not-null discipline).
            flags.append(
                F.when(~F.coalesce(passed, F.lit(False)), F.lit(name))
            )
        checked = batch.withColumn(
            "failed_rules",
            F.array_compact(F.array(*flags)),
        )
        bad = checked.filter(F.size("failed_rules") > 0)
        good = checked.filter(F.size("failed_rules") == 0).drop("failed_rules")

        # Each sink keeps its own watermark, and the target commits LAST:
        # a crash between the two commits replays into an idempotent pair
        # (the quarantine is re-checked against ITS watermark).
        q_prev = versioning.last_batch_id(quarantine_path)
        if batch_id > q_prev and not bad.isEmpty():
            _commit_batch(bad, quarantine_path, batch_id, q_prev, "append")
        t_prev = versioning.last_batch_id(target_path)
        if batch_id > t_prev and not good.isEmpty():
            _commit_batch(good, target_path, batch_id, t_prev, "append")
            if (
                compact_every is not None
                and versioning.snapshot_file_count(target_path) >= compact_every
            ):
                versioning.compact_snapshots(
                    batch.sparkSession, target_path, target_file_bytes
                )

    return apply


def foreach_batch_ge_checkpoint_gate(
    checkpoint_path: str,
    suites_dir: str,
    target_path: str,
    quarantine_path: str,
    audit_path: str | None = None,
    compact_every: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
):
    """The §5 expectation engine driving the streaming dead-letter gate:
    a LITERAL Great-Expectations checkpoint YAML (reference:
    …/great_expectations/checkpoints/adv_checkpoint.yml) is parsed once,
    its suites' column-map expectations become per-row quarantine rules
    (quarantine rows carry ``failed_rules`` =
    ``["<suite>/<expectation_type>(<column>)", …]``), and every other
    expectation (unique, aggregates, row counts, structural) is evaluated
    per micro-batch with ``run_suite``'s single-scan pass and RECORDED to
    ``audit_path`` — recorded, not enforced: a full-asset assertion like
    ``expect_table_row_count_to_equal`` is not meaningful as a
    micro-batch gate, and at 100 TB/day a failing aggregate must page an
    operator, not halt ingestion (the reference's checkpoint raises and
    stops the DAG instead).

    All three sinks are watermark-guarded snapshot appends
    (``versioning.last_batch_id``), so a replayed micro-batch re-lands
    in none of them. The checkpoint's data-asset binding is the stream itself; a
    checkpoint with zero validations raises at closure-build time.
    ``compact_every``/``target_file_bytes`` pass through to the target's
    inline compaction.

    The dead-letter split/commit machinery DELEGATES to
    :func:`foreach_batch_quality_gate` (one implementation of the
    watermark-guarded split; r9 review finding — the first cut
    copy-pasted it); this wrapper only compiles the checkpoint into row
    rules and adds the audit sink. A checkpoint whose suites have zero
    row-level expectations still ingests: every row passes to the
    target, and the audit records the batch-level verdicts.
    """
    import json
    import os

    from ssg_etl_spark.operators.quality import (
        ge_suite_split_row_rules,
        load_ge_checkpoint_file,
        run_suite,
    )

    cp = load_ge_checkpoint_file(checkpoint_path)
    row_rules: dict[str, object] = {}
    batch_suites: list[tuple[str, list]] = []
    for v in cp["validations"]:
        with open(os.path.join(suites_dir, v["suite_name"] + ".json")) as f:
            suite = json.load(f)
        rules, exps = ge_suite_split_row_rules(suite, v["suite_name"])
        row_rules.update(rules)
        batch_suites.append((v["suite_name"], exps))

    # No row-level expectations → a vacuous pass-all rule keeps the
    # delegate's contract (failed_rules is empty for every row).
    gate = foreach_batch_quality_gate(
        target_path,
        quarantine_path,
        row_rules or {"__ge_no_row_rules": F.lit(True)},
        compact_every=compact_every,
        target_file_bytes=target_file_bytes,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        gate(batch, batch_id)
        if audit_path is not None:
            a_prev = versioning.last_batch_id(audit_path)
            if batch_id > a_prev:
                rows = []
                for suite_name, exps in batch_suites:
                    for res in run_suite(batch, exps):
                        rows.append(
                            (
                                str(cp["name"]),
                                suite_name,
                                res["name"],
                                bool(res["passed"]),
                                json.dumps(
                                    res["metrics"], default=str, sort_keys=True
                                ),
                                int(batch_id),
                            )
                        )
                audit = local_frame(
                    batch.sparkSession,
                    rows,
                    "checkpoint string, suite string, expectation string, "
                    "passed boolean, metrics string, batch_id long",
                )
                _commit_batch(audit, audit_path, batch_id, a_prev, "append")

    return apply


def foreach_batch_ivf_append(
    centroids_path: str,
    cells_path: str,
    keep_versions: int | None = None,
    compact_every: int | None = 16,
    compact_target_bytes: int = 128 * 1024 * 1024,
):
    """Streaming ANN index maintenance: every micro-batch of embeddings
    is assigned to PRE-TRAINED IVF centroids
    (operators/similarity.ivf_assign — argmax dot against the broadcast
    centroid list, one scan + project, no re-training) and APPENDED to
    the persisted cells table through an atomic snapshot commit. The
    probe side (``ivf_topk_vs_index``) reads the latest snapshot, so
    ANN results include everything ingested so far — the index stays
    fresh with zero corpus rescans, the operational shape an embedding
    store needs at 100 TB (the once-per-corpus centroid TRAINING stays
    an offline batch job; retrain + reassign periodically as drift
    accumulates, which is a full rebuild by design).

    Replay safety: appends are not idempotent, so this sink rides the
    replay watermark (``versioning.last_batch_id``) exactly like
    :func:`foreach_batch_snapshot_commit` — a replayed micro-batch is
    detected from the newest manifest alone and skipped.
    ``keep_versions``: inline retention; the latest version carries the
    full accumulated index, so vacuuming history only limits time
    travel depth, never probe results.

    File discipline (r13 — found by the 60-batch soak, which measured
    32 data files PER COMMIT and an O(batches x shuffle-partitions)
    on-disk footprint): each micro-batch delta is trigger-bounded, so
    it commits as ONE coalesced file, and every ``compact_every``-th
    version the fold runs :func:`versioning.compact_snapshots` inline —
    an overwrite rewrite that bin-packs the accumulated index to
    ~``compact_target_bytes`` files and CARRIES the replay watermark
    forward — so the steady-state file count is bounded by
    ``compact_every + keep_versions + index_bytes/target``, independent
    of how many batches ever ran. ``compact_every=None`` disables
    inline compaction for deployments that schedule OPTIMIZE
    externally."""
    from ssg_etl_spark.operators.similarity import ivf_assign

    _check_keep_versions(keep_versions)
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1")

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        prev = versioning.last_batch_id(cells_path)
        if batch_id <= prev:
            return
        spark = batch.sparkSession
        cents = spark.read.parquet(centroids_path)
        version = _commit_batch(
            ivf_assign(cents, batch).coalesce(1), cells_path, batch_id, prev,
            "append",
        )
        if compact_every is not None and version % compact_every == 0:
            versioning.compact_snapshots(
                spark, cells_path, target_file_bytes=compact_target_bytes
            )
        if keep_versions is not None:
            versioning.vacuum_snapshots(cells_path, keep_last=keep_versions)

    return apply


def foreach_batch_kmeans_assign(centroids_path: str, out_path: str):
    """Streaming semantic labeling: every micro-batch of embeddings is
    assigned to PRE-TRAINED k-means centroids (loaded once per batch
    from the model table) and written under its batch id. The assignment
    plan is a pure scan+project (operators/clustering.py) — per batch
    the only work is the map itself, the shape a labeling stream must
    have when the corpus is 100 TB/day.

    Replay safety (r12): the write is a DYNAMIC PARTITION OVERWRITE on
    ``batch_id`` — a replayed micro-batch replaces its own partition
    instead of appending duplicate labels (the assignment is a
    deterministic function of frozen centroids, so the rewrite is
    bit-identical). The plain append this started as silently doubled a
    batch's rows on every crash-replay."""
    from ssg_etl_spark.operators.clustering import (
        kmeans_assign_precomputed,
        load_centroids,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cent = load_centroids(batch.sparkSession, centroids_path)
        (
            kmeans_assign_precomputed(batch, cent)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return apply
