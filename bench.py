"""Benchmark harness: runs the engine's headline queries at a given scale
factor and prints ONE JSON line with per-query and total wall times.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Each query is forced with a `noop` write (full computation, no sink cost),
after a small untimed JVM warm-up. Times are end-to-end per query, including
Catalyst planning. Each query runs SPARK_GRAFT_TRIALS times (default 3) and
reports the per-query MEDIAN — single-run walls on a shared box swing ±40%
and have mislead round-over-round comparison before (a 0.4 s query read as
a 55% regression with zero code change).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline queries: one per capability cluster (joins, rollups, top-k,
# association, retention, windows, as-of, ratio, events).
HEADLINE = [
    "gl_enrichment",
    "seven_way_join",
    "top_products",
    "product_association",
    "retention_split",
    "rollup_date_user",
    "running_total_by_nation",
    "yoy_monthly_sales",
    "asof_last_before",
    "agg_ratio_per_part",
    "events_10min_window",
    "avg_daily_orders_sales",
]

# LLM training-data family: the expensive operators (dedup, ANN, clustering)
# tracked as a SECOND group so a regression here shows up in BENCH_r{N}.json
# round over round, not just in ad-hoc sweeps. Kept separate from HEADLINE
# so "value" stays comparable with earlier rounds' artifacts.
LLM_FAMILY = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_incremental_vs_corpus",
    # Round 5: embedding_near_dup is now the LSH-bucketed scale path (was
    # embedding_near_dup_lsh); the O(N²) form moved to the untimed extra
    # baseline embedding_near_dup_exact. r4's 25.5 s "embedding_near_dup"
    # line corresponds to the r5 baseline, r4's "embedding_near_dup_lsh"
    # 11.1 s line to this key.
    "embedding_near_dup",
    "ann_lsh_topk",
    "ann_ivf_topk",
]

# Round-5 curation additions, tracked as a THIRD group so llm_total stays
# comparable with r4: span-level dedup, mixture sampling, vocab coverage,
# and the keep-longest keep list.
CURATION_FAMILY = [
    "chunk_dedup_stats",
    "boilerplate_chunks",
    "span_deduped_corpus",
    "span_dedup_incremental",
    "dedup_keep_list_longest",
    "mixture_sample",
    "vocab_oov_rate",
    "training_manifest",
    "semantic_keep_list",
    "embedding_quantize_int8",
    "ann_quantized_topk",
    "embedding_near_dup_incremental",
    "cross_source_dup_matrix",
    "winsorize_totalprice",
    "impute_acctbal",
    "histogram_totalprice",
    # Round 6: URL/domain curation.
    "domain_caps",
    "domain_profile",
    "url_normalize",
    # Round 6: incremental exact dedup, LM/model quality scoring, C4
    # line cleaning, domain reputation.
    "dedup_incremental_exact",
    "unigram_logprob",
    "quality_model_score",
    "c4_line_filter",
    "domain_quality_flags",
    "leakage_safe_split",
    "token_budget_selection",
    "intra_doc_line_dedup",
    "deterministic_shuffle",
    "bm25_topk",
    # Round 6: weighted/temperature sampling, Z-order clustering keys,
    # one-pass correlation profiling, frame-sample planning.
    "weighted_sample_topk",
    "temperature_mixture_lang",
    "zorder_orders",
    "lineitem_correlations",
    "media_frame_plan",
    # Round 7: encoding repair, real-codec media features, tokenizer
    # induction, embedding-level benchmark decontamination.
    "mojibake_repair",
    "media_features_ppm",
    "bpe_pair_counts",
    "semantic_decontamination",
    # Round 7: iterative clustering, distinct sketch, user-journey ops.
    "kmeans_embeddings",
    "hll_distinct_users",
    "cms_user_frequencies",
    "funnel_view_click_purchase",
    "cohort_retention_daily",
    "hashed_tf_features",
    "hashed_tf_kmeans",
    "kmeans_sample_trained",
    "random_projection_16",
    "cluster_balanced_sample",
    "bigram_logprob",
    "lm_quality_cut",
    "funnel_conversion_summary",
    "hll_daily_rollup",
    "kmeans_cluster_purity",
    "retention_curve",
    "kmeans_silhouette",
    "event_transition_matrix",
    # Round 8: mergeable Bloom membership index, real-codec PPM resize,
    # prefix-filtered exact Jaccard.
    "bloom_membership_probe",
    "media_resize_ppm",
    "dedup_jaccard_prefix",
    "quantiles_totalprice",
    "quantiles_price_by_status",
    "quality_gate_report",
    "token_mixture_plan",
    "bloom_new_key_gate",
    "bloom_daily_rollup",
    # Round 9: two-pass refined quantiles (global + grouped), snapshot
    # OPTIMIZE path.
    "quantiles_totalprice_refined",
    "quantiles_price_by_status_refined",
    "snapshot_compaction",
    "ann_lsh_topk_auto",
    # Round 10: exact outlier-robust quantiles (member-range zoom),
    # global + grouped; audio/video legs un-faked (WAV + Y4M codecs).
    "quantiles_totalprice_exact",
    "quantiles_price_by_status_exact",
    "media_audio_wav_features",
    "media_video_y4m_frames",
    # Round 10 (cont.): mergeable log-bucket quantile sketch (global +
    # grouped) and cluster-scoped semantic dedup (SemDeDup).
    "quantiles_logbucket_totalprice",
    "quantiles_logbucket_by_status",
    "semdedup_embeddings",
    "kmv_sample_users",
    "kmv_distinct_users",
    "kmv_user_overlap",
    "logbucket_daily_rollup",
    "kmv_sample_by_type",
    "quantiles_logbucket_weighted",
    "kmv_daily_rollup",
    # Round 11: plan-side grouped theta-sketch overlap, the all-pairs
    # overlap matrix, and the stdlib PNG round-trip (first genuinely
    # compressed codec).
    "kmv_overlap_by_type",
    "kmv_overlap_matrix_types",
    "media_png_features",
    "media_resize_png",
    # Round 12: the lossy-codec leg (baseline JPEG, real Huffman+IDCT)
    # and the cross-codec normalization stage (JPEG in, PNG out).
    "media_jpeg_features",
    "media_transcode_jpeg_png",
    "media_jpeg_header_scan",
    # Round 13: audio/video header triage, the cross-modality manifest,
    # and the mixed-format dispatching image triage (series note: r≤12
    # curation totals exclude these four).
    "media_mp3_header_scan",
    "media_mp4_header_scan",
    "media_triage_manifest",
    "media_image_header_scan",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ------------------------------------------------- calibration probe (r11)
# Fixed-work probe run at the START and END of every bench invocation, so
# each BENCH_r* artifact carries its own host-contention measurement and
# round-over-round drift attribution is arithmetic instead of an offline
# antagonist study (the r9/r10 drift episodes both burned a verdict cycle
# proving "the box was busy"). Two legs:
#   * py_wall — a pure-Python single-core integer loop: the cleanest
#     co-tenancy signal (no JVM, no allocator, no I/O);
#   * spark_wall — one tiny canonical Spark job (range→sum) on the SAME
#     session the bench uses: scheduler/JVM-side contention.
# The work constants are FROZEN; comparability across rounds depends on
# them never changing. PROBE_REF holds the quiet-box reference walls;
# load_factor = observed/reference per leg, and *_calibrated totals
# divide the raw totals by max(py_factor, spark_factor) — the r11 driver
# run proved a box can be Spark-side contended (1.67) while the py leg
# reads quiet (1.01), and the bench workload is Spark-bound. When the
# legs diverge >1.3x the artifact carries legs_diverged=true and the
# calibrated totals are advisory.
#
# r13 re-baseline (r12 verdict "What's wrong" #1): the r11 spark_wall
# reference (0.164, min-of-5) was never reproduced by ANY later quiet
# run — every committed quiet start-probe reads 0.185-0.242 — so the
# max-leg calibration deflated calibrated headlines ~20% below every
# quiet raw run. spark_wall is now the MEDIAN of 8 quiet-box START
# probes on the driver host (BENCH_LOCAL_r12 quiet runs 1/3/5:
# 0.1851/0.2327/0.2334, plus five r13 fresh-session probes:
# 0.2376/0.2259/0.1987/0.2419/0.2202 — recorded in BENCH_LOCAL_r13),
# and both load factors are computed from the START probe only — the
# END probe inherits the just-finished workload's GC/JIT churn
# (end > start in every committed artifact) and is recorded for drift
# attribution, not used in the factor. py_wall stays at the r11 value
# (the same 8 probes' median reproduces it within 3%). Series note:
# probe.load_factor* in r11/r12 artifacts used (start+end)/2 against
# the old reference; r13+ use start-only against this one.

_PROBE_PY_N = 2_000_000
_PROBE_SPARK_ROWS = 2_000_000
PROBE_REF = {"py_wall": 0.127, "spark_wall": 0.2293}


def _probe_py() -> float:
    t0 = time.time()
    acc = 0
    for i in range(_PROBE_PY_N):
        acc = (acc * 31 + i) % 1000003
    assert acc >= 0  # keep the loop un-eliminable
    return time.time() - t0


def calibration_probe(spark) -> dict[str, float]:
    py_wall = _probe_py()
    t0 = time.time()
    spark.range(_PROBE_SPARK_ROWS).selectExpr("sum(id % 7) AS s").collect()
    return {
        "py_wall": round(py_wall, 4),
        "spark_wall": round(time.time() - t0, 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = sf_dir  # non-sfN dir name: report the path rather than crash

    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.plans.registry import load_all
    from ssg_etl_spark.session import get_spark

    spark = get_spark(
        "ssg-etl-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    # include_extra: the headline set predates the 50-entry public cap and
    # must stay comparable round-over-round (rollup_date_user is extra now).
    qs = {name: spec.builder for name, spec in load_all(include_extra=True).items()}

    # Untimed warm-up: spin up executors, JIT the scan path — and the
    # probe's own range→sum path (its first execution pays codegen/JIT
    # that would read as 3× phantom contention in probe_start).
    force(qs["kpi_totals"](spark, sf_dir))
    calibration_probe(spark)

    probe_start = calibration_probe(spark)

    trials = max(1, int(os.environ.get("SPARK_GRAFT_TRIALS", "3")))
    # Since r6 the LLM/curation groups run 3 trials and record BOTH the
    # median (the headline, robust to one noisy trial) and the min (the
    # quiet-box cost, comparable with the min-of-2 series of r4/r5).
    # min-of-2 produced two false round-over-round alarms (r4
    # gl_enrichment, r5 minhash) — the ±40% single-trial swing on a
    # shared box needs a median to average out. Series note: r≤5
    # "llm_queries"/"curation_queries" values were min-of-2; from r6 they
    # are median-of-3, with "*_min" carrying the comparable min stat.
    llm_trials = max(1, int(os.environ.get("SPARK_GRAFT_LLM_TRIALS", "3")))

    def run_group(
        names: list[str], n_trials: int
    ) -> tuple[dict[str, float], dict[str, float]]:
        medians: dict[str, float] = {}
        mins: dict[str, float] = {}
        for name in names:
            if name not in qs:
                continue
            walls = []
            for _ in range(n_trials):
                t0 = time.time()
                # Rebuild per trial: planning cost is part of the
                # measurement, and a cached logical plan would make later
                # trials free.
                force(qs[name](spark, sf_dir))
                walls.append(time.time() - t0)
                # Release the persist handles the query's operators
                # registered — keeps trials independent and storage flat.
                release_tracked()
            medians[name] = round(statistics.median(walls), 3)
            mins[name] = round(min(walls), 3)
        return medians, mins

    timings, headline_mins = run_group(HEADLINE, trials)
    llm_timings, llm_mins = run_group(LLM_FAMILY, llm_trials)
    curation_timings, curation_mins = run_group(CURATION_FAMILY, llm_trials)

    # Precomputed-index incremental dedup: the index build is the amortized
    # once-per-corpus cost (untimed — at scale it's a persisted table, like
    # any warehouse artifact); the timed region is what a daily batch pays:
    # read index from parquet, shingle+sign the delta only, probe, verify.
    # Reported beside dedup_minhash_lsh (the full-corpus run) so BENCH
    # shows the delta path beating the full path round-over-round.
    import shutil
    import tempfile

    from ssg_etl_spark.operators import dedup as _dedup
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    idx_dir = tempfile.mkdtemp(prefix="mhidx_")
    try:
        idx = _dedup.build_minhash_index(base)
        for name, df in idx.items():
            df.write.mode("overwrite").parquet(f"{idx_dir}/{name}")
        release_tracked()
        loaded = {name: spark.read.parquet(f"{idx_dir}/{name}") for name in idx}
        walls = []
        for _ in range(llm_trials):
            t0 = time.time()
            force(
                _dedup.minhash_lsh_pairs_vs_index(
                    loaded["shingles"], loaded["buckets"], loaded["hot"],
                    delta, 0.5,
                    base_hot_buckets=loaded["hot_buckets"],
                )
            )
            walls.append(time.time() - t0)
            release_tracked()
        llm_timings["dedup_incremental_precomputed"] = round(
            statistics.median(walls), 3
        )
        llm_mins["dedup_incremental_precomputed"] = round(min(walls), 3)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # Persisted-IVF probe: same amortization story for ANN — the k-means
    # train + corpus assignment is the untimed once-per-corpus index build;
    # the timed region is a query batch probing the parquet index. Compare
    # with ann_ivf_topk (which builds in-run) to see probe ≪ build.
    from ssg_etl_spark.operators import similarity as _similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q_batch = emb.filter("vec_id % 100 = 0").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    ivf_dir = tempfile.mkdtemp(prefix="ivfidx_")
    try:
        ivf = _similarity.build_ivf_index(emb, n_cells=16)
        ivf["centroids"].write.mode("overwrite").parquet(f"{ivf_dir}/centroids")
        ivf["cells"].write.mode("overwrite").partitionBy("cell").parquet(
            f"{ivf_dir}/cells"
        )
        release_tracked()
        cents = spark.read.parquet(f"{ivf_dir}/centroids")
        cells = spark.read.parquet(f"{ivf_dir}/cells")
        walls = []
        for _ in range(llm_trials):
            t0 = time.time()
            force(_similarity.ivf_topk_vs_index(cents, cells, q_batch, k=10))
            walls.append(time.time() - t0)
            release_tracked()
        llm_timings["ann_ivf_probe_precomputed"] = round(
            statistics.median(walls), 3
        )
        llm_mins["ann_ivf_probe_precomputed"] = round(min(walls), 3)
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)

    probe_end = calibration_probe(spark)
    # START probe only (r13): the end probe runs right after ~90 forced
    # queries and inherits their GC/JIT churn — it reads high on every
    # committed artifact, quiet box or not. It stays in the artifact so
    # contention that ARRIVES mid-run is still visible (end ≫ start with
    # a quiet start), but the calibration factor comes from the probe
    # that measures the host, not the workload.
    load_factor = round(probe_start["py_wall"] / PROBE_REF["py_wall"], 4)
    load_factor_spark = round(
        probe_start["spark_wall"] / PROBE_REF["spark_wall"], 4
    )
    # r12 (r11 verdict #2 + advice): the bench workload is Spark-bound, so
    # calibrate by the WORSE of the two probe legs — the r11 driver run
    # read py 1.013 / spark 1.674 and the py-leg-only division left the
    # calibrated headline +15% over the quiet-box series. legs_diverged
    # flags runs where the two factors disagree >1.3x: on such runs the
    # uniform-scaling assumption behind any single factor is suspect and
    # the calibrated totals are ADVISORY (read the quiet-box
    # BENCH_LOCAL_r* series instead). PROBE_REF stays frozen (host: the
    # 32-core driver box; probe.host records where this run happened —
    # calibrated totals are only meaningful on the reference host).
    import platform

    # Clamped at 1.0: calibration corrects FOR contention; a start-probe
    # that lands on the fast side of the reference median (quiet-box
    # noise is ±10%) must not award phantom speed to the raw walls.
    cal_factor = max(1.0, load_factor, load_factor_spark)
    legs = sorted((max(load_factor, 1e-9), max(load_factor_spark, 1e-9)))
    legs_diverged = bool(legs[1] / legs[0] > 1.3)
    probe = {
        "start": probe_start,
        "end": probe_end,
        "ref": PROBE_REF,
        "load_factor": load_factor,
        "load_factor_spark": load_factor_spark,
        "cal_factor": cal_factor,
        "legs_diverged": legs_diverged,
        "host": {
            "node": platform.node(),
            "machine": platform.machine(),
            "cpus": os.cpu_count(),
        },
    }

    def _cal(x: float) -> float:
        return round(x / max(cal_factor, 1e-9), 3)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": headline_mins,
        "value_min": round(sum(headline_mins.values()), 3),
        "llm_queries": llm_timings,
        "llm_total": round(sum(llm_timings.values()), 3),
        "llm_queries_min": llm_mins,
        "llm_total_min": round(sum(llm_mins.values()), 3),
        "curation_queries": curation_timings,
        "curation_total": round(sum(curation_timings.values()), 3),
        "curation_queries_min": curation_mins,
        "curation_total_min": round(sum(curation_mins.values()), 3),
        "probe": probe,
        "value_calibrated": _cal(total),
        "llm_total_calibrated": _cal(sum(llm_timings.values())),
        "curation_total_calibrated": _cal(sum(curation_timings.values())),
        "sf": sf,
    }
    # Artifact reliability, round-8 form. The BENCH_r* capture keeps only a
    # TAIL of stdout, and r6/r7 both lost groups to it (r6: tail truncated
    # the single line's front; r7: line-first still lost the headline/LLM
    # groups). Fix: the full payload goes to bench_out.json (git-TRACKED
    # since r8), and stdout ends with one COMPACT JSON line PER GROUP —
    # each fits any tail window — with the small headline summary line
    # LAST (the driver's documented one-line contract). Spark stops FIRST
    # so shutdown logging can't land after the lines in a combined tail.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"),
        "w",
    ) as f:
        f.write(json.dumps(full) + "\n")
    spark.stop()
    for group, med, mn in (
        ("llm", llm_timings, llm_mins),
        ("curation", curation_timings, curation_mins),
    ):
        print(
            json.dumps(
                {
                    "bench_group": group,
                    "sf": sf,
                    "total": round(sum(med.values()), 3),
                    "total_min": round(sum(mn.values()), 3),
                    "queries": med,
                    "queries_min": mn,
                }
            )
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": headline_mins,
                "value_min": round(sum(headline_mins.values()), 3),
                "llm_total": round(sum(llm_timings.values()), 3),
                "llm_total_min": round(sum(llm_mins.values()), 3),
                "curation_total": round(sum(curation_timings.values()), 3),
                "curation_total_min": round(sum(curation_mins.values()), 3),
                "probe": probe,
                "value_calibrated": _cal(total),
                "llm_total_calibrated": _cal(sum(llm_timings.values())),
                "curation_total_calibrated": _cal(
                    sum(curation_timings.values())
                ),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
