"""Physical-plan audit for the headline queries: the ".explain and iterate"
gate made repeatable.

For each audited query, prints a one-line verdict over the properties that
decide 100 TB behavior:

* scan pruning   — ReadSchema column count (top-level, nested-type aware)
                   and whether any PushedFilters reached the parquet scan;
* join strategy  — broadcast vs sort-merge/shuffled-hash counts;
* window safety  — walks the JVM plan tree for WindowExec nodes with an
                   EMPTY partitionSpec (single-partition funnel — the text
                   form can't be grepped: formatted explain drops empty
                   argument lists) and notes WindowGroupLimit pushdown;
* python stages  — FlatMapGroupsInPandas / MapInPandas / ArrowEvalPython
                   (the deliberate pandas operators) vs BatchEvalPython
                   (row-at-a-time UDFs — always a bug here);
* interpreted    — Generate nodes outside whole-stage codegen and nodes
                   holding a lambdafunction (higher-order functions run
                   interpreted per row). A note, never a flag.

Node counts come from the numbered details section ("(N) NodeName") only —
the tree overview repeats every node, which would double-count.

Usage:  python tools/plan_audit.py [sf_dir] [query ...]
       python tools/plan_audit.py --update-fingerprints

The second form regenerates tools/plan_fingerprints.json — per-query plan
fingerprints (join-strategy counts, exchange count, pandas stages, scan
pruning) pinned at the TEST environment (sf0.001, local[4], 8 shuffle
partitions, the exact config tests/conftest.py uses, so the pytest gate
recomputes identical plans). tests/test_plan_audit.py fails on drift from
the committed file: an intentional plan change must regenerate it in the
same commit, which is exactly the review surface a silent join-strategy
regression (r4: gl_enrichment +31% with no flag) was missing.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT_DEFAULT = [
    "gl_enrichment",
    "seven_way_join",
    "top_products",
    "product_association",
    "running_total_by_nation",
    "asof_last_before",
    "window_rownum_global",
    "yoy_monthly_sales",
    "rollup_grouping_sets",
    "events_10min_window",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "embedding_near_dup",
    "valuation_recompute",
    "merge_upsert",
    "cdc_batch_apply",
    "tfidf_top_terms",
    "chunk_dedup_stats",
    "span_deduped_corpus",
    "span_dedup_incremental",
    "mixture_sample",
    "vocab_oov_rate",
    "profile_drift_orders",
    "training_manifest",
    "embedding_quantize_int8",
    "ann_quantized_topk",
    "embedding_near_dup_incremental",
    "cross_source_dup_matrix",
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
    "fuzzy_customer_match",
    "weighted_sample_topk",
    "temperature_mixture_lang",
    "zorder_orders",
    "lineitem_correlations",
    "bpe_pair_counts",
    "semantic_decontamination",
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
    # Round 8: mergeable membership sketch, real-codec resize,
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
    # Round 10 (cont.): grouped log-bucket sketch quantiles (the global
    # form's read is a driver-side walk over the bounded bucket table —
    # its plan is a LocalTableScan, nothing to audit), SemDeDup.
    "quantiles_logbucket_by_status",
    "semdedup_embeddings",
    # Round 10 (cont. 2): theta-overlap (broadcast scalar joins) and the
    # day-partitioned log-bucket rollup (grouped windows only). The KMV
    # sample/estimate queries return driver-computed local tables —
    # nothing to audit.
    "kmv_user_overlap",
    "logbucket_daily_rollup",
    # Round 11: plan-side grouped theta overlap (grouped windows + one
    # grouped aggregate — the whole point is that it is NOT driver-side,
    # so its plan IS the artifact to pin) and the PNG round-trip
    # (mapInPandas over the fan-out scan, like the other media legs).
    "kmv_overlap_by_type",
    "media_png_features",
    # Round 11 (cont.): the all-pairs overlap matrix — pair expansion
    # must stay two BROADCAST joins over the sketch table; a plan drift
    # to a shuffled or nested-loop pair join is exactly what this pin
    # would catch.
    "kmv_overlap_matrix_types",
    # Round 12: the baseline JPEG round-trip (mapInPandas over the
    # fan-out scan, like the PNG leg — the pin holds the codec work to
    # one Arrow stage with zero extra exchanges).
    "media_jpeg_features",
    # Round 12 (cont.): the JPEG->PNG transcode chains TWO Arrow stages
    # (transcode, then the round-trip reader) — the pin holds it there.
    "media_transcode_jpeg_png",
    # Round 12 (cont. 2): header-only triage — ONE Arrow stage, and the
    # whole point is that no decode work rides the plan.
    "media_jpeg_header_scan",
    # Round 13: audio/video triage twins (one Arrow stage each) and the
    # cross-modality manifest (three triage stages unioned — the pin
    # holds it at zero exchanges/joins: a union of projections).
    "media_mp3_header_scan",
    "media_mp4_header_scan",
    "media_triage_manifest",
    # Round 13 (cont.): the magic-byte dispatching image triage over a
    # mixed-format corpus — same one-Arrow-stage-pair shape.
    "media_image_header_scan",
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def node_counts(plan: str) -> dict[str, int]:
    """Physical node histogram from the numbered details section only."""
    counts: dict[str, int] = {}
    for m in re.finditer(r"^\(\d+\) (\w+)", plan, re.MULTILINE):
        counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


def _top_level_cols(schema_body: str) -> int:
    """Count top-level fields of a struct<...> body (commas inside nested
    array<>/map<>/struct<> type parameters are not field separators)."""
    depth = 0
    cols = 1 if schema_body.strip() else 0
    for ch in schema_body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            cols += 1
    return cols


def single_partition_windows(df) -> int:
    """Walk the JVM plan tree; count WindowExec nodes whose partitionSpec is
    empty (all rows funnel through one task). Text grep cannot see this:
    formatted explain omits empty argument lists entirely."""
    hits = 0
    try:
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls in ("WindowExec", "WindowInPandasExec"):
                if node.partitionSpec().isEmpty():
                    hits += 1
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
            # AQE wrapper exposes its pre-execution plan separately.
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.initialPlan())
    except Exception as exc:  # noqa: BLE001 — private API; surface, don't hide
        print(f"        (jvm window walk unavailable: {type(exc).__name__})")
        return -1
    return hits


def plan_nodes(df):
    """Yield ``(node, ancestors)`` for every JVM physical node of ``df``'s
    plan, root first, each node once. The walk enters the adaptive
    wrapper's current plan (the initial plan before execution, the final
    one after), query stages and the plans of cached relations."""
    jvm = df.sparkSession._jvm
    seen = set()
    stack = [(df._jdf.queryExecution().executedPlan(), ())]
    while stack:
        node, ancestors = stack.pop()
        key = jvm.System.identityHashCode(node)
        if key in seen:
            continue
        seen.add(key)
        yield node, ancestors
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "InMemoryTableScanExec":
            kids = [node.relation().cachedPlan()]
        else:
            children = node.children()
            kids = [children.apply(i) for i in range(children.size())]
        stack.extend((kid, ancestors + (node,)) for kid in reversed(kids))


def _has_codegen_fallback(jvm, node) -> bool:
    fallback = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    cls = fallback._java_lang_class
    exprs = node.expressions()
    stack = [exprs.apply(i) for i in range(exprs.size())]
    while stack:
        e = stack.pop()
        if cls.isInstance(e):
            return True
        children = e.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def interpreted_nodes(df, plan: str) -> tuple[int, int]:
    """(Generate nodes that whole-stage codegen cannot take, plan nodes
    holding a ``lambdafunction``). A Generate joins a codegen stage only if
    its generator supports codegen and none of its expressions is a
    ``CodegenFallback`` — the test ``CollapseCodegenStages`` applies, made
    here on the unexecuted plan. Higher-order functions (``transform``,
    ``filter``, ``aggregate`` ...) are interpreted per row; the lambda
    count comes from the numbered details section, like node_counts."""
    jvm = df.sparkSession._jvm
    generates = sum(
        1
        for node, _ in plan_nodes(df)
        if node.getClass().getSimpleName() == "GenerateExec"
        and (not node.supportCodegen() or _has_codegen_fallback(jvm, node))
    )
    blocks = re.split(r"^\(\d+\) ", plan, flags=re.MULTILINE)[1:]
    lambdas = sum(1 for b in blocks if "lambdafunction" in b)
    return generates, lambdas


def audit_one(name: str, df, plan: str) -> list[str]:
    notes: list[str] = []
    counts = node_counts(plan)

    read_schemas = re.findall(r"ReadSchema: struct<(.*)>\s*$", plan, re.MULTILINE)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    n_pushed = sum(1 for p in pushed if p.strip())
    # Partition pruning on Hive-layout scans: static (literal predicates on
    # the partition column) and dynamic (runtime dynamicpruningexpression
    # injected from a joined dim's filter — the 100 TB date-partition path).
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    n_part = sum(1 for p in part_filters if p.strip())
    n_dpp = sum(1 for p in part_filters if "dynamicpruning" in p)
    col_counts = [_top_level_cols(rs) for rs in read_schemas]
    n_scans = sum(v for k, v in counts.items() if k.startswith("Scan"))
    notes.append(
        f"scans={n_scans} read_cols={col_counts} pushed_filter_scans={n_pushed}"
        f" partition_filter_scans={n_part} dpp_scans={n_dpp}"
    )

    notes.append(
        "joins: broadcast={} sortmerge={} shuffledhash={} nestedloop={}".format(
            counts.get("BroadcastHashJoin", 0),
            counts.get("SortMergeJoin", 0),
            counts.get("ShuffledHashJoin", 0),
            counts.get("BroadcastNestedLoopJoin", 0),
        )
    )

    n_window = counts.get("Window", 0) + counts.get("WindowInPandas", 0)
    n_wgl = counts.get("WindowGroupLimit", 0)
    sp = single_partition_windows(df)
    w = f"windows={n_window} group_limit={n_wgl}"
    if sp > 0:
        w += f" SINGLE_PARTITION={sp} <-- FIX"
    elif sp < 0:
        w += " single_partition=unknown"
    notes.append(w)

    pandas_ops = sum(
        counts.get(k, 0)
        for k in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
    )
    row_udfs = counts.get("BatchEvalPython", 0)
    p = f"pandas_stages={pandas_ops}"
    if row_udfs:
        p += f" ROW_UDF={row_udfs} <-- FIX"
    notes.append(p)

    notes.append(
        "exchanges={} reused={} generates={}".format(
            counts.get("Exchange", 0),
            counts.get("ReusedExchange", 0),
            # Generate = explode stages. A plan whose explode feeds multiple
            # branches without a persist shows one Generate per branch —
            # that duplication is the thing to catch here.
            counts.get("Generate", 0),
        )
    )
    # A note, not a fingerprint field: the interpreted-expression work left
    # in the plan (ROADMAP aim 4 — the engine's silent decisions).
    generates, lambdas = interpreted_nodes(df, plan)
    notes.append(f"interpreted: generates={generates} lambda_nodes={lambdas}")
    return notes


FINGERPRINT_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "plan_fingerprints.json"
)
# The environment fingerprints are pinned at — MUST match tests/conftest.py,
# or the pytest gate would diff plans computed under different configs
# (shuffle partitions and input sizes both steer join strategy choice).
FINGERPRINT_SF_DIR = "/root/testdata/sf0.001"
FINGERPRINT_MASTER = "local[4]"
FINGERPRINT_SHUFFLE = 8


def plan_fingerprint(df, plan: str) -> dict:
    """Stable structural summary of a physical plan: the properties whose
    silent drift costs wall-clock at scale. Counters only — no node ids,
    no expression text — so refactors that keep the plan shape don't churn
    the committed file."""
    counts = node_counts(plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    return {
        "broadcast_joins": counts.get("BroadcastHashJoin", 0),
        "sortmerge_joins": counts.get("SortMergeJoin", 0),
        "shuffledhash_joins": counts.get("ShuffledHashJoin", 0),
        "nestedloop_joins": counts.get("BroadcastNestedLoopJoin", 0),
        "exchanges": counts.get("Exchange", 0),
        "reused_exchanges": counts.get("ReusedExchange", 0),
        "generates": counts.get("Generate", 0),
        "windows": counts.get("Window", 0) + counts.get("WindowInPandas", 0),
        "window_group_limits": counts.get("WindowGroupLimit", 0),
        "single_partition_windows": max(0, single_partition_windows(df)),
        "pandas_stages": sum(
            counts.get(k, 0)
            for k in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
        ),
        "row_udf_stages": counts.get("BatchEvalPython", 0),
        "scans": sum(v for k, v in counts.items() if k.startswith("Scan")),
        "pushed_filter_scans": sum(1 for p in pushed if p.strip()),
        "partition_filter_scans": sum(1 for p in part_filters if p.strip()),
        "dpp_scans": sum(1 for p in part_filters if "dynamicpruning" in p),
    }


def compute_fingerprints(spark, sf_dir: str, names: list[str]) -> dict:
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.plans.registry import load_all

    # Fingerprints must reflect the cold plan. A persisted frame left over
    # from an earlier caller (e.g. a prior pytest module exercising the
    # dedup operators) makes CacheManager substitute InMemoryTableScan into
    # matching sub-plans, silently churning every counter below.
    release_tracked()
    spark.catalog.clearCache()

    specs = load_all(include_extra=True)
    out = {}
    for name in names:
        df = specs[name].builder(spark, sf_dir)
        out[name] = plan_fingerprint(df, formatted_plan(df))
    return out


def update_fingerprints() -> int:
    import json

    from ssg_etl_spark.session import get_spark

    spark = get_spark(
        "plan_fingerprints",
        master=FINGERPRINT_MASTER,
        shuffle_partitions=FINGERPRINT_SHUFFLE,
    )
    fps = compute_fingerprints(spark, FINGERPRINT_SF_DIR, AUDIT_DEFAULT)
    with open(FINGERPRINT_PATH, "w") as f:
        json.dump(fps, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(fps)} fingerprints to {FINGERPRINT_PATH}")
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--update-fingerprints":
        return update_fingerprints()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    only = sys.argv[2:] or AUDIT_DEFAULT

    from ssg_etl_spark.plans.registry import load_all
    from ssg_etl_spark.session import get_spark

    spark = get_spark("plan_audit", master="local[8]", shuffle_partitions=8)
    specs = load_all(include_extra=True)
    bad = 0
    for name in only:
        if name not in specs:
            print(f"??    {name}: unknown query")
            bad += 1
            continue
        df = specs[name].builder(spark, sf_dir)
        notes = audit_one(name, df, formatted_plan(df))
        flag = any("<-- FIX" in n for n in notes)
        bad += int(flag)
        print(("FLAG  " if flag else "ok    ") + name)
        for n in notes:
            print(f"        {n}")
    print(f"\n{len(only) - bad} ok, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
