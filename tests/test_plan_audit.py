"""Physical-plan regression guard: the headline queries must stay free of
single-partition windows and row-at-a-time Python UDFs (tools/plan_audit
as a pytest gate, so a regression fails the suite, not just the manual
audit)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from plan_audit import (  # noqa: E402
    AUDIT_DEFAULT,
    FINGERPRINT_PATH,
    audit_one,
    compute_fingerprints,
    formatted_plan,
    plan_nodes,
)

from ssg_etl_spark.plans.registry import load_all


@pytest.fixture(autouse=True)
def _cold_plans(spark):
    """Plan assertions are about the COLD plan: persisted frames left by
    other test modules make CacheManager swap InMemoryTableScan into
    matching sub-plans, churning fingerprints and hiding scan pruning."""
    from ssg_etl_spark.cache import release_tracked

    release_tracked()
    spark.catalog.clearCache()
    yield


def test_headline_plans_have_no_scale_flags(spark, sf_dir):
    specs = load_all(include_extra=True)
    flagged = {}
    for name in AUDIT_DEFAULT:
        df = specs[name].builder(spark, sf_dir)
        notes = [n for n in audit_one(name, df, formatted_plan(df)) if "<-- FIX" in n]
        if notes:
            flagged[name] = notes
    assert not flagged, flagged


def test_plan_fingerprints_unchanged(spark, sf_dir):
    """Plan-regression gate (r4 verdict item 8): the audited queries'
    structural fingerprints (join strategies, exchanges, pandas stages,
    scan pruning) must match the committed tools/plan_fingerprints.json.
    A deliberate plan change regenerates the file in the same commit:

        python tools/plan_audit.py --update-fingerprints

    An UNintentional mismatch is the silent kind of regression that cost
    gl_enrichment +31% wall in r4 with zero audit flags."""
    import json

    with open(FINGERPRINT_PATH) as f:
        committed = json.load(f)
    # conftest's session (sf0.001, local[4], 8 shuffle partitions) is the
    # environment the file is pinned at — see plan_audit.FINGERPRINT_*.
    current = compute_fingerprints(spark, sf_dir, AUDIT_DEFAULT)
    drift = {
        name: {
            k: (committed.get(name, {}).get(k), v)
            for k, v in fp.items()
            if committed.get(name, {}).get(k) != v
        }
        for name, fp in current.items()
        if committed.get(name) != fp
    }
    assert not drift, (
        "plan fingerprints drifted (committed vs current) — if intentional, "
        f"run: python tools/plan_audit.py --update-fingerprints\n{drift}"
    )


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The date-partitioned rollup must scan with a runtime
    dynamicpruningexpression PartitionFilter — proof the dim filter
    prunes fact partitions at the source, not post-scan (SURVEY §4)."""
    import re

    specs = load_all(include_extra=True)
    df = specs["dpp_partitioned_rollup"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("dynamicpruning" in p for p in part_filters), plan


def test_detector_catches_single_partition_window(spark, sf_dir):
    """The JVM-tree detector must actually fire on a bare ordered window —
    the text form is ungreppable (formatted explain drops empty arg lists),
    which made a regex detector silently vacuous."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from plan_audit import single_partition_windows

    from ssg_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    bad = orders.select(
        F.row_number().over(Window.orderBy("o_orderkey")).alias("rn")
    )
    assert single_partition_windows(bad) >= 1
    good = orders.select(
        F.row_number()
        .over(Window.partitionBy("o_orderdate").orderBy("o_orderkey"))
        .alias("rn")
    )
    assert single_partition_windows(good) == 0


@pytest.mark.parametrize("op", ["word_shingles", "chunk_documents", "bigram_logprob"])
def test_tokenizers_split_once_codegen(spark, sf_dir, op):
    """Each tokenizer splits a document once, in a Project below its
    explode, and the explode runs in whole-stage codegen: no node holds a
    lambda (a higher-order function over ``split(text)`` re-splits the text
    per element and is interpreted), no generator argument and no node
    above a Generate evaluates ``split(``. Checked on the executed plan,
    where codegen stages are final."""
    from ssg_etl_spark.operators import text
    from ssg_etl_spark.sources.tables import load_table

    df = getattr(text, op)(load_table(spark, sf_dir, "documents"))
    df.collect()
    generates, splits, lambdas = 0, [], []
    for node, ancestors in plan_nodes(df):
        name = node.getClass().getSimpleName()
        exprs = node.expressions().toString()
        if "lambdafunction" in exprs:
            lambdas.append(name)
        if "split(" in exprs and not (
            name == "ProjectExec"
            and any(a.getClass().getSimpleName() == "GenerateExec" for a in ancestors)
        ):
            splits.append(f"{name}: {exprs}")
        if name == "GenerateExec":
            generates += 1
            stage = next(
                a.getClass().getSimpleName()
                for a in reversed(ancestors)
                if a.getClass().getSimpleName()
                in ("WholeStageCodegenExec", "InputAdapter", "AdaptiveSparkPlanExec")
            )
            assert stage == "WholeStageCodegenExec", f"interpreted Generate: {exprs}"
    assert generates, "no Generate in the plan"
    assert not lambdas, lambdas
    assert not splits, splits


def _shingle_keyed(node) -> bool:
    return node.outputPartitioning().toString().startswith("hashpartitioning(shingle#")


@pytest.mark.parametrize(
    "conf",
    [{}, {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}],
    ids=["default", "aqe_and_broadcast_off"],
)
def test_exact_jaccard_shuffles_the_shingle_stream_once(spark, sf_dir, conf):
    """``ngram_jaccard_pairs`` caches nothing and exchanges its shingle
    stream once: the df-cap window's shingle partitioning is the one
    shingle-keyed shuffle, and the self-join and the sizes read it (every
    other shingle-keyed exchange is a reuse). With AQE and broadcast off
    the sort-merge self-join sits on the window with no exchange between."""
    from ssg_etl_spark import cache
    from ssg_etl_spark.operators import dedup
    from ssg_etl_spark.sources.tables import load_table

    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        before = cache.tracked_count()
        df = dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
        assert cache.tracked_count() == before
        df.collect()
        nodes = [node for node, _ in plan_nodes(df)]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    names = [n.getClass().getSimpleName() for n in nodes]
    assert "InMemoryTableScanExec" not in names
    shuffles = [n for n, name in zip(nodes, names)
                if name == "ShuffleExchangeExec" and _shingle_keyed(n)]
    assert len(shuffles) == 1, [n.toString() for n in shuffles]
    if not conf:
        return
    joins = [n for n, name in zip(nodes, names)
             if name == "SortMergeJoinExec" and "shingle#" in n.leftKeys().toString()]
    assert len(joins) == 1, names
    for side in (joins[0].left(), joins[0].right()):
        passed = []
        while side.getClass().getSimpleName() not in ("ShuffleExchangeExec", "ReusedExchangeExec"):
            passed.append(side.getClass().getSimpleName())
            side = side.children().apply(0)
        assert _shingle_keyed(side) and "WindowExec" in passed, (passed, side.toString())
