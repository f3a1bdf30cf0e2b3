"""Partition-invariance gate — third leg of the session-robustness
contract (ANSI on/off → ``test_ansi_robustness``; session timeZone →
``test_tz_robustness``; this file → physical parallelism).

An embedding application brings its own ``spark.sql.shuffle.partitions``
(driver default 200, notebooks often 1, clusters thousands), which changes
the order rows meet every aggregate. Order-dependent constructs —
double-precision sums, unordered ``first()``/``collect_list``,
under-keyed ``row_number`` sorts, un-ordered ``limit`` — would return
different VALUES at different parallelism. Contract: results are a pure
function of the input data, not the physical partitioning (enforced by
DECIMAL sum intermediates, ``array_sort``-wrapped collects, fully-keyed
sort orders). The full registry sweep over widths, split sizes, AQE and
broadcast is ``tools/conf_sweep.py``; this in-suite gate pins the queries whose
plans contain the order-sensitive shapes, at the serial extreme (1
shuffle partition) vs the suite default.
"""

from __future__ import annotations

import hashlib

import pytest

from ssg_etl_spark.plans.registry import load_all

SPECS = load_all(include_extra=True)

# Order-sensitive plan shapes: double sums through DECIMAL intermediates
# (kpi_totals, agg_ratio_per_part, yoy_monthly_sales), global orderings /
# histogram-offset row numbering (window_rownum_global,
# deterministic_shuffle), collect_list document rebuilds
# (intra_doc_line_dedup), rank-limited top-k with tie-breakers
# (top_products, weighted_sample_topk), running windows
# (running_total_by_nation), and sufficient-statistics correlation
# (lineitem_correlations).
ORDER_SENSITIVE = [
    "kpi_totals",
    "agg_ratio_per_part",
    "yoy_monthly_sales",
    "window_rownum_global",
    "deterministic_shuffle",
    "intra_doc_line_dedup",
    "top_products",
    "weighted_sample_topk",
    "running_total_by_nation",
    "lineitem_correlations",
    "kmeans_embeddings",  # DECIMAL centroid sums: invariant by design
    "cohort_retention_daily",  # collect_set periods -> exploded counts
    "bigram_logprob",  # DECIMAL log-sum over per-doc bigram terms
    "lm_quality_cut",  # exact percentile threshold over LM scores
]


def _canon(df) -> str:
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    lines = sorted("|".join(repr(r[c]) for c in cols) for r in rows)
    assert lines, "empty result"
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize("name", ORDER_SENSITIVE)
def test_values_identical_across_shuffle_partitions(spark, sf_dir, name):
    from ssg_etl_spark.cache import release_tracked

    assert name in SPECS, f"{name} dropped from registry — update this list"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        base = _canon(SPECS[name].builder(spark, sf_dir))
        release_tracked()
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        got = _canon(SPECS[name].builder(spark, sf_dir))
        release_tracked()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        release_tracked()
    assert base == got, (
        f"{name}: values depend on spark.sql.shuffle.partitions — an "
        "order-dependent aggregate/sort is missing its determinism guard"
    )
