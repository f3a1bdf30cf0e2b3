"""Scan-parallelism guard for CPU-heavy per-row expansion.

Parquet splits are bounded by row-group layout: a small single-file table
(the sf0.001-0.1 fixtures — one file, one row group) scans as ONE
partition, so any expensive narrow stage downstream (shingle explode,
chunk hashing, per-row × per-anchor dot products) runs on one core no
matter how many the session has. Measured at sf0.1: the 3-word shingle
explode over `documents` took 6.8 s single-partition vs 1.5 s after a
32-way repartition.

The rule, the one parallelism decision the operators make: ``fan_out``
repartitions a frame round-robin when its optimized logical plan has no
shuffling node AND it scans fewer partitions than the session's default
parallelism; every other frame is returned as it is. Below a shuffle the
width is ``spark.sql.shuffle.partitions`` / AQE coalescing (set by
``session.get_spark``), not the input splits. The plan is read
structurally, node by node, so neither a column nor a path named
``Exchange…`` nor physical planning enters the decision, and the partition
count is asked only of shuffle-free plans, where it starts no job (under
AQE, asking it of a shuffled plan runs every stage below the last one).

At production scale inputs arrive in many splits, the condition is false,
and the plan is unchanged — this never adds a full-corpus shuffle of raw
text/vector bytes to a 100 TB plan. The bytes bound holds structurally:
the file scan packs splits to ``spark.sql.files.maxPartitionBytes``
(default 128 MB), so "fewer partitions than cores" implies the scan reads
at most cores × 128 MB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Task granularity of the size-aware fan over dense vector tables
# (``fan_out``'s ``bytes_per_task``): ~256 KiB of packed float32 vectors is
# ~1k rows at dim 64, where per-task arithmetic sits at the order of the
# per-task fixed cost, so halving it stops paying off.
VECTOR_BYTES_PER_TASK = 256 << 10

# Logical nodes whose physical form shuffles (or broadcasts) their input.
_SHUFFLING = frozenset(
    "Aggregate Join Window RepartitionByExpression RebalancePartitions"
    " GlobalLimit Tail Offset FlatMapGroupsInPandas FlatMapCoGroupsInPandas"
    " FlatMapGroupsInArrow FlatMapCoGroupsInArrow".split()
)


def _nodes(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _shuffles(plan) -> bool:
    """Whether ``plan`` (a JVM plan node) shuffles anywhere below it.

    The walk takes ``innerChildren`` too: a subquery's plan, and a cached
    relation's physical plan, whose shuffles show as ``…Exchange`` nodes
    or, under AQE, as the ``AdaptiveSparkPlan`` that only wraps plans with
    a shuffle or a subquery."""
    name = plan.nodeName()
    if (
        name in _SHUFFLING
        or name.endswith("Exchange")
        or name == "AdaptiveSparkPlan"
        or (name == "Repartition" and plan.shuffle())
        or (name == "Sort" and getattr(plan, "global")())
    ):
        return True
    return any(
        _shuffles(c)
        for c in (*_nodes(plan.children()), *_nodes(plan.innerChildren()))
    )


def fan_out(df: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    ``df`` is a shuffle-free plan over fewer partitions — ``df`` itself
    otherwise (see the module docstring).

    ``bytes_per_task`` makes the width SIZE-AWARE for callers whose per-row
    work is roughly proportional to input bytes (dense vector arithmetic —
    k-means assignment, IVF probing): the target becomes
    ``clamp(ceil(estimated_bytes / bytes_per_task), 1, parallelism)`` from
    the optimizer's size estimate (no job, no scan). The blanket fan is
    right for text/codec expansion, whose per-row work is orders of
    magnitude above the bytes read, but it shreds a tiny vector table into
    sub-KB tasks whose fixed cost dominates every iteration job.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().optimizedPlan()
    if _shuffles(plan):
        return df
    if bytes_per_task:
        est = int(str(plan.stats().sizeInBytes()))
        # Missing/degenerate estimates (<=0, or the 8 EB "unknown"
        # sentinel) keep the blanket width rather than a bogus one.
        if 0 < est < (1 << 60):
            target = max(1, min(target, -(-est // int(bytes_per_task))))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
