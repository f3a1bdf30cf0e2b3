"""The benchmark workloads.

Each drives the engine only through its public entry points
(``pipelines``, ``operators``, ``plans.registry``, ``sources``) and is
closed-loop with one client: an op starts when the previous one ended.

A workload has ``prepare`` (work done through the program before any op,
such as the initial landing), ``op`` (one timed op), ``check`` (compares
every output with a computation made apart from the program, see
``oracle.py``) and, for the traced run, ``layer_metrics``.
"""

from __future__ import annotations

import os
import shutil

from ssg_etl_spark import cache, pipelines
from ssg_etl_spark.operators import dedup, gl, merge
from ssg_etl_spark.plans import registry
from ssg_etl_spark.sources import tables, versioning

import oracle
import tracing


def plan(tracer, df) -> None:
    """Traced runs only: time Catalyst planning of ``df`` on its own."""
    if tracer.enabled:
        with tracer.span("engine.plan"):
            df._jdf.queryExecution().executedPlan()


def _tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Workload:
    name = ""
    warmup_ops = 1  # ops run before the clock starts
    # Every run times at least this many ops, even past --seconds, so that
    # a fast run reports its median over as many ops as a slow one.
    min_ops = 2

    def __init__(self, spark, inputs: str, work: str, tracer, corrupt: bool = False):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tr = tracer
        # Deliberately damage one output before checking it (check self-test).
        self.corrupt = corrupt

    def prepare(self) -> None:
        pass

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed per-op step (an arrival), run before the op's clock starts."""

    def layer_metrics(self, i: int, spans: list, eng: dict) -> dict:
        return {}


def _span_sum(spans, name: str) -> float:
    return sum(e - s for n, s, e, _, _ in spans if n == name)


def _span_count(spans, name: str) -> int:
    return sum(1 for n, *_ in spans if n == name)


# Every per-layer metric, in report order. A workload that does not
# exercise a layer reports 0 for it.
PER_LAYER = (
    "plans.build_s", "plans.build_jobs",
    "sources.load_table_s", "sources.load_table_calls",
    "sources.commit_s", "sources.written_mb", "sources.files_written",
    "pipelines.run_s", "pipelines.jobs",
    "operators.gl_merge_s",
    "operators.dedup.ngram_s",
    "operators.dedup.candidates", "operators.dedup.pairs",
    "operators.dedup.verify_yield",
    "partitioning.fan_out_calls", "partitioning.fan_out_s",
    "cache.persists", "cache.storage_mb",
    "engine.plan_s", "engine.exec_s", "engine.jobs", "engine.stages", "engine.tasks",
    "engine.executor_run_s", "engine.executor_cpu_s", "engine.gc_s",
    "engine.shuffle_write_mb", "engine.shuffle_read_mb", "engine.spill_mb",
    "engine.slot_busy_share", "engine.peak_rss_mb",
)


def common_layers(spans, eng: dict, slots: int) -> dict:
    """Build, plan, engine and wrapped-call metrics of one op."""
    exec_s = _span_sum(spans, "engine.exec")
    return {
        "plans.build_s": _span_sum(spans, "plans.build"),
        "plans.build_jobs": eng["phase_jobs"].get("plans.build", 0),
        "engine.plan_s": _span_sum(spans, "engine.plan"),
        "sources.load_table_s": _span_sum(spans, "sources.load_table"),
        "sources.load_table_calls": _span_count(spans, "sources.load_table"),
        "partitioning.fan_out_calls": _span_count(spans, "partitioning.fan_out"),
        "partitioning.fan_out_s": _span_sum(spans, "partitioning.fan_out"),
        "engine.exec_s": exec_s,
        "engine.jobs": eng["jobs"],
        "engine.stages": eng["stages"],
        "engine.tasks": eng["tasks"],
        "engine.executor_run_s": eng["executor_run_s"],
        "engine.executor_cpu_s": eng["executor_cpu_s"],
        "engine.gc_s": eng["gc_s"],
        "engine.shuffle_write_mb": eng["shuffle_write_mb"],
        "engine.shuffle_read_mb": eng["shuffle_read_mb"],
        "engine.spill_mb": eng["spill_mb"],
        "engine.slot_busy_share": (eng["exec_run_s"] / (exec_s * slots)) if exec_s else 0.0,
    }


# --------------------------------------------------------------- ERP batches
class ErpIncremental(Workload):
    """One op = one arriving batch: the events rollup pipeline over the
    events seen so far, then the GL enrich/upsert/commit of the batch's new
    and re-sent orders."""

    name = "erp_incremental"
    # The initial landing in prepare() runs the pipeline, the enrichment
    # and the commit cold; the warm-up batches add the snapshot read and
    # the upsert, and the first timed batches were still 10% slower than
    # the later ones after one.
    warmup_ops = 2
    min_ops = 5
    DIMS = ("customer", "nation", "region", "lineitem")

    def prepare(self) -> None:
        self.landing = os.path.join(self.work, "landing")
        self.events_dir = os.path.join(self.landing, "events.parquet")
        self.rollup_state = os.path.join(self.work, "state", "events_rollup")
        self.gl_path = os.path.join(self.work, "state", "gl")
        self.dims = os.path.join(self.inputs, "dims")
        self.batches = sorted(d for d in os.listdir(self.inputs) if d.startswith("batch_"))
        self.consumed: list[str] = []  # batch dirs whose data has landed
        self.runs = 0
        os.makedirs(self.events_dir)
        shutil.copy(os.path.join(self.inputs, "initial", "events.parquet"),
                    os.path.join(self.events_dir, "initial.parquet"))
        # Initial landing: first pipeline run and the first GL version.
        events = tables.load_table(self.spark, self.landing, "events")
        pipelines.run_events_rollup_once(self.spark, events, self.rollup_state)
        self.runs += 1
        orders = tables.load_table(self.spark, os.path.join(self.inputs, "initial"), "orders")
        enriched = gl.enrich_gl(orders, *tables.load_tables(self.spark, self.dims, *self.DIMS))
        versioning.commit_snapshot(enriched, self.gl_path, mode="overwrite")

    def before_op(self, i: int) -> None:
        # Arrival: the batch's event file lands in the events table.
        if len(self.consumed) == len(self.batches):
            raise RuntimeError("all generated batches consumed")
        b = self.batches[len(self.consumed)]
        shutil.copy(os.path.join(self.inputs, b, "events.parquet"),
                    os.path.join(self.events_dir, f"{b}.parquet"))
        self.consumed.append(b)
        if self.tr.enabled:
            self._files_before = _tree_files(os.path.join(self.work, "state"))

    def op(self, i: int) -> None:
        spark, tr = self.spark, self.tr
        batch_dir = os.path.join(self.inputs, self.consumed[-1])
        with tr.phase("pipelines.run"):
            events = tables.load_table(spark, self.landing, "events")
            res = pipelines.run_events_rollup_once(spark, events, self.rollup_state)
        self.runs += 1
        if res.get("skipped"):
            raise RuntimeError(f"pipeline run skipped: {res}")
        with tr.phase("operators.gl_merge"):
            with tr.phase("plans.build"):
                orders = tables.load_table(spark, batch_dir, "orders")
                enriched = gl.enrich_gl(orders, *tables.load_tables(spark, self.dims, *self.DIMS))
                current = versioning.read_snapshot(spark, self.gl_path)
                merged = merge.merge_upsert(current, enriched, ["order_key"])
            plan(tr, merged)
            with tr.span("sources.commit"), tr.phase("engine.exec"):
                versioning.commit_snapshot(merged, self.gl_path, mode="overwrite")

    def layer_metrics(self, i: int, spans: list, eng: dict) -> dict:
        after = _tree_files(os.path.join(self.work, "state"))
        written = [p for p, v in after.items() if self._files_before.get(p) != v]
        return {
            "pipelines.run_s": _span_sum(spans, "pipelines.run"),
            "pipelines.jobs": eng["phase_jobs"].get("pipelines.run", 0),
            "operators.gl_merge_s": _span_sum(spans, "operators.gl_merge"),
            "sources.commit_s": _span_sum(spans, "sources.commit"),
            "sources.written_mb": sum(after[p][0] for p in written) / (1024.0 * 1024.0),
            "sources.files_written": sum(1 for p in written if p.endswith(".parquet")),
        }

    def check(self) -> list[str]:
        return oracle.check_erp(
            events_dir=self.events_dir,
            rollup_target=os.path.join(self.rollup_state, "target"),
            audit_log=os.path.join(self.rollup_state, "log"),
            n_runs=self.runs,
            gl_path=self.gl_path,
            order_files=[os.path.join(self.inputs, "initial", "orders.parquet")]
            + [os.path.join(self.inputs, b, "orders.parquet") for b in self.consumed],
            dims=self.dims,
            gl_oracle=registry.load_all(include_extra=True)["gl_enrichment"].oracle,
            corrupt=self.corrupt,
        )


# ------------------------------------------------------------ dedup curation
class DedupCuration(Workload):
    """One op = ``ngram_jaccard_pairs`` over the corpus: shingling, the
    df cap, and the exact Jaccard of every pair sharing a shingle, by a
    shingle self-join."""

    name = "dedup_curation"
    # A cold op takes six times as long as a warm one; after two warm-ups
    # the first timed ops were still up to half as long again as the later.
    warmup_ops = 3
    min_ops = 8

    def op(self, i: int) -> None:
        tr = self.tr
        with tr.span("operators.dedup.ngram"):
            with tr.phase("plans.build"):
                df = dedup.ngram_jaccard_pairs(
                    tables.load_table(self.spark, self.inputs, "documents"))
            plan(tr, df)
            # The pair list is small: fetching it is the forcing action,
            # and the last op's list is what check() verifies.
            with tr.phase("engine.exec.ngram"), tr.span("engine.exec"):
                self.pairs = oracle.arrow_rows(df)[1]
        if tr.enabled:
            self._persists = cache.tracked_count()
            self._storage = tr.storage_mb()
        cache.release_tracked()

    def layer_metrics(self, i: int, spans: list, eng: dict) -> dict:
        # The forcing jobs carry their own phase tag.
        tag = tracing.PHASE_TAG.format("engine.exec.ngram")
        jobs = {j for j, tags in eng["tagged_jobs"].items() if tag in tags}
        cand, pairs = tracing.verify_counts(
            [ex for ex in self.tr.sql_executions(jobs)
             if jobs & set(ex.get("successJobIds", []))])
        return {
            "cache.persists": self._persists,
            "cache.storage_mb": self._storage,
            "operators.dedup.ngram_s": _span_sum(spans, "operators.dedup.ngram"),
            "operators.dedup.candidates": cand,
            "operators.dedup.pairs": pairs,
            "operators.dedup.verify_yield": pairs / cand if cand else 0.0,
        }

    def check(self) -> list[str]:
        return oracle.check_dedup(self.inputs, self.pairs, dedup.DEFAULT_MAX_SHINGLE_DF,
                                  self.corrupt)


WORKLOADS = {w.name: w for w in (ErpIncremental, DedupCuration)}
