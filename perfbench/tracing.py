"""Spans and Spark status-store attribution for the traced run.

Spans are kept in memory: a name, start and end (``perf_counter``
seconds), the parent span's index and the op id.  Calls into
``sources.tables.load_table`` and ``partitioning.fan_out`` are wrapped
where the plan and operator modules bind them, from here, so the engine's
code is unchanged.  Each op's Spark jobs carry a job tag set here, so the
status store attributes stages, tasks, CPU, shuffle and spill to the op.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
import urllib.request

OP_TAG = "perfbench-op-{}"
PHASE_TAG = "perfbench-phase-{}"


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null

    def phase(self, name: str):
        return self._null

    def begin_op(self, op_id: int) -> None:
        pass

    def end_op(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op_id = -1
        # Status-store reads go to the UI server this process started.
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}/")

    # ---------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p, op = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), p, op)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Span plus a job tag, so the phase's Spark jobs can be counted."""
        tag = PHASE_TAG.format(name)
        self.sc.addJobTag(tag)
        try:
            with self.span(name):
                yield
        finally:
            self.sc.removeJobTag(tag)

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self.sc.addJobTag(OP_TAG.format(op_id))

    def end_op(self) -> None:
        self.sc.removeJobTag(OP_TAG.format(self.op_id))
        self.op_id = -1

    def op_spans(self, op_id: int) -> list[tuple[str, float, float, int, int]]:
        return [s for s in self.spans if s[4] == op_id]

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part its children cover."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                covered.setdefault(parent, []).append((start, end))
        out = {}
        for i, (_, start, end, _, _) in enumerate(self.spans):
            busy, last = 0.0, start
            for s, e in sorted(covered.get(i, [])):
                s = max(s, last)
                if e > s:
                    busy += e - s
                    last = e
            out[i] = (end - start) - busy
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for i, (name, start, end, parent, op) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": start, "end": end,
                                    "parent": parent, "op": op,
                                    "self_s": selfs[i]}) + "\n")

    # ------------------------------------------------------ wrapped calls
    def wrap_bound(self, module_prefix: str, attr: str, span_name: str) -> int:
        """Replace ``attr`` in every loaded module under ``module_prefix``
        that binds the original function with a span-recording wrapper.
        Returns the number of bindings wrapped."""
        mods = [m for n, m in sys.modules.items()
                if m is not None and n.startswith(module_prefix)]
        origs = {getattr(m, attr) for m in mods
                 if callable(getattr(m, attr, None))
                 and not getattr(getattr(m, attr), "_perfbench", False)}
        if len(origs) != 1:
            raise RuntimeError(f"expected one {attr} implementation, found {len(origs)}")
        orig = origs.pop()

        def wrapper(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        wrapper._perfbench = True
        n = 0
        for m in mods:
            if getattr(m, attr, None) is orig:
                setattr(m, attr, wrapper)
                n += 1
        return n

    # -------------------------------------------------------- status store
    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def engine_metrics(self, op_id: int) -> dict:
        """Job, stage and task metrics of every job tagged with the op."""
        self.settle()
        tag = OP_TAG.format(op_id)
        jobs = [j for j in self._get("jobs") if tag in (j.get("jobTags") or [])]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages")
                  if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
        mb = 1024.0 * 1024.0
        phases: dict[str, int] = {}
        for j in jobs:
            for t in j.get("jobTags") or []:
                if t.startswith(PHASE_TAG.format("")):
                    key = t[len(PHASE_TAG.format("")):]
                    phases[key] = phases.get(key, 0) + 1
        exec_tag = PHASE_TAG.format("engine.exec")
        exec_ids = {s for j in jobs
                    if any(t.startswith(exec_tag) for t in j.get("jobTags") or [])
                    for s in j["stageIds"]}
        return {
            "jobs": len(jobs),
            "phase_jobs": phases,
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec_run_s": sum(s["executorRunTime"] for s in stages
                              if s["stageId"] in exec_ids) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in stages) / mb,
            "tagged_jobs": {j["jobId"]: j.get("jobTags") or [] for j in jobs},
        }

    def storage_mb(self) -> float:
        """Memory plus disk held by cached blocks right now."""
        self.settle()
        rdds = self._get("storage/rdd")
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / (1024.0 * 1024.0)

    def sql_executions(self, job_ids: set[int]) -> list[dict]:
        """SQL executions, with node metrics, that ran any of ``job_ids``."""
        out, offset = [], 0
        while True:
            page = self._get(f"sql?details=true&planDescription=false"
                             f"&offset={offset}&length=200")
            if not page:
                return out
            out += [ex for ex in page
                    if job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", []))]
            offset += len(page)


def _rows(node) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return int(m["value"].replace(",", "").split()[0])
    return None


def verify_counts(executions: list[dict]) -> tuple[int, int]:
    """(candidates, pairs) of each execution's Jaccard verification, from
    SQL node metrics.  Node ids follow the plan in pre-order, so the first
    node that counts rows is the verification join (its output: the pairs
    kept) and the second is the first counting node on its input side (the
    candidate pairs it verified).  The dedup operators all end in that
    join, with the ``jaccard >= threshold`` filter folded into it."""
    cand = pairs = 0
    for ex in executions:
        counted = sorted((n["nodeId"], _rows(n)) for n in ex.get("nodes", [])
                         if _rows(n) is not None)
        if len(counted) >= 2:
            pairs += counted[0][1]
            cand += counted[1][1]
    return cand, pairs
