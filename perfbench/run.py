"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts one Spark session
through ``ssg_etl_spark.session.get_spark`` at a fixed task-slot count,
prepares and warms the workload, runs ops back to back for ``--seconds``
seconds, checks every output against an independent DuckDB computation,
and prints one JSON line as the last line of standard output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
and status-store metrics and reports the per-layer metrics instead
(``--trace-out FILE`` also writes every span, one JSON object a line).
Everything a run writes lives in a temporary directory under
``.perfbench_tmp/`` in the current directory, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

# The program sits next to this directory. Without it the imports below
# fail, and the command exits non-zero without printing a result.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import proctree  # noqa: E402
import tracing  # noqa: E402
from workloads import PER_LAYER, WORKLOADS, common_layers  # noqa: E402

from ssg_etl_spark import cache  # noqa: E402
from ssg_etl_spark.plans import registry  # noqa: E402
from ssg_etl_spark.session import get_spark  # noqa: E402

# Task slots: fixed at 3, and never more than this process may run on.
# On a 4-core host this leaves a core for the scheduling thread, the JIT
# compiler and GC. Measured on a four-operator dedup op: at 4 slots it
# needed three warm-up ops to settle (26.7, 25.8, 20.9, then 15.0 s), at
# 3 one (22.3, then 15.9, 15.2 s), at the same steady latency.
SLOTS = min(3, len(os.sched_getaffinity(0)))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# The JVM compiles with C1 only. A run lasts about a minute, and in that
# time C2 never settles: with it, per-op CPU of ngram_jaccard_pairs fell
# from 6.8 to 2.9 s over 13 ops, and how far a run got down that curve
# depended on how busy the host was (op medians of five seeds spread 56%
# of their median). With C1 the ops are flat after the second.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    java_opts = (f"{JIT_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={work}")
    spark = get_spark(
        "perfbench",
        master=f"local[{SLOTS}]",
        # The session module's sizing rule: 2-3x the executor cores.
        shuffle_partitions=2 * SLOTS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def run(args, work: str) -> dict:
    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    gen.generate(args.workload, inputs, args.seed)
    log(f"inputs generated in {time.perf_counter() - t:.2f} s")

    t0 = time.perf_counter()
    spark = start_spark(work)
    log(f"session started in {time.perf_counter() - t0:.2f} s")
    try:
        tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
        wl = WORKLOADS[args.workload](spark, inputs, work, tracer, corrupt=args.corrupt)
        if args.trace:
            # Import every plan module first so each binding gets wrapped.
            registry.load_all(include_extra=True)
            tracer.wrap_bound("ssg_etl_spark", "load_table", "sources.load_table")
            tracer.wrap_bound("ssg_etl_spark", "fan_out", "partitioning.fan_out")
        t = time.perf_counter()
        wl.prepare()
        log(f"prepared in {time.perf_counter() - t:.2f} s")
        # The JIT and Spark's caches warm on these: a cold op takes up to
        # six times as long as a warm one.
        for i in range(wl.warmup_ops):
            wl.before_op(-1 - i)
            t = time.perf_counter()
            wl.op(-1 - i)
            cache.release_tracked()
            log(f"warm-up op {i + 1} in {time.perf_counter() - t:.2f} s")
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f} s")

        lat, cpu, layers = [], [], []
        failed = attempted = 0
        # Resident memory is sampled in the traced run only: across seeds
        # its peak moved by up to 40% (JVM heap growth), too much to gate on.
        with proctree.PeakRss() if args.trace else contextlib.nullcontext() as peak:
            start = time.perf_counter()
            while time.perf_counter() - start < args.seconds or attempted < wl.min_ops:
                wl.before_op(attempted)
                tracer.begin_op(attempted)
                if peak:
                    peak.peak = 0
                c0, t1 = proctree.tree_cpu_s(), time.perf_counter()
                try:
                    wl.op(attempted)
                    ok = True
                except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                    cache.release_tracked()
                t2, c1 = time.perf_counter(), proctree.tree_cpu_s()
                op_peak = peak.peak if peak else 0
                tracer.end_op()
                if ok:
                    lat.append(t2 - t1)
                    cpu.append(c1 - c0)
                    if args.trace:
                        spans = tracer.op_spans(attempted)
                        eng = tracer.engine_metrics(attempted)
                        rec = common_layers(spans, eng, SLOTS)
                        rec.update(wl.layer_metrics(attempted, spans, eng))
                        rec["engine.peak_rss_mb"] = op_peak / (1024.0 * 1024.0)
                        layers.append(rec)
                else:
                    failed += 1
                attempted += 1
        log(f"{attempted} ops, {failed} failed; latencies "
            + " ".join(f"{x:.2f}" for x in lat) + "; cpu " + " ".join(f"{x:.2f}" for x in cpu))

        t = time.perf_counter()
        problems = wl.check()
        log(f"checked in {time.perf_counter() - t:.2f} s")
        for p in problems:
            log(f"CHECK FAILED {p}")
        if args.trace and args.trace_out:
            tracer.write(args.trace_out)
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = {k: {"value": statistics.median(r.get(k, 0) for r in layers),
                       "unit": unit(k)} for k in PER_LAYER} if layers else {}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_cpu_s": {"value": statistics.median(cpu), "unit": "s"},
        } if lat else {}
    return {"correct": not problems and bool(lat), "attempted": attempted,
            "failed": failed, "metrics": metrics}


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_yield")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="ssg_etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trace-out", help="with --trace 1, write every span to this file")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output per check before checking (check self-test)")
    args = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, the JVM and Python's tempfile all write under the run dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
