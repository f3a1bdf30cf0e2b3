"""Interleaved A/B of the benchmark: a base revision against the working tree.

    python tools/ab.py [--base REV] [--workload NAME ...] [--seeds 101 102 ...]
                       [--seconds 20] [--trace 0|1] [--json OUT]

The base revision is extracted with ``git archive REV | tar -x`` into a
temporary directory; both arms then run the WORKING TREE's
``perfbench/run.py`` (copied over the base's), so the harness is the same
and only the program differs. For each workload and seed the two arms run
back to back, one fresh process each, with the order alternating from
seed to seed (base first on even pairs, change first on odd ones), so a
drift in host load spreads over both arms.

For every metric a run reports (the end-to-end ones, or the per-layer
ones with ``--trace 1``) it prints each arm's median and quartiles, the
median change, and how many pairs the change won, in the direction
``BENCHMARK.json`` gives for that metric. ``claim`` marks a metric where
the change won at least 9 pairs in 10 and its median moved by more than
the base's interquartile range. Runs that are not correct or that fail
ops are reported and left out of the statistics.

Every run works in its own temporary directory; the extracted base and
those directories are removed at exit, so nothing is left behind.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev: str, dest: str) -> None:
    """The committed tree of ``rev`` under ``dest``, with the working
    tree's benchmark harness in place of its own."""
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(
        os.path.join(REPO, "perfbench"),
        os.path.join(dest, "perfbench"),
        ignore=shutil.ignore_patterns("__pycache__", ".perfbench_tmp"),
    )


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark process over ``tree``'s program; its JSON result."""
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"  # no __pycache__ left in either tree
    with tempfile.TemporaryDirectory(prefix="ab-run-") as cwd:
        proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "failed": -1, "metrics": {},
                "error": proc.stderr.strip().splitlines()[-1:] or [f"exit {proc.returncode}"]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions() -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """Per metric: both arms' quartiles and the change's pair wins, over
    the pairs where both runs were correct with no failed ops."""
    ok = [(b, c) for b, c in pairs
          if all(r.get("correct") and not r.get("failed") for r in (b, c))]
    names = sorted({n for b, c in ok for n in b["metrics"]} & {n for b, c in ok for n in c["metrics"]})
    rows = []
    for name in names:
        base = [b["metrics"][name]["value"] for b, _ in ok]
        new = [c["metrics"][name]["value"] for _, c in ok]
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        wins = sum(1 for x, y in zip(base, new) if sign * (y - x) > 0)
        bq, nq = quartiles(base), quartiles(new)
        gap = sign * (nq[1] - bq[1])
        rows.append({
            "metric": name, "pairs": len(ok),
            "base": bq, "change": nq,
            "delta_pct": 100.0 * (nq[1] - bq[1]) / bq[1] if bq[1] else 0.0,
            "wins": wins,
            "claim": len(ok) > 0 and wins >= 0.9 * len(ok) and gap > bq[2] - bq[0],
        })
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD", help="git revision of the base arm")
    ap.add_argument("--workload", action="append",
                    help="benchmark workload (repeatable; default: every workload)")
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(101, 111)))
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="also write every run and the summary here")
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # runs the cleanup
    better = directions()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        workloads = args.workload or [w["name"] for w in json.load(f)["workloads"]]
    report = {"base": args.base, "seeds": args.seeds, "workloads": {}}
    base_tree = tempfile.mkdtemp(prefix="ab-base-")
    try:
        extract(args.base, base_tree)
        arms = {"base": base_tree, "change": REPO}
        for wl in workloads:
            pairs = []
            for i, seed in enumerate(args.seeds):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                res = {arm: run_once(arms[arm], wl, seed, args.seconds, args.trace)
                       for arm in order}
                pairs.append((res["base"], res["change"]))
                print(f"[ab] {wl} seed {seed} ({order[0]} first): " + "; ".join(
                    f"{arm} " + (" ".join(f"{k}={v['value']:.3g}" for k, v in sorted(r["metrics"].items())
                                          if k in ("op_p50_s", "op_cpu_s", "setup_s") or args.trace)
                                 if r.get("correct") and not r.get("failed")
                                 else f"BAD {r.get('error') or r.get('failed')}")
                    for arm, r in (("base", res["base"]), ("change", res["change"]))),
                    file=sys.stderr, flush=True)
            rows = summarize(pairs, better)
            report["workloads"][wl] = {"runs": pairs, "summary": rows}
            print(f"\n{wl}: base {args.base} vs working tree, {len(args.seeds)} pairs")
            print("| metric | base median [Q1, Q3] | change median [Q1, Q3] | Δ median | change won | claim |")
            print("|---|---|---|---|---|---|")
            for r in rows:
                b, c = r["base"], r["change"]
                print(f"| `{r['metric']}` | {b[1]:.3g} [{b[0]:.3g}, {b[2]:.3g}] | "
                      f"{c[1]:.3g} [{c[0]:.3g}, {c[2]:.3g}] | {r['delta_pct']:+.1f}% | "
                      f"{r['wins']}/{r['pairs']} | {'yes' if r['claim'] else 'no'} |")
    finally:
        shutil.rmtree(base_tree, ignore_errors=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
