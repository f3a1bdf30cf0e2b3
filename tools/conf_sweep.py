"""Session-conf robustness sweep: every registry query's VALUES must be
identical under any session settings an embedding application may choose.

The engine's contract is that results are a pure function of the input
data. An embedder brings its own session: its own zone (every
timestamp-derived expression would silently re-render under it unless the
business-time semantics are implemented zone-independently), its own
shuffle width and scan split size (which change the ORDER rows meet an
aggregate, so double sums, unordered ``first()``/``collect_list`` and
under-keyed ``row_number`` drift), and its own AQE and broadcast settings
(which change join strategies and partition coalescing). ANSI on/off is
the remaining leg, checked against the oracle by
``tools/check_correctness.py --ansi``.

This sweep runs the full registry once per row of ``SETTINGS`` and
compares an order-insensitive value hash of each result with the ``base``
run. Every row starts from ``BASE`` and changes one thing, so a mismatch
names the setting. The zones exercise a whole-hour (-5) and a 45-minute
(+5:45) offset; the latter catches alignment assumptions that whole-hour
zones mask. ``load_table``'s UTC session pin is suppressed for the whole
run: with it active every zone would execute under UTC.

Usage: python tools/conf_sweep.py [sf_dir] [query ...]
The last line of output is the run's summary as JSON (``tools/conf_sweep.json``
holds the full-registry run at sf0.001). Exit code 1 if any query errors or
hash-mismatches under any setting.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BROADCAST = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")

# Every run sets BASE, then its row's settings. The broadcast thresholds
# keep the session's values in the base run.
BASE = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.adaptive.enabled": "true",
}
SETTINGS: list[tuple[str, dict[str, str]]] = [
    ("base", {}),
    ("tz-new-york", {"spark.sql.session.timeZone": "America/New_York"}),
    ("tz-kathmandu", {"spark.sql.session.timeZone": "Asia/Kathmandu"}),
    ("shuffle-1", {"spark.sql.shuffle.partitions": "1"}),
    ("shuffle-7", {"spark.sql.shuffle.partitions": "7"}),
    ("splits-64k", {"spark.sql.files.maxPartitionBytes": "65536"}),
    ("aqe-off", {"spark.sql.adaptive.enabled": "false"}),
    ("broadcast-off", dict.fromkeys(BROADCAST, "-1")),
    ("aqe-broadcast-off", {"spark.sql.adaptive.enabled": "false",
                           **dict.fromkeys(BROADCAST, "-1")}),
]


def canon_hash(df) -> tuple[int, str]:
    """Order-insensitive INSTANT-level value hash. collect() renders
    TIMESTAMP via datetime.fromtimestamp — the HOST zone, independent of
    the session zone this sweep varies — so naive datetimes are host-local
    wall time; .astimezone(utc) on a naive datetime interprets it as
    host-local, recovering the instant. DATE cells (and date-derived
    strings/ints) hash as-is — a ts→date or hour(ts) that shifts with the
    session zone is exactly the drift this sweep exists to catch."""

    def cell(v):
        if isinstance(v, dt.datetime) and v.tzinfo is None:
            return v.astimezone(dt.timezone.utc).isoformat()
        return repr(v)

    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    lines = sorted("|".join(cell(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.plans.registry import load_all
    from ssg_etl_spark.session import get_spark
    from ssg_etl_spark.sources.tables import tz_pin_suppressed

    specs = load_all(include_extra=True)
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    spark = get_spark("conf_sweep")
    base_conf = {**BASE, **{k: spark.conf.get(k) for k in BROADCAST}}
    base: dict[str, tuple[int, str]] = {}
    bad: list[str] = []
    per_setting: dict[str, int] = {}
    t0 = time.time()
    with tz_pin_suppressed():
        for label, conf in SETTINGS:
            for k, v in {**base_conf, **conf}.items():
                spark.conf.set(k, v)
            before = len(bad)
            for name in sorted(specs):
                try:
                    got = canon_hash(specs[name].builder(spark, sf_dir))
                except Exception as exc:  # noqa: BLE001
                    got = (-1, f"ERROR {type(exc).__name__}: {str(exc)[:300]}")
                finally:
                    release_tracked()
                if label == "base":
                    base[name] = got
                    if got[0] < 0:
                        bad.append(f"{name} [base]: {got[1]}")
                        print(f"FAIL {name} [base]: {got[1]}", flush=True)
                elif got != base[name]:
                    bad.append(f"{name} [{label}]: {base[name]} -> {got}")
                    print(f"FAIL {name} [{label}]: base={base[name]} got={got}", flush=True)
            per_setting[label] = len(bad) - before
            print(f"== {label}: done ({len(bad)} failures so far)", flush=True)
    for k, v in base_conf.items():
        spark.conf.set(k, v)

    print(f"\n{len(specs)} queries x {len(SETTINGS)} settings, {len(bad)} failures")
    for b in bad:
        print("  " + b)
    print(json.dumps({
        "sf_dir": sf_dir,
        "queries": len(specs),
        "base": base_conf,
        "settings": dict(SETTINGS),
        "failures_per_setting": per_setting,
        "failures": bad,
        "wall_s": round(time.time() - t0, 1),
    }))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
