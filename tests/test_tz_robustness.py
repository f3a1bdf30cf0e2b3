"""Timezone-robustness gate — the zone twin of ``test_ansi_robustness``.

``session.py`` pins ``spark.sql.session.timeZone=UTC``, but the driver and
any embedding application supply their OWN session whose zone defaults to
the host zone. Every timestamp field extraction (``hour``, ``CAST(ts AS
DATE)``, ``year``, ``date_format``) renders through that ambient zone, so
without the ``utc_wall`` / ``utc_ts_lit`` idioms (functions/scalar.py) a
query that passes the UTC oracle returns silently shifted values in a
non-UTC session. Contract: query VALUES are instant-identical under any
session zone. The full registry sweep over zones (and the other session
settings) is ``tools/conf_sweep.py``; this in-suite gate pins the queries whose
expressions extract calendar fields from TIMESTAMP columns — the ones that
would regress if an edit dropped a ``utc_wall`` wrapper.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest

from ssg_etl_spark.plans.registry import load_all

SPECS = load_all(include_extra=True)

# Queries with timestamp→calendar-field extraction in their Spark plans
# (date rollups, year filters/pivots, hour-based shift recode, timestamp
# rendering, epoch-anchored generation). Asia/Kathmandu's +05:45 offset
# shifts every one of these if an extraction reads the ambient zone.
TZ_SENSITIVE = [
    "rollup_grouping_sets",
    "avg_daily_orders_sales",
    "yoy_monthly_sales",
    "pivot_status_year",
    "full_refresh_replicate",
    "synthetic_transactions",
    "gl_enrichment",
    "scalar_string_date_math",
    "running_total_by_nation",
    "asof_last_before",
    "source_change_detection",
    "cohort_retention_daily",  # calendar-day cohorts from NTZ event time
    # Round 8: the two latent shifts the first REAL full sweep caught —
    # a collected NTZ max re-entered via F.lit(datetime) builds a
    # session-coerced TIMESTAMP literal (now utc_ts_lit → NTZ).
    "interval_filter_last_day",
    "watermark_incremental",
]


def _canon(df, zone: str) -> list[str]:
    # collect() renders TIMESTAMP via datetime.fromtimestamp — the HOST
    # zone, independent of the session zone we vary. Naive datetimes are
    # therefore host-local wall time; .astimezone(utc) on a naive datetime
    # interprets it as host-local, recovering the instant. (TIMESTAMP_NTZ
    # collects as zone-independent wall fields; shifting those uniformly
    # keeps the cross-zone hashes comparable.)
    del zone

    def cell(v):
        if isinstance(v, dt.datetime) and v.tzinfo is None:
            return v.astimezone(dt.timezone.utc).isoformat()
        return repr(v)

    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted("|".join(cell(r[c]) for c in cols) for r in rows)


def test_utc_ts_lit_honors_string_offsets(spark):
    """An ISO string with a UTC offset names an INSTANT: utc_ts_lit must
    normalize it to UTC wall fields (r9 advisor fix — the bare
    cast-to-NTZ route kept the local wall fields, shifting the cutoff by
    the offset). Naive strings keep their wall fields verbatim."""
    from ssg_etl_spark.functions.scalar import utc_ts_lit

    row = spark.range(1).select(
        utc_ts_lit("2024-01-01T05:00:00+05:00").alias("aware"),
        utc_ts_lit("2024-01-01 05:00:00").alias("naive"),
        utc_ts_lit("2024-06-02T00:30:00-02:30").alias("neg"),
        utc_ts_lit("2024-01-01T05:00:00Z").alias("zulu"),
    ).first()
    assert row["aware"] == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert row["naive"] == dt.datetime(2024, 1, 1, 5, 0, 0)
    assert row["neg"] == dt.datetime(2024, 6, 2, 3, 0, 0)
    # 'Z' is an offset too (UTC) — wall fields kept, version-independent.
    assert row["zulu"] == dt.datetime(2024, 1, 1, 5, 0, 0)


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_values_identical_across_session_zones(spark, sf_dir, name):
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.sources.tables import tz_pin_suppressed

    assert name in SPECS, f"{name} dropped from registry — update this list"
    prev = spark.conf.get("spark.sql.session.timeZone")
    # Suppress load_table's UTC pin so the sweep actually varies the
    # execution zone — with the pin in place both branches run under UTC
    # and a dropped utc_wall wrapper is undetectable (r7 advisor finding).
    try:
        with tz_pin_suppressed():
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            base = _canon(SPECS[name].builder(spark, sf_dir), "UTC")
            release_tracked()
            spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
            got = _canon(SPECS[name].builder(spark, sf_dir), "Asia/Kathmandu")
            release_tracked()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        release_tracked()
    assert len(base) > 0
    h = lambda lines: hashlib.sha256("\n".join(lines).encode()).hexdigest()  # noqa: E731
    assert h(base) == h(got), (
        f"{name}: values shift with session timeZone — a timestamp field "
        "extraction is missing its utc_wall/utc_ts_lit wrapper"
    )
