"""session.local_frame: the engine's one Python-rows → DataFrame boundary;
the one shuffle-width rule."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
import pathlib
import time

import pytest

from ssg_etl_spark.session import local_frame

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ssg_etl_spark"

SCHEMA = (
    "id long, name string, tags array<string>, amt decimal(12,2), "
    "ntz timestamp_ntz, ltz timestamp, stamps array<timestamp>, "
    "m map<string,int>, d date, s struct<a:int, t:timestamp_ntz>, "
    "b binary, x double, ok boolean"
)

ROWS = [
    (
        1,
        "a",
        ["x", None],
        decimal.Decimal("12.34"),
        dt.datetime(2024, 3, 10, 2, 30),  # a DST gap in US zones
        dt.datetime(2024, 3, 10, 2, 30),
        [dt.datetime(2024, 11, 3, 1, 30)],  # a DST overlap in US zones
        {"k": 1},
        dt.date(2024, 1, 2),
        (5, dt.datetime(2020, 1, 1, 1, 1, 1, 7)),
        b"\x00\x01",
        1.5,
        True,
    ),
    (None,) * 13,
    (
        3,
        "",
        [],
        decimal.Decimal("-0.01"),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2024, 6, 1, 12, 0, tzinfo=dt.timezone.utc),
        [],
        {},
        None,
        None,
        b"",
        float("inf"),
        False,
    ),
]


def _tz_env(zone):
    """Set the Python process zone (the zone the Python-row path reads a
    naive TIMESTAMP in); returns the previous value for restoring."""
    prev = os.environ.get("TZ")
    if zone is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = zone
    time.tzset()
    return prev


@pytest.mark.parametrize(
    "session_zone, process_zone",
    [
        ("UTC", None),
        ("America/Los_Angeles", None),
        ("Asia/Kathmandu", "America/New_York"),
    ],
)
def test_local_frame_matches_python_row_path(spark, session_zone, process_zone):
    """Same schema and same values as ``createDataFrame`` on Python rows:
    NULLs, arrays, maps, structs, decimals, NTZ and zone-dependent
    TIMESTAMP values (naive ones read in the Python process zone on both
    paths, never the session zone), and the empty row list."""
    prev_session = spark.conf.get("spark.sql.session.timeZone")
    prev_env = _tz_env(process_zone) if process_zone else None
    try:
        spark.conf.set("spark.sql.session.timeZone", session_zone)
        for rows in (ROWS, []):
            want = spark.createDataFrame(rows, SCHEMA)
            got = local_frame(spark, rows, SCHEMA)
            assert got.schema == want.schema
            assert got.collect() == want.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_session)
        if process_zone:
            _tz_env(prev_env)


def test_local_frame_takes_dicts_and_struct_schemas(spark):
    """Dict rows bind by field name (absent keys are NULL), like the
    Python-row path; a StructType schema works as well as DDL."""
    from ssg_etl_spark.schemas import ETL_LOG

    row = {"process_log_id": "r1", "rows_extracted": 3, "success": True}
    got = local_frame(spark, [row], ETL_LOG)
    assert got.schema == ETL_LOG
    assert got.collect() == spark.createDataFrame([row], ETL_LOG).collect()


def test_local_frame_is_a_local_relation_without_jobs(spark):
    """The frame is a JVM local relation in one partition: reading it
    back with ``first()``/``collect()`` starts no Spark job."""
    sc = spark.sparkContext
    df = local_frame(spark, [(1, "a")], "id long, name string")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert df.rdd.getNumPartitions() == 1
    group = "local-frame-no-jobs"
    sc.setJobGroup(group, "local_frame read-back")
    try:
        assert df.first() == (1, "a")
        assert df.collect() == [(1, "a")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_engine_has_one_local_frame_boundary():
    """AST lint: ``ssg_etl_spark/`` has exactly one ``createDataFrame``
    call, inside ``session.local_frame``, so Python rows always become a
    local relation instead of a Python RDD."""
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    sites.append(f"{path.relative_to(PACKAGE)}:{owner}")
    assert sites == ["session.py:local_frame"], (
        f"createDataFrame call sites outside the one boundary: {sites} — "
        "build the frame with session.local_frame instead"
    )


def test_get_spark_derives_the_shuffle_width_from_the_cores(spark):
    """Unless the caller passes ``shuffle_partitions``, ``get_spark`` sets
    the shuffle width to twice the session's default parallelism."""
    from ssg_etl_spark.session import get_spark

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        same = get_spark("ssg-etl-tests")
        assert same is spark
        want = 2 * spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
        get_spark("ssg-etl-tests", shuffle_partitions=5)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_one_parallelism_rule():
    """AST lint: only ``session.py`` sets ``spark.sql.shuffle.partitions``
    inside ``ssg_etl_spark/``; no engine, bench or tool file reads a
    parallelism env knob; ``partitioning.py`` decides from plan nodes,
    without printing a plan or reading the environment."""
    knobs = {"SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_VEC_FANOUT_BYTES"}
    setters, readers, partitioning = [], [], []
    paths = [*PACKAGE.rglob("*.py"), REPO / "bench.py", *(REPO / "tools").rglob("*.py")]
    for path in sorted(paths):
        rel = str(path.relative_to(REPO))
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and node.value in knobs:
                readers.append(rel)
            if path.is_relative_to(PACKAGE) and path != PACKAGE / "session.py":
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                    keys = [a for a in node.args[:1] if isinstance(a, ast.Constant)]
                elif isinstance(node, ast.Dict):
                    keys = [k for k in node.keys if isinstance(k, ast.Constant)]
                else:
                    keys = []
                if any(k.value == "spark.sql.shuffle.partitions" for k in keys):
                    setters.append(rel)
            if path == PACKAGE / "partitioning.py":
                if isinstance(node, ast.Attribute) and node.attr in {"toString", "environ", "getenv"}:
                    partitioning.append(node.attr)
    assert setters == [], f"shuffle width set outside session.py: {setters}"
    assert readers == [], f"parallelism env knobs read in: {readers}"
    assert partitioning == [], f"partitioning.py calls {partitioning}"
