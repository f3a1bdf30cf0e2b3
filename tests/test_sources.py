"""File sources, synthetic generator, sinks, catalog scan (SURVEY §2.1)."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssg_etl_spark.sources.files import read_csv, read_excel, read_json_lines
from ssg_etl_spark.sources.generator import synthetic_transactions
from ssg_etl_spark.sources.sinks import replicate_table, stamp_modified, write_partitioned
from tests.conftest import COMMIT_CRASHES, InjectedCrash

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("amt", T.DoubleType()),
    ]
)


def test_csv_roundtrip_explicit_schema(spark, tmp_path):
    p = str(tmp_path / "c.csv")
    with open(p, "w") as f:
        f.write("k,name,amt\n1,a,1.5\n2,b,2.5\n")
    out = read_csv(spark, p, SCHEMA).collect()
    assert sorted((r.k, r.name, r.amt) for r in out) == [(1, "a", 1.5), (2, "b", 2.5)]


def test_json_lines_roundtrip(spark, tmp_path):
    p = str(tmp_path / "j.jsonl")
    with open(p, "w") as f:
        f.write('{"k": 1, "name": "a", "amt": 1.5}\n{"k": 2, "name": "b", "amt": 2.5}\n')
    out = read_json_lines(spark, p, SCHEMA).collect()
    assert sorted((r.k, r.name, r.amt) for r in out) == [(1, "a", 1.5), (2, "b", 2.5)]


def test_generator_deterministic_across_partitionings(spark):
    a = synthetic_transactions(spark, 200, num_partitions=1).collect()
    b = synthetic_transactions(spark, 200, num_partitions=7).collect()
    key = lambda r: r.txn_seq  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    first = min(a, key=key)
    assert first.txn_id == "cfcd208495d565ef66e7dff9f98764da"  # md5("0")
    assert first.amount == 0.0 and first.currency == "USD"


def test_write_partitioned_prunes(spark, tmp_path):
    df = synthetic_transactions(spark, 100).withColumn(
        "day", F.to_date("created_at")
    )
    out = str(tmp_path / "t")
    write_partitioned(df, out, partition_by=["currency"], max_files_per_partition=2)
    # Hive-style layout exists → partition pruning can skip directories.
    assert os.path.isdir(os.path.join(out, "currency=USD"))
    back = spark.read.parquet(out)
    plan = back.filter(F.col("currency") == "USD")._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 100
    assert "PartitionFilters: [isnotnull(currency" in plan


def test_stamp_modified_and_replicate(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = stamp_modified(synthetic_transactions(spark, 10))
    assert "modified_at" in df.columns
    df.write.parquet(src)
    replicate_table(spark, src, dst)
    assert spark.read.parquet(dst).count() == 10


def test_jdbc_read_options_plumbing():
    from ssg_etl_spark.sources.tables import jdbc_read_options

    opts = jdbc_read_options(
        url="jdbc:postgresql://host/db",
        table="public.orders",
        user="u",
        password="p",
        driver="org.postgresql.Driver",
        partition_column="o_orderkey",
        lower_bound=1,
        upper_bound=1_000_000,
        num_partitions=16,
        fetch_size=5000,
    )
    assert opts["dbtable"] == "public.orders"
    assert opts["partitionColumn"] == "o_orderkey"
    assert (opts["lowerBound"], opts["upperBound"], opts["numPartitions"]) == (
        "1", "1000000", "16",
    )
    assert opts["fetchsize"] == "5000"

    q = jdbc_read_options(url="jdbc:x", query="SELECT 1")
    assert q["query"] == "SELECT 1" and "dbtable" not in q

    import pytest as _pytest

    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x")  # neither table nor query
    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", table="t", query="q")  # both
    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", query="q", partition_column="c")
    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", table="t", partition_column="c")


def test_jdbc_write_options_plumbing():
    from ssg_etl_spark.sources.sinks import jdbc_write_options

    opts = jdbc_write_options(
        url="jdbc:postgresql://host/db", table="gl", user="u", password="p",
        batch_size=2000, truncate=False,
    )
    assert opts["batchsize"] == "2000"
    assert opts["truncate"] == "false"
    assert opts["isolationLevel"] == "READ_COMMITTED"


def test_read_excel_stdlib(spark, tmp_path):
    """Round trip through the promoted writer/reader pair (sources.files):
    shared strings, numerics, None cells, XML-escapable text."""
    from pyspark.sql import types as T

    from ssg_etl_spark.sources.files import read_excel, write_xlsx

    path = str(tmp_path / "ref.xlsx")
    write_xlsx(
        path,
        header=["code", "label", "rate"],
        rows=[
            ["A1", "Alpha", 1.5],
            ["B2", "Beta, comma", 2.25],
            ["C3", None, 3],
            ["D4", "a<b> & \"q\"", 4.5],  # XML-escaped on write, restored on read
        ],
        sheet_name="RefData",
    )
    schema = T.StructType(
        [
            T.StructField("code", T.StringType()),
            T.StructField("label", T.StringType()),
            T.StructField("rate", T.DoubleType()),
        ]
    )
    out = {r.code: (r.label, r.rate) for r in read_excel(spark, path, schema).collect()}
    assert out == {
        "A1": ("Alpha", 1.5),
        "B2": ("Beta, comma", 2.25),
        "C3": (None, 3.0),
        "D4": ('a<b> & "q"', 4.5),
    }
    named = read_excel(spark, path, schema, sheet="RefData")
    assert named.count() == 4
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_excel(spark, path, schema, sheet="Nope")


def test_write_xlsx_quoted_sheet_name_and_nonfinite(spark, tmp_path):
    """ADVICE r4: a sheet name containing a double quote must produce a
    well-formed workbook.xml (quoteattr, not bare escape), and non-finite
    floats must be rejected rather than emitted as invalid <v> cells."""
    import math

    import pytest
    from pyspark.sql import types as T

    from ssg_etl_spark.sources.files import read_excel, write_xlsx

    path = str(tmp_path / "quoted.xlsx")
    write_xlsx(
        path,
        header=["k", "v"],
        rows=[["a", 1.0]],
        sheet_name='My "Quoted" Sheet',
    )
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    got = read_excel(spark, path, schema, sheet='My "Quoted" Sheet').collect()
    assert [(r.k, r.v) for r in got] == [("a", 1.0)]

    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="non-finite"):
            write_xlsx(str(tmp_path / "bad.xlsx"), ["x"], [[bad]])


def test_bigquery_write_options_plumbing():
    from ssg_etl_spark.sources.sinks import bigquery_write_options

    opts = bigquery_write_options(
        table="proj.dataset.gl",
        write_method="indirect",
        temporary_gcs_bucket="staging-bkt",
        partition_field="order_date",
        clustered_fields=["region_name", "status_code"],
    )
    assert opts == {
        "table": "proj.dataset.gl",
        "writeMethod": "indirect",
        "temporaryGcsBucket": "staging-bkt",
        "partitionField": "order_date",
        "clusteredFields": "region_name,status_code",
    }
    assert bigquery_write_options(table="p.d.t") == {
        "table": "p.d.t",
        "writeMethod": "direct",
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bigquery_write_options(table="p.d.t", write_method="indirect")
    with _pytest.raises(ValueError):
        bigquery_write_options(table="p.d.t", write_method="streaming")


def test_read_excel_sheet_resolution_via_rels(spark, tmp_path):
    """Sheet names resolve through workbook rels (r:id → part), not through
    declared-order-onto-sorted-paths (which breaks when workbook order and
    sheetN numbering disagree)."""
    import zipfile

    from pyspark.sql import types as T

    from ssg_etl_spark.sources.files import read_excel

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pr = "http://schemas.openxmlformats.org/package/2006/relationships"

    def sheet_xml(value):
        return (
            f'<?xml version="1.0"?><worksheet xmlns="{m}"><sheetData>'
            f'<row r="1"><c r="A1" t="inlineStr"><is><t>v</t></is></c></row>'
            f'<row r="2"><c r="A2"><v>{value}</v></c></row>'
            "</sheetData></worksheet>"
        )

    # Declared order: First (→ sheet2.xml!), Second (→ sheet1.xml).
    workbook = (
        f'<?xml version="1.0"?><workbook xmlns="{m}" xmlns:r="{r}"><sheets>'
        '<sheet name="First" sheetId="1" r:id="rId7"/>'
        '<sheet name="Second" sheetId="2" r:id="rId3"/>'
        "</sheets></workbook>"
    )
    rels = (
        f'<?xml version="1.0"?><Relationships xmlns="{pr}">'
        '<Relationship Id="rId7" Type="x" Target="worksheets/sheet2.xml"/>'
        '<Relationship Id="rId3" Type="x" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    path = str(tmp_path / "multi.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml(111))
        zf.writestr("xl/worksheets/sheet2.xml", sheet_xml(222))

    schema = T.StructType([T.StructField("v", T.IntegerType())])
    assert read_excel(spark, path, schema, sheet="First").collect()[0].v == 222
    assert read_excel(spark, path, schema, sheet="Second").collect()[0].v == 111

    # Without workbook rels, resolving a sheet BY NAME must refuse loudly
    # instead of positionally guessing (declared order and sheetN numbering
    # are independent — a guess can silently read the wrong sheet).
    import pytest as _pytest

    norels = str(tmp_path / "norels.xlsx")
    with zipfile.ZipFile(norels, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml(111))
        zf.writestr("xl/worksheets/sheet2.xml", sheet_xml(222))
    with _pytest.raises(ValueError, match="workbook relationships"):
        read_excel(spark, norels, schema, sheet="First")
    # The default (first worksheet part) still works rels-less.
    assert read_excel(spark, norels, schema).collect()[0].v == 111


def test_bucketed_tables_join_without_shuffle(spark):
    """Co-bucketed tables must join with NO Exchange on the join key — the
    whole point of write_bucketed (SURVEY §4 co-located joins)."""
    from pyspark.sql import functions as F

    from ssg_etl_spark.sources.sinks import write_bucketed

    fact = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    dim = spark.range(0, 1_000).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_fact")
    spark.sql("DROP TABLE IF EXISTS bkt_dim")
    write_bucketed(fact, "bkt_fact", ["k"], num_buckets=8)
    write_bucketed(dim, "bkt_dim", ["k"], num_buckets=8)
    try:
        # Disable broadcast so the shuffle would be visible if bucketing
        # didn't line up; AQE off so the initial plan is the executed shape.
        with_conf = [
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.adaptive.enabled", "false"),
        ]
        old = {k: spark.conf.get(k) for k, _ in with_conf}
        for k, v in with_conf:
            spark.conf.set(k, v)
        try:
            joined = spark.table("bkt_fact").join(spark.table("bkt_dim"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(k" not in plan, plan[:2000]
            assert joined.count() == 1_000
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_fact")
        spark.sql("DROP TABLE IF EXISTS bkt_dim")


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    import os

    from ssg_etl_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 20 tiny files (one per append).
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    before_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before_files) >= 20
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    n = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    after_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after_files) == n == 1  # tiny dataset → one file
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from ssg_etl_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "part")
    for i in range(6):  # several appends → several files per partition dir
        spark.range(i * 5, (i + 1) * 5).select(
            F.col("id"), F.format_string("%02d", F.col("id") % 2).alias("src")
        ).write.partitionBy("src").mode("append").parquet(path)
    before = sorted((r.id, r.src) for r in spark.read.parquet(path).collect())

    compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    # Hive layout preserved, partition values verbatim (no '01' -> 1).
    assert sorted(
        d for d in os.listdir(path) if d.startswith("src=")
    ) == ["src=00", "src=01"]
    after = sorted((r.id, r.src) for r in spark.read.parquet(path).collect())
    assert after == before

    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_parquet(spark, "s3a://bucket/ds")


def test_compact_parquet_sizes_each_partition(spark, tmp_path):
    """A huge hive partition is split into ~target-sized files while a tiny
    sibling stays one file — sizing is per partition, not per dataset."""
    import os

    from pyspark.sql import functions as F

    from ssg_etl_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "skewed")
    big = spark.range(0, 200_000).select(
        F.col("id"), F.lit("big").alias("src"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    small = spark.range(0, 10).select(
        F.col("id"), F.lit("small").alias("src"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    big.unionAll(small).write.partitionBy("src").mode("overwrite").parquet(path)
    before = spark.read.parquet(path).count()

    # Target well below the big partition's bytes → it must split.
    n = compact_parquet(spark, path, target_file_bytes=1 * 1024 * 1024)
    files_by_dir = {
        d: [
            f for f in os.listdir(os.path.join(path, d)) if not f.startswith(("_", "."))
        ]
        for d in os.listdir(path)
        if d.startswith("src=")
    }
    assert len(files_by_dir["src=small"]) == 1
    assert len(files_by_dir["src=big"]) >= 2, files_by_dir
    assert n == sum(len(v) for v in files_by_dir.values())
    assert spark.read.parquet(path).count() == before


def _compact_site(spark, root, sf_dir):
    """A fragmented dataset; batch i is one ``compact_parquet`` of it,
    which never changes its rows."""
    from ssg_etl_spark.sources.sinks import compact_parquet

    path = os.path.join(root, "ds")
    spark.range(0, 100).repartition(4).write.parquet(path)
    return SimpleNamespace(
        path=path,
        commit=lambda i: compact_parquet(spark, path),
        state=lambda: frozenset(r.id for r in spark.read.parquet(path).collect()),
        want=lambda ids: frozenset(range(100)),
    )


def _upsert_site(spark, root, sf_dir):
    """The CDC upsert sink; batch i upserts keys 4i..4i+5 (overlapping the
    next batch) with value ``v<i>``."""
    from ssg_etl_spark.streaming.pipeline import foreach_batch_upsert

    path = os.path.join(root, "target")
    apply = foreach_batch_upsert(path, keys=["k"])

    def rows(i):
        return [(k, f"v{i}") for k in range(4 * i, 4 * i + 6)]

    def want(ids):
        out = {}
        for i in sorted(ids):
            out.update(rows(i))
        return frozenset(out.items())

    return SimpleNamespace(
        path=path,
        commit=lambda i: apply(spark.createDataFrame(rows(i), "k long, v string"), i),
        state=lambda: frozenset((r.k, r.v) for r in spark.read.parquet(path).collect()),
        want=want,
    )


def _span_dedup_site(spark, root, sf_dir):
    """The streaming span-dedup index; batch i is one document (id i+1) of
    a shared boilerplate chunk plus a chunk of its own. The index must
    equal the batch-built index of the committed documents."""
    from functools import reduce

    from ssg_etl_spark.operators.dedup import build_chunk_index
    from ssg_etl_spark.streaming.pipeline import foreach_batch_span_dedup

    path = os.path.join(root, "idx")
    apply = foreach_batch_span_dedup(path, os.path.join(root, "keeps"))
    boiler = " ".join(f"b{j}" for j in range(16))

    def docs(i):
        text = boiler + " " + " ".join(f"w{i}_{j}" for j in range(16))
        return spark.createDataFrame([(i + 1, text)], "doc_id long, text string")

    def rows(df):
        return frozenset(tuple(r) for r in df.collect())

    return SimpleNamespace(
        path=path,
        commit=lambda i: apply(docs(i), i),
        state=lambda: rows(spark.read.parquet(path)),
        want=lambda ids: rows(
            build_chunk_index(reduce(DataFrame.unionByName, map(docs, sorted(ids))))
        ),
    )


def _erp_site(spark, root, sf_dir):
    """The ERP events rollup; batch i runs the pipeline over the events up
    to the i-th cut. The target must equal the rollup of everything up to
    the last committed cut, with one audit row per committed run."""
    from ssg_etl_spark.operators.rollups import rollup_date_type
    from ssg_etl_spark.pipelines import run_events_rollup_once
    from ssg_etl_spark.sources.tables import load_table

    state = os.path.join(root, "state")
    events = load_table(spark, sf_dir, "events")
    cuts = events.selectExpr("percentile_approx(ts, array(0.3, 0.6, 1.0)) p").first().p

    def seen(i):
        return events.filter(F.col("ts") <= cuts[i])

    def rollup(df):
        return frozenset(
            ((r.event_date, r.event_type), (round(r.total_value, 6), r.n_events))
            for r in df.collect()
        )

    return SimpleNamespace(
        path=os.path.join(state, "target"),
        commit=lambda i: run_events_rollup_once(spark, seen(i), state),
        state=lambda: (
            rollup(spark.read.parquet(os.path.join(state, "target"))),
            spark.read.parquet(os.path.join(state, "log")).count(),
        ),
        want=lambda ids: (rollup(rollup_date_type(seen(max(ids)))), len(ids)),
    )


_COMMIT_SITES = {
    "compact": _compact_site,
    "upsert": _upsert_site,
    "span_dedup": _span_dedup_site,
    "erp": _erp_site,
}


@pytest.mark.parametrize("site", sorted(_COMMIT_SITES))
def test_compact_parquet_crash_recovery_states(spark, sf_dir, tmp_path, crash_once, site):
    """Every layout a crashed directory commit can leave, at each of the
    four sites that rewrite a parquet directory through it. Batch 0
    commits, batch 1 dies (or a broken layout is laid down by hand), batch
    2 commits: the directory must then hold exactly the rows of the
    batches that committed, with no stage or aside copy left beside it.

    The hand-made layouts are the ones earlier per-site swaps lost rows
    in: a first write that died with only Spark's ``_temporary`` in the
    stage, a complete stage beside a partly deleted target, and a target
    that vanished after being renamed aside."""
    make = _COMMIT_SITES[site]
    for case in [*COMMIT_CRASHES, "first_write_died", "stage_beside_remnant", "aside_only"]:
        s = make(spark, str(tmp_path / case), sf_dir)
        committed = {0, 1, 2}
        if case == "first_write_died":
            os.makedirs(os.path.join(s.path + "__staging", "_temporary", "0"))
            committed = {0, 2}
        s.commit(0)
        if case in COMMIT_CRASHES:
            crash_once(*COMMIT_CRASHES[case])
            with pytest.raises(InjectedCrash):
                s.commit(1)
            if case == "staged":
                committed = {0, 2}
        elif case == "stage_beside_remnant":
            twin = make(spark, str(tmp_path / case / "twin"), sf_dir)
            twin.commit(0)
            twin.commit(1)
            shutil.copytree(twin.path, s.path + "__staging")
            os.remove(os.path.join(
                s.path, next(f for f in sorted(os.listdir(s.path)) if f.endswith(".parquet"))
            ))
        elif case == "aside_only":
            os.rename(s.path, s.path + "__old")
            committed = {0, 2}
        s.commit(2)
        assert s.state() == s.want(committed), case
        assert not os.path.exists(s.path + "__staging"), case
        assert not os.path.exists(s.path + "__old"), case


def test_directory_commits_share_one_helper():
    """No code in the engine renames, replaces or recursively deletes
    outside three places: the snapshot log (``sources/versioning.py``),
    the directory commit (``sources/sinks.py``'s ``replace_file``,
    ``_swap`` and ``recover_directory``) and the ERP pipeline's stale-lock
    takeover (``pipelines.run_events_rollup_once``) — no call site keeps
    its own swap. ``atexit.register(shutil.rmtree, d)`` passes a
    reference, not a call."""
    import ast
    import pathlib

    allowed = {
        "sources/versioning.py": None,  # any function
        "sources/sinks.py": {"replace_file", "_swap", "recover_directory"},
        "pipelines.py": {"run_events_rollup_once"},
    }
    banned = {("os", "rename"), ("os", "replace"), ("shutil", "rmtree")}
    root = pathlib.Path(__file__).resolve().parents[1] / "ssg_etl_spark"
    found = []

    def visit(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ImportFrom) and any(
                (child.module, a.name) in banned for a in child.names
            ):
                found.append(f"{rel}:{child.lineno} imports {child.module} names")
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and isinstance(child.func.value, ast.Name)
                and (child.func.value.id, child.func.attr) in banned
                and not (rel in allowed and (allowed[rel] is None or fn in allowed[rel]))
            ):
                found.append(f"{rel}:{child.lineno} in {fn}")
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, rel, child.name if is_fn else fn)

    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        visit(ast.parse(f.read_text()), rel, None)
    assert not found, found


def test_write_range_sorted_is_globally_ordered_without_single_task(
    spark, tmp_path
):
    """Files are internally sorted AND ranges don't overlap across files —
    global order with no single-partition funnel."""
    from pyspark.sql import functions as F

    from ssg_etl_spark.sources.sinks import write_range_sorted

    df = spark.range(0, 50_000).select(
        (F.xxhash64("id") % 1_000_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "sorted")
    write_range_sorted(df, out, ["k"], num_partitions=8)

    import glob

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) > 1, "range export must not funnel into one file"
    import duckdb

    ranges = []
    for f in files:
        rows = duckdb.sql(
            f"SELECT list(k) FROM read_parquet('{f}')"
        ).fetchall()[0][0]
        assert rows == sorted(rows), f"{f} not internally sorted"
        if rows:
            ranges.append((min(rows), max(rows)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap — global order broken"
    total = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{out}/part-*.parquet')"
    ).fetchall()[0][0]
    assert total == 50_000


def test_read_excel_directory_and_glob(spark, tmp_path):
    """Folder-of-workbooks ingestion (reference loops a directory of xlsx
    into one table): directory path unions every *.xlsx sorted, glob works,
    source_col records the originating basename, empty match raises."""
    import pytest as _pytest

    from ssg_etl_spark.sources.files import read_excel, write_xlsx

    d = tmp_path / "refdir"
    d.mkdir()
    write_xlsx(str(d / "b.xlsx"), ["code", "rate"], [["BB", 2.0]])
    write_xlsx(str(d / "a.xlsx"), ["code", "rate"], [["AA", 1.0], ["AC", 3.0]])
    (d / "notes.txt").write_text("ignored")
    schema = T.StructType(
        [
            T.StructField("code", T.StringType()),
            T.StructField("rate", T.DoubleType()),
        ]
    )
    got = {
        r.code: (r.rate, r.src)
        for r in read_excel(spark, str(d), schema, source_col="src").collect()
    }
    assert got == {
        "AA": (1.0, "a.xlsx"),
        "AC": (3.0, "a.xlsx"),
        "BB": (2.0, "b.xlsx"),
    }
    # Glob form, no lineage column: same rows, original schema only.
    g = read_excel(spark, str(d / "*.xlsx"), schema)
    assert sorted(g.columns) == ["code", "rate"]
    assert g.count() == 3
    with _pytest.raises(FileNotFoundError):
        read_excel(spark, str(d / "nope*.xlsx"), schema)


def test_reflect_struct_type_codes_names_decimal_hints(spark):
    """S13 schema reflection: java.sql.Types codes and driver TYPE_NAMEs
    map to the right Spark types; DECIMAL honors precision/scale hints,
    caps precision at 38, clamps scale; unknown types fall back to string
    unless strict."""
    import pytest as _pytest

    from ssg_etl_spark.sources.tables import reflect_struct_type

    st = reflect_struct_type(
        [
            {"name": "id", "type": -5, "nullable": False},          # BIGINT
            {"name": "qty", "type": 4},                              # INTEGER
            {"name": "price", "type": 3, "precision": 12, "scale": 2},
            {"name": "big", "type": 2, "precision": 99, "scale": 4},
            {"name": "ratio", "type": "NUMERIC"},                    # no hints
            {"name": "name", "type": "nvarchar", "precision": 25},
            {"name": "born", "type": 91},                            # DATE
            {"name": "seen", "type": "datetime2"},
            {"name": "blob", "type": 2004},
            {"name": "flag", "type": "bit"},
            {"name": "wat", "type": "hierarchyid"},                  # unknown
        ]
    )
    got = {f.name: (f.dataType.simpleString(), f.nullable) for f in st.fields}
    assert got == {
        "id": ("bigint", False),
        "qty": ("int", True),
        "price": ("decimal(12,2)", True),
        "big": ("decimal(38,4)", True),
        "ratio": ("decimal(38,18)", True),
        "name": ("string", True),
        "born": ("date", True),
        "seen": ("timestamp", True),
        "blob": ("binary", True),
        "flag": ("boolean", True),
        "wat": ("string", True),
    }
    with _pytest.raises(ValueError):
        reflect_struct_type([{"name": "x", "type": "hierarchyid"}], strict=True)
    # The reflected schema is directly usable as an explicit read schema.
    df = spark.createDataFrame([], reflect_struct_type([
        {"name": "a", "type": -5}, {"name": "b", "type": "numeric",
                                    "precision": 10, "scale": 3},
    ]))
    assert df.schema.simpleString() == "struct<a:bigint,b:decimal(10,3)>"


def test_load_table_never_mutates_embedder_session_zone(spark, sf_dir):
    """r9 (r8 judge finding #2): load_table re-asserts the UTC pin only on
    ENGINE-BUILT sessions. An embedding app's session (no engineSession
    marker) keeps its own timeZone — the NTZ contract, not the pin,
    guarantees value invariance (tools/conf_sweep.py). On engine sessions
    the pin restores UTC even if app code changed it afterwards."""
    from ssg_etl_spark.sources.tables import load_table

    prev_zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        # Simulate an embedder session: drop the marker, set a custom zone.
        spark.conf.unset("spark.ssg_etl_spark.engineSession")
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        load_table(spark, sf_dir, "orders").limit(1).collect()
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "Asia/Kathmandu"
        ), "load_table mutated an embedder session's timeZone"
        # Engine-built session: the pin re-asserts UTC.
        spark.conf.set("spark.ssg_etl_spark.engineSession", "true")
        load_table(spark, sf_dir, "orders").limit(1).collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.ssg_etl_spark.engineSession", "true")
        spark.conf.set("spark.sql.session.timeZone", prev_zone)


def test_declared_batch_schemas_match_testdata_footers(spark, sf_dir):
    """ROADMAP item 2: every ``TESTDATA_BATCH`` schema equals the parquet
    footer of its table (as Spark's own inference reads it) at every
    scale factor under the testdata root — the declared schema is the
    one ``load_table`` scans with, so drift would change results."""
    import glob

    from ssg_etl_spark.schemas import TESTDATA_BATCH

    roots = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert roots
    for root in roots:
        for name, declared in TESTDATA_BATCH.items():
            on_disk = spark.read.parquet(os.path.join(root, f"{name}.parquet"))
            assert on_disk.schema == declared, (root, name, on_disk.schema)


def test_load_table_resolves_without_a_job(spark, sf_dir):
    """A declared-schema scan lists files but starts no Spark job (an
    inferred parquet scan starts one), and hands out NTZ timestamps."""
    from ssg_etl_spark.sources.tables import TABLE_NAMES, load_table

    sc = spark.sparkContext
    group = "load-table-resolve"
    sc.setJobGroup(group, "resolve")
    try:
        dtypes = {n: dict(load_table(spark, sf_dir, n).dtypes) for n in TABLE_NAMES}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert dtypes["events"]["ts"] == "timestamp_ntz"
    assert dtypes["orders"]["o_orderdate"] == "timestamp_ntz"


def test_load_table_events_nanos_fallback(spark, sf_dir, tmp_path):
    """An events file written with TIMESTAMP(NANOS) still loads: ``ts``
    comes back as NTZ truncated to microseconds, equal to the micros
    file's values."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ssg_etl_spark.sources.tables import load_table

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    nanos = pc.add(t.column("ts").cast(pa.timestamp("ns")), pa.scalar(789, pa.duration("ns")))
    pq.write_table(
        t.set_column(i, "ts", nanos), str(tmp_path / "events.parquet")
    )
    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, sf_dir, "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
