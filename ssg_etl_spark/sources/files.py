"""File-format and API-payload sources (SURVEY §2.1 S7, S8).

The reference reads Excel reference data (scripts/ETL Pipeline/
etl_load_reference_data.py:22-34, directory iteration over *.xlsx) and
REST-API JSON that it flattens into rows (dags/get_data_api.py:17-40,
dltproject/fxrate_pipeline.py:14-26). Spark-native form:

* CSV/JSON files: ``spark.read`` with an **explicit schema** (never
  inference — SURVEY §1.3 engine decision), so the scan is a single pass
  and malformed rows are isolated via PERMISSIVE + ``_corrupt_record``.
* Excel: not a Spark-core format and the xlsx libs are not in this
  container — ``read_excel`` documents the production path (convert to
  CSV/parquet at the edge, or a spark-excel datasource) and raises.
* REST payloads: fetched driver-side (they are tiny control-plane data),
  then ``from_json`` + ``explode`` turns the nested document into typed
  rows — the engine-side twin of pandas ``json_normalize``.

At 100 TB none of these are the bulk path (that is partitioned parquet,
sources/tables.py); files/APIs feed small dimension/reference tables that
downstream joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssg_etl_spark.session import local_frame


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
    corrupt_col: str | None = "_corrupt_record",
) -> DataFrame:
    """S7: CSV scan with declared schema (no inference pass).

    Malformed rows land whole in ``corrupt_col`` (their typed columns NULL)
    so bad input is distinguishable from legitimate NULLs; pass
    ``corrupt_col=None`` to drop the capture column.
    """
    if corrupt_col is not None:
        schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_col, T.StringType())]
        )
    reader = (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.csv(path)


def read_json_lines(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S7: JSON-lines scan with declared schema."""
    return spark.read.schema(schema).json(path)


def _xlsx_rows(path: str, sheet: str | None = None) -> list[list[str | None]]:
    """Parse one worksheet of an xlsx into cell-string rows, stdlib-only.

    xlsx is a zip of XML parts: shared strings live in
    ``xl/sharedStrings.xml``; each sheet's cells carry a column reference
    (``r="B3"``), a type (``t="s"`` shared string, ``t="inlineStr"``,
    ``t="b"`` bool, default numeric), and a value node. openpyxl does the
    same walk; using the stdlib keeps S7 real in this container. Covers the
    reference-data shapes of etl_load_reference_data.py (header + literal
    cells), not formulas/dates-as-styles.
    """
    import re
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t")))
        sheet_paths = sorted(
            (n for n in zf.namelist() if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            # numeric sort: sheet10.xml after sheet2.xml
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)),
        )
        if not sheet_paths:
            raise ValueError(f"no worksheets in {path}")
        target = sheet_paths[0]
        if sheet is not None:
            # Resolve name → worksheet part through workbook.xml's r:id and
            # the workbook rels (declared order need not match sheetN file
            # numbering, so an index into sorted paths would be wrong).
            rel_ns = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
            wb = ET.fromstring(zf.read("xl/workbook.xml"))
            name_to_rid = {
                s.get("name"): s.get(f"{rel_ns}id")
                for s in wb.iter(f"{{{ns['m']}}}sheet")
            }
            if sheet not in name_to_rid:
                raise ValueError(f"sheet {sheet!r} not in {sorted(name_to_rid)}")
            rid_to_target = {}
            if "xl/_rels/workbook.xml.rels" in zf.namelist():
                rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
                for rel in rels.iter(
                    "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"
                ):
                    rid_to_target[rel.get("Id")] = "xl/" + rel.get("Target").lstrip("/")
            resolved = rid_to_target.get(name_to_rid[sheet])
            if resolved is not None and resolved in zf.namelist():
                target = resolved
            else:
                # No workbook rels (or a dangling r:id): refuse rather than
                # guess. Mapping declared sheet order positionally onto
                # numerically-sorted sheetN.xml parts silently returns the
                # WRONG sheet's rows whenever the two orders differ — the
                # orders are independent in OOXML. Real xlsx writers always
                # emit workbook rels, so this only fires on hand-rolled
                # packages where being loud is the right behavior.
                raise ValueError(
                    f"cannot resolve sheet {sheet!r} in {path}: workbook "
                    "relationships are missing or do not map its r:id to a "
                    "worksheet part (declared sheet order is not reliably "
                    "aligned with sheetN.xml numbering, so a positional "
                    "fallback could read the wrong sheet)"
                )
        root = ET.fromstring(zf.read(target))
        rows: list[list[str | None]] = []
        for row_el in root.iter(f"{{{ns['m']}}}row"):
            cells: dict[int, str | None] = {}
            last_idx = -1
            for c in row_el.findall("m:c", ns):
                ref = c.get("r") or ""
                col_letters = "".join(ch for ch in ref if ch.isalpha())
                if col_letters:
                    idx = 0
                    for ch in col_letters:
                        idx = idx * 26 + (ord(ch.upper()) - 64)
                    idx -= 1
                else:  # no cell ref → the position after the previous cell
                    idx = last_idx + 1
                last_idx = idx
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find("m:is", ns)
                    val = (
                        "".join(t.text or "" for t in is_el.iter(f"{{{ns['m']}}}t"))
                        if is_el is not None
                        else None
                    )
                else:
                    v = c.find("m:v", ns)
                    val = None if v is None else v.text
                    if ctype == "s" and val is not None:
                        val = shared[int(val)]
                cells[idx] = val
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
    return rows


def write_xlsx(
    path: str,
    header: list[str],
    rows: list[list[object]],
    sheet_name: str = "Sheet1",
) -> None:
    """S7 companion: write a minimal well-formed xlsx (stdlib zip+XML).

    The inverse of :func:`read_excel` for dimension-sized reference data —
    strings go through ``xl/sharedStrings.xml``, numerics as plain ``<v>``
    cells, ``None`` cells are omitted (read back as NULL). Workbook rels
    are always emitted (real writers do; the reader refuses to resolve
    sheet names without them). Driver-side by design, like the reader:
    reference workbooks are control-plane inputs, not the bulk path.
    """
    import math
    import zipfile
    from xml.sax.saxutils import escape, quoteattr

    strings: list[str] = []
    index: dict[str, int] = {}

    def col_letters(idx: int) -> str:
        s = ""
        idx += 1
        while idx:
            idx, r = divmod(idx - 1, 26)
            s = chr(65 + r) + s
        return s

    def cell(ref: str, val: object) -> str:
        if isinstance(val, str):
            if val not in index:
                index[val] = len(strings)
                strings.append(val)
            return f'<c r="{ref}" t="s"><v>{index[val]}</v></c>'
        if isinstance(val, bool):
            return f'<c r="{ref}" t="b"><v>{int(val)}</v></c>'
        if isinstance(val, float) and not math.isfinite(val):
            raise ValueError(
                f"xlsx numeric cells cannot hold non-finite {val!r} at {ref}"
            )
        return f'<c r="{ref}"><v>{val}</v></c>'

    def row_xml(i: int, vals: list[object]) -> str:
        cells = "".join(
            cell(f"{col_letters(j)}{i}", v)
            for j, v in enumerate(vals)
            if v is not None
        )
        return f'<row r="{i}">{cells}</row>'

    all_rows = [list(header)] + [list(r) for r in rows]
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        + "".join(row_xml(i + 1, r) for i, r in enumerate(all_rows))
        + "</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0"?><sst xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
        + "</sst>"
    )
    workbook = (
        '<?xml version="1.0"?><workbook xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name={quoteattr(sheet_name)} sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    types = (
        '<?xml version="1.0"?><Types xmlns='
        '"http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/></Types>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", types)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def read_excel(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sheet: str | None = None,
    header: bool = True,
    source_col: str | None = None,
) -> DataFrame:
    """S7: Excel reference-data scan (etl_load_reference_data.py:22-34).

    ``path`` is one workbook, a directory (every ``*.xlsx`` inside, sorted
    — the reference's folder-iteration shape, etl_load_reference_data.py
    loops a directory of workbooks into one table), or a glob pattern.
    ``source_col`` (optional) appends the originating workbook's basename
    per row, the usual lineage column for folder loads.

    Each xlsx is parsed driver-side (stdlib zip+XML — reference data is
    dimension-sized control-plane input, like the REST payloads), cells are
    cast to the declared schema through ``local_frame`` on string rows.
    At bulk scale land xlsx → CSV/parquet at the ingest edge, or ship the
    spark-excel datasource; this path is for small reference workbooks.
    """
    import glob as _glob
    import os

    if os.path.isdir(path):
        paths = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".xlsx")
        )
    elif any(ch in path for ch in "*?["):
        paths = sorted(_glob.glob(path))
    else:
        paths = [path]
    if not paths:
        raise FileNotFoundError(f"no .xlsx workbooks match {path!r}")

    all_rows: list[tuple] = []
    n = len(schema.fields)
    for p in paths:
        rows = _xlsx_rows(p, sheet)
        if header and rows:
            rows = rows[1:]
        base = os.path.basename(p)
        for r in rows:
            padded = tuple((r + [None] * n)[:n])
            all_rows.append(padded + (base,) if source_col else padded)

    out_fields = list(schema.fields) + (
        [T.StructField(source_col, T.StringType())] if source_col else []
    )
    as_strings = T.StructType(
        [T.StructField(f.name, T.StringType()) for f in out_fields]
    )
    raw = local_frame(spark, all_rows, as_strings)
    return raw.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields],
        *([F.col(source_col)] if source_col else []),
    )


def flatten_json_records(
    spark: SparkSession, payload: str, record_schema: T.StructType
) -> DataFrame:
    """S8: REST JSON payload → typed rows.

    ``payload`` is the body of one API response (a JSON array of records,
    fetched driver-side — dags/get_data_api.py:17-40). The nested document
    is parsed with an explicit schema and exploded to one row per record;
    callers then ``select(col("a.b"))`` nested fields flat (F9).
    """
    arr = T.ArrayType(record_schema)
    return (
        local_frame(spark, [(payload,)], "payload string")
        .select(F.explode(F.from_json(F.col("payload"), arr)).alias("rec"))
        .select("rec.*")
    )
