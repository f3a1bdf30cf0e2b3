"""Canonical StructType schemas (the engine's SchemaRegistry).

The reference declares every target table explicitly (SQLAlchemy models at
dags/create_target_pg_gl_table.py:8-44 and dags/create_target_pg_hl_table.py:8-111,
raw DDL at scripts/test/create_general_ledger_table.sql:1-36); we follow the
same discipline: explicit StructTypes everywhere, no inference for the
engine's own tables (SURVEY §1.3).

Time contract (round 8): engine-owned tables carry TIMESTAMP_NTZ
(UTC wall-clock) — NTZ is also the zone-free ``local_frame`` path: a
naive Python datetime converts by its wall fields, where TimestampType
converts through the HOST zone. The TESTDATA schemas below keep their
event-time columns as TIMESTAMP because Spark's streaming watermark
REJECTS NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, measured on 4.1):
these schemas exist for ``readStream``, whose windows/session gaps are
instant-based (epoch-anchored, zone-free) and whose outputs the
stream==batch pins compare under the engine's pinned-UTC session.

Batch scans read with ``TESTDATA_BATCH``, the same schemas with every
TIMESTAMP column as TIMESTAMP_NTZ — what the parquet files carry (naive
microsecond timestamps), so ``load_table`` resolves a scan without a
schema-inference job and hands out NTZ-UTC columns by type.
``tests/test_sources.py`` pins each batch schema to the footer of its
file at every scale factor.

Two families live here:

* ``TESTDATA`` — the driver-generated TPC-H-ish tables we run against
  (/root/testdata/sf*/..., see TESTDATA.md).
* Engine-owned tables: the ETL watermark/audit log (reference:
  dags/create_target_pg_gl_table.py:47-65) and the SCD2 dimension shape
  (reference: dltproject/sql_product_scd.py:11-33).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Driver testdata tables: the single source of truth for streaming schemas,
# generators, tests and (through TESTDATA_BATCH) every batch scan.
# --------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}


def _batch_schema(schema: T.StructType) -> T.StructType:
    """The batch-scan form of a streaming schema: TIMESTAMP columns
    become TIMESTAMP_NTZ, everything else is unchanged."""
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampNTZType()
                if isinstance(f.dataType, T.TimestampType)
                else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )


TESTDATA_BATCH: dict[str, T.StructType] = {
    name: _batch_schema(s) for name, s in TESTDATA.items()
}

# --------------------------------------------------------------------------
# Engine-owned tables
# --------------------------------------------------------------------------

# Watermark/audit log — mirror of the reference's etl_extract_log
# (dags/create_target_pg_gl_table.py:47-65): one append-only row per
# extract run, queried back with MAX(last_extract_ts).
ETL_LOG = T.StructType(
    [
        T.StructField("process_log_id", T.StringType()),  # uuid per run
        T.StructField("source_connection", T.StringType()),
        T.StructField("rows_extracted", T.LongType()),
        T.StructField("started_at", T.TimestampNTZType()),
        T.StructField("finished_at", T.TimestampNTZType()),
        T.StructField("last_extract_ts", T.TimestampNTZType()),  # the watermark
        T.StructField("success", T.BooleanType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_message", T.StringType()),
    ]
)

# Multimodal asset table: opaque binary payload + typed metadata
# (BASELINE.json north-star: multimodal columns as binary + metadata).
MEDIA_ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)
