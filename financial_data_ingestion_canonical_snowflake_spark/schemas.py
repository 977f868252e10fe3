"""Canonical schema constants.

Ports the reference DDL (``/root/reference/sql/02_canonical_ddl.sql:6-55`` and
``sql/01_raw_ingestion.sql:50-59``) to Spark ``StructType``. Decisions recorded
in SURVEY.md §1.2:

- money/qty columns: ``DecimalType(38, 9)`` (reference ``NUMBER(38,9)``)
- ``attributes`` drift-retention column: JSON string (``to_json`` of the typed
  struct) rather than VariantType — deterministic and oracle-checkable
- timestamps: ``TimestampNTZType`` semantics; the engine pins the session time
  zone to UTC so plain TimestampType behaves identically for our data
"""

from __future__ import annotations

from pyspark.sql import types as T

MONEY = T.DecimalType(38, 9)

# RAW layer: one row per source record; payload stays semi-structured.
# Reference: sql/01_raw_ingestion.sql:50-59 (audit) and the implicit
# payload+lineage shape of RAW_TXN_JSON / RAW_TXN_XML / RAW_CSV_GENERIC.
RAW_LINEAGE_COLS = ["client_id", "src_file", "src_row_number", "ingest_ts"]

RAW_LOAD_AUDIT = T.StructType(
    [
        T.StructField("src_file", T.StringType()),
        T.StructField("file_type", T.StringType()),
        T.StructField("load_status", T.StringType()),
        T.StructField("rows_parsed", T.LongType()),
        T.StructField("rows_loaded", T.LongType()),
        T.StructField("errors_seen", T.LongType()),
        T.StructField("first_error", T.StringType()),
        T.StructField("load_ts", T.TimestampType()),
    ]
)

# CANON layer. Reference: sql/02_canonical_ddl.sql:6-25.
CAN_TXN = T.StructType(
    [
        T.StructField("canonical_txn_id", T.StringType(), False),
        T.StructField("client_id", T.StringType()),
        T.StructField("source_system", T.StringType()),
        T.StructField("source_txn_id", T.StringType()),
        T.StructField("txn_timestamp", T.TimestampType()),
        T.StructField("currency", T.StringType()),
        T.StructField("total_amount", MONEY),
        T.StructField("customer_id", T.StringType()),
        T.StructField("account_id", T.StringType()),
        T.StructField("merchant", T.StringType()),
        T.StructField("src_file", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
        T.StructField("is_valid", T.BooleanType()),
        T.StructField("anomaly_codes", T.ArrayType(T.StringType())),
        T.StructField("attributes", T.StringType()),  # canonical JSON string
        T.StructField("created_ts", T.TimestampType()),
        T.StructField("updated_ts", T.TimestampType()),
    ]
)

# Reference: sql/02_canonical_ddl.sql:27-43.
CAN_TXN_LINE = T.StructType(
    [
        T.StructField("canonical_txn_id", T.StringType(), False),
        T.StructField("line_number", T.LongType(), False),
        T.StructField("line_txn_id", T.StringType()),
        T.StructField("item_id", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("quantity", MONEY),
        T.StructField("unit_price", MONEY),
        T.StructField("line_amount", MONEY),
        T.StructField("currency", T.StringType()),
        T.StructField("src_file", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
        T.StructField("attributes", T.StringType()),
        T.StructField("created_ts", T.TimestampType()),
        T.StructField("updated_ts", T.TimestampType()),
    ]
)

# Reference: sql/02_canonical_ddl.sql:45-55.
CAN_TXN_ANOMALY = T.StructType(
    [
        T.StructField("canonical_txn_id", T.StringType(), False),
        T.StructField("client_id", T.StringType()),
        T.StructField("source_system", T.StringType()),
        T.StructField("anomaly_code", T.StringType(), False),
        T.StructField("anomaly_detail", T.StringType()),
        T.StructField("line_number", T.LongType()),
        T.StructField("src_file", T.StringType()),
        T.StructField("detected_ts", T.TimestampType()),
    ]
)

# MERGE keys of the three CANON tables (reference
# sql/05_merge_canonical.sql:6-53, sql/06_anomaly_detection.sql:30-50); the
# first key is the one each table is hash-bucketed on.
CAN_TXN_KEYS = ("canonical_txn_id",)
CAN_TXN_LINE_KEYS = ("canonical_txn_id", "line_number")
CAN_TXN_ANOMALY_KEYS = (
    "canonical_txn_id", "anomaly_code", "line_number", "anomaly_detail",
)

ANOMALY_CODES = [
    "DUPLICATE_TXN",
    "MISSING_REQUIRED",
    "NEGATIVE_AMOUNT",
    "NEGATIVE_QTY",
    "NEGATIVE_AMOUNT_LINE",
]
