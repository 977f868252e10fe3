"""Stage 06: anomaly staging + upsert (reference sql/06_anomaly_detection.sql).

Rule engine semantics preserved exactly (SURVEY.md §2.11):
- header flags explode the staged anomaly_codes array of rn=1 survivors
  (non-OUTER flatten: empty arrays vanish) (:7-16)
- line flags join CAN_TXN (:17-25) for their client and source system
  and emit ONE code per row — quantity<0 wins over negative amount. The
  pipeline passes the CAN_TXN merge source as that merge dedupes it, which
  holds what the merged CAN_TXN holds for every id a staged line carries,
  so this stage need not wait for stage 05
- DISTINCT before merge; merge key is NULL-safe on line_number (:30-50).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scalars

HDR_DETAIL = "Header-level anomaly from canonical header validation"
LINE_DETAIL = "Line-level negative value detected"


def stage_anomalies(
    stg_header: DataFrame, stg_line: DataFrame, can_txn: DataFrame
) -> DataFrame:
    """STG_ANOMALY with the reference's DISTINCT applied (:6-28, :32).
    ``can_txn``: the canonical header rows line flags take ``client_id``
    and ``source_system`` from, one per ``canonical_txn_id``."""
    hdr_flags = (
        stg_header.filter(F.col("rn") == 1)
        .select(
            "canonical_txn_id",
            "client_id",
            "source_system",
            F.explode("anomaly_codes").alias("anomaly_code"),
            F.lit(None).cast("long").alias("line_number"),
            "src_file",
            F.lit(HDR_DETAIL).alias("anomaly_detail"),
        )
    )
    line_flags = (
        stg_line.filter((F.col("quantity") < 0) | (F.col("line_amount") < 0))
        .join(
            can_txn.select("canonical_txn_id", "client_id", "source_system"),
            on="canonical_txn_id",
            how="inner",
        )
        .select(
            "canonical_txn_id",
            "client_id",
            "source_system",
            scalars.iff(
                F.col("quantity") < 0, F.lit("NEGATIVE_QTY"), F.lit("NEGATIVE_AMOUNT_LINE")
            ).alias("anomaly_code"),
            "line_number",
            "src_file",
            F.lit(LINE_DETAIL).alias("anomaly_detail"),
        )
    )
    return hdr_flags.unionByName(line_flags).distinct()


def anomaly_merge_source(stg_anomaly: DataFrame, detected_ts: Column) -> DataFrame:
    """Shape the staged anomalies for the CAN_TXN_ANOMALY merge (:44-49)."""
    return stg_anomaly.select(
        "canonical_txn_id",
        "client_id",
        "source_system",
        "anomaly_code",
        "anomaly_detail",
        "line_number",
        "src_file",
        detected_ts.alias("detected_ts"),
    )
