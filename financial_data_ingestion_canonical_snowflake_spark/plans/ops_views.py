"""Stages 07-08: observability views + smoke probes.

Ports ``/root/reference/sql/07_ops_views.sql`` (three aggregate views) and
``sql/08_smoke_tests.sql`` (count + ordered-dump probes). Views are plain
grouped aggregations — Catalyst handles partial aggregation map-side, so at
100 TB each view is one shuffle on its grouping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalars


def vw_load_audit_summary(raw_load_audit: DataFrame) -> DataFrame:
    """VW_LOAD_AUDIT_SUMMARY (reference 07:6-14)."""
    return raw_load_audit.groupBy("file_type", "load_status").agg(
        F.count(F.lit(1)).alias("batch_count"),
        F.sum("rows_parsed").alias("total_rows_parsed"),
        F.sum("rows_loaded").alias("total_rows_loaded"),
        F.sum("errors_seen").alias("total_errors_seen"),
        F.max("load_ts").alias("latest_load_ts"),
    )


def vw_canon_counts(can_txn: DataFrame) -> DataFrame:
    """VW_CANON_COUNTS (reference 07:16-22)."""
    return can_txn.groupBy("client_id", "source_system").agg(
        F.count(F.lit(1)).alias("txn_count"),
        F.sum(scalars.iff(F.col("is_valid"), F.lit(1), F.lit(0))).alias("valid_txn_count"),
        F.sum(scalars.iff(~F.col("is_valid"), F.lit(1), F.lit(0))).alias(
            "invalid_txn_count"
        ),
    )


def vw_anomaly_counts(can_txn_anomaly: DataFrame) -> DataFrame:
    """VW_ANOMALY_COUNTS (reference 07:24-27)."""
    return can_txn_anomaly.groupBy("client_id", "source_system", "anomaly_code").agg(
        F.count(F.lit(1)).alias("anomaly_count")
    )


def register_views(
    spark, raw_load_audit: DataFrame, can_txn: DataFrame, can_txn_anomaly: DataFrame
) -> dict[str, DataFrame]:
    views = {
        "vw_load_audit_summary": vw_load_audit_summary(raw_load_audit),
        "vw_canon_counts": vw_canon_counts(can_txn),
        "vw_anomaly_counts": vw_anomaly_counts(can_txn_anomaly),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return views


def register_durable_views(spark, audit, can_txn, anomaly) -> None:
    """CREATE OR REPLACE VIEW — catalog-durable twins of ``register_views``
    (reference ``sql/07_ops_views.sql:6,16,24`` creates durable view
    OBJECTS, not session temp views).

    Each view is a permanent catalog object over a table's files (the
    tables are ``ParquetTable`` objects; ``view_sql`` gives the relation,
    which resolves delta files of the merged tables), so it re-reads
    current table state on every query. Durability across restarts equals the
    catalog's (a Hive metastore persists them; the default in-memory
    catalog lives with the process) — a deployment seam, not an engine
    property.
    """
    spark.sql(
        f"""CREATE OR REPLACE VIEW vw_load_audit_summary AS
        SELECT file_type, load_status, COUNT(1) AS batch_count,
               SUM(rows_parsed) AS total_rows_parsed,
               SUM(rows_loaded) AS total_rows_loaded,
               SUM(errors_seen) AS total_errors_seen,
               MAX(load_ts) AS latest_load_ts
        FROM {audit.view_sql()}
        GROUP BY file_type, load_status"""
    )
    spark.sql(
        f"""CREATE OR REPLACE VIEW vw_canon_counts AS
        SELECT client_id, source_system, COUNT(1) AS txn_count,
               SUM(IF(is_valid, 1, 0)) AS valid_txn_count,
               SUM(IF(NOT is_valid, 1, 0)) AS invalid_txn_count
        FROM {can_txn.view_sql()}
        GROUP BY client_id, source_system"""
    )
    spark.sql(
        f"""CREATE OR REPLACE VIEW vw_anomaly_counts AS
        SELECT client_id, source_system, anomaly_code,
               COUNT(1) AS anomaly_count
        FROM {anomaly.view_sql()}
        GROUP BY client_id, source_system, anomaly_code"""
    )


def smoke_counts(
    can_txn: DataFrame, can_txn_line: DataFrame, can_txn_anomaly: DataFrame
) -> DataFrame:
    """Smoke probe: per-table counts unioned (reference 08:6-10)."""
    rows = []
    for name, df in [
        ("CAN_TXN", can_txn),
        ("CAN_TXN_LINE", can_txn_line),
        ("CAN_TXN_ANOMALY", can_txn_anomaly),
    ]:
        rows.append(
            df.agg(F.count(F.lit(1)).alias("row_cnt")).select(
                F.lit(name).alias("table_name"), "row_cnt"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def smoke_probes(views: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Ordered view dumps (reference 08:12-14)."""
    return {
        "canon_counts": views["vw_canon_counts"].orderBy("client_id", "source_system"),
        "anomaly_counts": views["vw_anomaly_counts"].orderBy(
            F.desc("anomaly_count"), "client_id", "source_system"
        ),
        "load_audit_summary": views["vw_load_audit_summary"].orderBy(
            F.desc("latest_load_ts")
        ),
    }
