"""The 9-stage batch pipeline DAG (reference ``main.sql:15-24``).

    00 bootstrap        -> warehouse directory layout (ParquetTable paths)
    01 raw ingestion    -> tri-format readers + load audit (+ COPY
                           load-history emulation: already-audited files skip)
    02 canonical DDL    -> schema constants (schemas.py)
    03 header transform -> staging DataFrame (cached; replaces TEMP table)
    04 line transform   -> staging DataFrame
    05 canonical merge  -> merge_upsert into CAN_TXN / CAN_TXN_LINE
    06 anomaly merge    -> merge_upsert into CAN_TXN_ANOMALY
    07 ops views        -> registered aggregate views
    08 smoke tests      -> count/ordered probes

Session scoping of the reference's TEMP tables becomes plain DataFrame
hand-off inside one SparkSession; ``stg_header`` is cached because stages
04/05/06 all consume it (SURVEY.md §4).
"""

from __future__ import annotations

import datetime as dt
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators.merge import PART_COL, merge_upsert_scoped
from ..operators.storage import ParquetTable
from ..session import apply_runtime_confs
from ..sources.audit import build_load_audit
from ..sources.readers import CopySpec, read_raw
from .anomaly import anomaly_merge_source, stage_anomalies
from .ops_views import (
    register_durable_views,
    register_views,
    smoke_counts,
    smoke_probes,
)
from .transform_headers import transform_headers
from .transform_lines import transform_lines

# The reference's three COPY statements (sql/01_raw_ingestion.sql:62,89,116).
DEFAULT_COPY_SPECS = (
    CopySpec(file_type="XML", path="client_a/xml/", client_id="ClientA"),
    CopySpec(file_type="JSON", path="client_c/json/", client_id="ClientC"),
    CopySpec(
        file_type="CSV",
        path="",
        client_id=None,
        files=("client_a/csv/transactions.csv", "client_c/csv/transactions.csv"),
    ),
)

CAN_TXN_COLS = [f.name for f in schemas.CAN_TXN.fields]
CAN_LINE_COLS = [f.name for f in schemas.CAN_TXN_LINE.fields]
CAN_ANOMALY_COLS = [f.name for f in schemas.CAN_TXN_ANOMALY.fields]


@dataclass
class PipelineConfig:
    ingest_root: str
    warehouse: str
    copy_specs: tuple[CopySpec, ...] = DEFAULT_COPY_SPECS
    join_mode: str = "faithful"  # 'faithful' (file-granular J1) | 'row'
    batch_ts: dt.datetime | None = None  # pin for deterministic tests
    skip_loaded_files: bool = True  # COPY load-history emulation
    # hash-bucket count for partition-scoped canonical merges; a batch
    # updating keys in k buckets rewrites k/N of the table (thousands at
    # 100 TB). run_batch re-merges the full history, so every bucket
    # holding stored rows is rewritten on every call
    merge_buckets: int = 16
    # also register the OPS views as durable catalog objects (reference
    # sql/07_ops_views.sql creates durable views, not session temp views)
    durable_views: bool = False
    # scheduled-maintenance vacuum: when not None, every run_batch first
    # sweeps crash-stranded .tmp-*/.old-* swap directories (and surplus
    # .gen-* snapshots) older than this many seconds from ALL pipeline
    # tables — a long-lived deployment otherwise accumulates disk from
    # interrupted atomic swaps. Age-gating protects any swap in flight;
    # None (default) leaves maintenance to an external schedule.
    vacuum_min_age_seconds: float | None = None


class Pipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = apply_runtime_confs(spark)
        self.cfg = cfg
        w = cfg.warehouse.rstrip("/")
        self.raw_tables = {
            "JSON": ParquetTable(f"{w}/raw/raw_txn_json"),
            "XML": ParquetTable(f"{w}/raw/raw_txn_xml"),
            "CSV": ParquetTable(f"{w}/raw/raw_csv_generic"),
        }
        self.raw_load_audit = ParquetTable(f"{w}/raw/raw_load_audit", schemas.RAW_LOAD_AUDIT)
        # canonical tables are hash-bucket partitioned on the merge key so
        # a merge writes only the buckets its source touches; PART_COL
        # never leaves storage — read()
        # projects the declared schema only
        part, nb = [PART_COL], cfg.merge_buckets
        self.can_txn = ParquetTable(f"{w}/canon/can_txn", schemas.CAN_TXN, part, nb)
        self.can_txn_line = ParquetTable(
            f"{w}/canon/can_txn_line", schemas.CAN_TXN_LINE, part, nb
        )
        self.can_txn_anomaly = ParquetTable(
            f"{w}/canon/can_txn_anomaly", schemas.CAN_TXN_ANOMALY, part, nb
        )

    # ------------------------------------------------------------------
    def _ts(self) -> F.Column:
        if self.cfg.batch_ts is not None:
            return F.lit(self.cfg.batch_ts).cast("timestamp")
        return F.current_timestamp()

    def _resolve(self, spec: CopySpec) -> CopySpec:
        root = self.cfg.ingest_root.rstrip("/")
        path = f"{root}/{spec.path}" if spec.path else root
        files = tuple(f"{root}/{f}" for f in spec.files) if spec.files else None
        return CopySpec(
            spec.file_type, path, spec.client_id, files, spec.row_tag, spec.splittable
        )

    # ------------------------------------------------------------------
    def ingest(self) -> dict[str, DataFrame]:
        """Stage 01: one COPY per spec + audit capture immediately after each
        (reference sql/01_raw_ingestion.sql:74-86 in-session coupling)."""
        # COPY load-history emulation as a broadcast LEFT ANTI join against
        # the audit's file list — never a driver-collected set: at warehouse
        # scale the history holds millions of files, and a literal IN-list
        # would bloat both the driver and every plan. Broadcasting the
        # (distinct, single-column) file list keeps the raw side shuffle-free,
        # which matters far more than the broadcast size — an exchange-based
        # anti-join would shuffle the entire raw scan by src_file.
        loaded: DataFrame | None = None
        if self.cfg.skip_loaded_files and self.raw_load_audit.exists():
            loaded = self.raw_load_audit.read(self.spark).select("src_file").distinct()
        # The three COPYs are independent until the shared audit append —
        # each prepare thread declares its reader, fills its cache, and
        # collects its own per-file audit rows (the collect is the cache-
        # materializing action). Three CONCURRENT jobs beat one unioned
        # audit job ~25-35% measured: each spec's subtree schedules as its
        # own job immediately instead of waiting on the union's combined
        # stage graph, and py4j analysis calls release the GIL so the
        # Catalyst work overlaps too. The audit rows are per-file stats —
        # always driver-small. Raw appends then land concurrently from the
        # caches (a real warehouse runs concurrent COPYs the same way).
        def prepare(spec: CopySpec):
            resolved = self._resolve(spec)
            raw = read_raw(self.spark, resolved, self.cfg.ingest_root, self._ts())
            if loaded is not None:
                raw = raw.join(F.broadcast(loaded), "src_file", "left_anti")
            raw = raw.cache()
            audit_rows = build_load_audit(raw, spec.file_type, self._ts()).collect()
            return spec, raw, audit_rows

        def land(item) -> None:
            spec, raw, _audit = item
            good = raw.filter(F.col("_load_error").isNull()).drop("_load_error")
            self.raw_tables[spec.file_type].append(good)
            raw.unpersist()

        with ThreadPoolExecutor(max_workers=len(self.cfg.copy_specs)) as ex:
            # pool here covers the CSV header-arity probe job inside read_raw
            prepared = list(ex.map(prepare, self.cfg.copy_specs))
            all_audit = [r for _spec, _raw, rows in prepared for r in rows]
            loaded_by_type: dict[str, int] = {}
            for r in all_audit:
                loaded_by_type[r.file_type] = (
                    loaded_by_type.get(r.file_type, 0) + r.rows_loaded
                )
            active, skipped = [], []
            for item in prepared:
                has_rows = loaded_by_type.get(item[0].file_type, 0) > 0
                (active if has_rows else skipped).append(item)
            for _, raw, _a in skipped:
                raw.unpersist()
            list(ex.map(land, active))
        # audit rows land for EVERY spec that saw files — including fully
        # failed loads (rows_loaded=0 -> LOAD_FAILED rows must reach
        # RAW_LOAD_AUDIT like the reference's post-COPY RESULT_SCAN insert,
        # sql/01_raw_ingestion.sql:74-86); only the raw-table append is
        # gated on rows_loaded>0. This also stops failed files from being
        # silently re-read every run (they're now in the load history).
        if all_audit:
            # ONE append for every spec's audit — single small file per batch.
            self.raw_load_audit.append(
                self.spark.createDataFrame(all_audit, schemas.RAW_LOAD_AUDIT)
            )
        return {k: t.read(self.spark) if t.exists() else None for k, t in self.raw_tables.items()}

    # ------------------------------------------------------------------
    def _tables(self) -> list[ParquetTable]:
        return [
            *self.raw_tables.values(),
            self.raw_load_audit,
            self.can_txn,
            self.can_txn_line,
            self.can_txn_anomaly,
        ]

    def vacuum(self) -> list[str]:
        """Sweep crash-stranded swap directories from every pipeline table
        (operators.storage.vacuum); no-op unless
        ``cfg.vacuum_min_age_seconds`` is set. Returns deleted paths."""
        if self.cfg.vacuum_min_age_seconds is None:
            return []
        from ..operators.storage import vacuum as _vacuum

        deleted: list[str] = []
        for t in self._tables():
            deleted.extend(_vacuum(t, self.cfg.vacuum_min_age_seconds))
        return deleted

    # ------------------------------------------------------------------
    def run_batch(self) -> dict:
        """Stages 01-08; returns the smoke-test artifacts."""
        vacuumed = self.vacuum()  # maintenance first: age-gated, crash-safe
        raw = self.ingest()
        ts = self._ts()

        stg_header = transform_headers(
            raw.get("JSON"), raw.get("XML"), raw.get("CSV")
        ).cache()

        # Stage 05a: CAN_TXN merge (reference sql/05_merge_canonical.sql:6-30)
        hdr_source = (
            stg_header.filter(F.col("rn") == 1)
            .withColumn(
                "is_valid", scalars_is_valid()
            )
            .withColumn("created_ts", ts)
            .withColumn("updated_ts", ts)
            .select(*CAN_TXN_COLS)
        )

        # 05a and 05b write DISJOINT tables from cached staging frames —
        # run them concurrently (Spark's scheduler interleaves independent
        # jobs; a real warehouse runs independent MERGEs the same way).
        # The header merge launches FIRST, so the line transform's plan
        # construction + analysis (driver-side Catalyst work, a measurable
        # slice of a small batch) overlaps the header merge's execution;
        # worst case the two threads race to fill the stg_header cache —
        # wall-time harmless, the second consumer reads the cache.
        def _merge_txn() -> None:
            merge_upsert_scoped(
                self.spark,
                self.can_txn,
                hdr_source,
                keys=["canonical_txn_id"],
                preserve=["created_ts"],
                dedupe_order=[F.col("ingest_ts").desc(), F.col("src_file")],
            )

        with ThreadPoolExecutor(max_workers=2) as ex:
            txn_future = ex.submit(_merge_txn)

            # Stage 05b: CAN_TXN_LINE merge (:32-53) with the M2
            # source-dedupe guard (duplicate (id, line_number) keys ->
            # latest ingest wins). Declared while 05a runs.
            stg_line = transform_lines(
                raw.get("JSON"),
                raw.get("XML"),
                raw.get("CSV"),
                stg_header,
                join_mode=self.cfg.join_mode,
            ).cache()
            line_source = (
                stg_line.withColumn("created_ts", ts)
                .withColumn("updated_ts", ts)
                .select(*CAN_LINE_COLS)
            )
            line_future = ex.submit(
                merge_upsert_scoped,
                self.spark,
                self.can_txn_line,
                line_source,
                ["canonical_txn_id", "line_number"],
                None,
                ["created_ts"],
                [F.col("ingest_ts").desc(), F.col("attributes")],
            )
            txn_future.result()
            line_future.result()

        # Stage 06: anomalies join the POST-merge CAN_TXN (ordering constraint
        # noted at SURVEY §3 entry point 3).
        can_txn_df = self.can_txn.read(self.spark)
        stg_anomaly = stage_anomalies(stg_header, stg_line, can_txn_df)
        merge_upsert_scoped(
            self.spark,
            self.can_txn_anomaly,
            anomaly_merge_source(stg_anomaly, ts).select(*CAN_ANOMALY_COLS),
            keys=["canonical_txn_id", "anomaly_code", "line_number", "anomaly_detail"],
        )

        # Stages 07-08
        can_line_df = self.can_txn_line.read(self.spark)
        anomaly_df = self.can_txn_anomaly.read(self.spark)
        audit_df = self.raw_load_audit.read(self.spark)
        views = register_views(self.spark, audit_df, can_txn_df, anomaly_df)
        if self.cfg.durable_views:
            register_durable_views(
                self.spark,
                self.raw_load_audit.path,
                self.can_txn.path,
                self.can_txn_anomaly.path,
            )
        result = {
            "smoke_counts": smoke_counts(can_txn_df, can_line_df, anomaly_df),
            "views": views,
            "probes": smoke_probes(views),
            "vacuumed": vacuumed,
        }
        stg_header.unpersist()
        stg_line.unpersist()
        return result


def scalars_is_valid() -> F.Column:
    """is_valid = IFF(ARRAY_SIZE(anomaly_codes) = 0, TRUE, FALSE)
    (reference sql/05_merge_canonical.sql:10)."""
    return F.when(F.size("anomaly_codes") == 0, F.lit(True)).otherwise(F.lit(False))
