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

Stages 03-06 are one function, :func:`merge_canonical`, shared with the
streaming ``FullCanonicalSink``. ``run_batch`` feeds it only the KEY
CLOSURE of the rows its own ingest loaded (:func:`key_closure`): every RAW
row, old or new, in a rank group those rows touch, so ranking, duplicate
flags and survivorship equal a full-history run, and the merges see only
the delta's keys: a bucket of new keys gains a file of them, a bucket of
restated keys a delta file that reads resolve. A run that loads no rows
runs no transform and no merge. A run that died between its ingest and
its last merge leaves a marker file; the next run re-derives all of RAW.
"""

from __future__ import annotations

import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators.merge import (
    PART_COL,
    dedupe_source,
    merge_upsert_scoped,
    part_expr,
    stage_then_commit,
)
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
from .transform_headers import rank_keys, source_txn_id, transform_headers
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
    # hash-bucket count for partition-scoped canonical merges. run_batch
    # merges only its key closure: a bucket holding none of its keys is
    # not written, one receiving only new keys appends them, and one
    # holding an updated key (a restatement) gains a delta file
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
        self.pending = f"{w}/_merge_pending"  # see run_batch
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
    def ingest(self) -> tuple[dict[str, DataFrame | None], dict[str, DataFrame]]:
        """Stage 01: one COPY per spec + audit capture immediately after each
        (reference sql/01_raw_ingestion.sql:74-86 in-session coupling).

        Returns the RAW tables (full history; ``None`` for a table never
        written) and, per RAW table this call appended to, a read of the
        parquet files it wrote: the rows it loaded. Those files are told
        apart by listing the table before and after the appends, so the
        list is bounded by the appends' write tasks, not by the number of
        input files."""
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
            before = {k: set(t.data_files("")) for k, t in self.raw_tables.items()}
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
        raw = {k: t.read(self.spark) if t.exists() else None for k, t in self.raw_tables.items()}
        landed = {}
        for k, t in self.raw_tables.items():
            new = sorted(set(t.data_files("")) - before[k])
            if new:  # the history's schema: no second inference job
                landed[k] = self.spark.read.schema(raw[k].schema).parquet(*new)
        return raw, landed

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
    def _scope(
        self,
        raw: dict[str, DataFrame | None],
        landed: dict[str, DataFrame],
        recover: bool,
    ) -> dict[str, DataFrame] | None:
        """The RAW rows stages 03-06 re-derive this run: all of RAW when
        ``recover`` (an earlier run died before its merges finished), else
        the key closure of the rows this run's ingest landed, or ``None``
        when there is nothing to merge."""
        history = {k: v for k, v in raw.items() if v is not None}
        if recover:
            return history or None
        return key_closure(history, landed) if landed else None

    def run_batch(self) -> dict:
        """Stages 01-08; returns the smoke-test artifacts.

        The marker file ``_merge_pending`` brackets the run: written before
        ingest lands any row, removed once every merge has committed. A
        run that finds it left behind re-derives all of RAW, because the
        rows a dead run landed seed no later closure (their files are in
        the load history, so no later ingest loads them again)."""
        vacuumed = self.vacuum()  # maintenance first: age-gated, crash-safe
        recover = os.path.exists(self.pending)
        os.makedirs(os.path.dirname(self.pending), exist_ok=True)
        open(self.pending, "a").close()
        raw, landed = self.ingest()
        scope = self._scope(raw, landed, recover)
        if scope is not None:
            merge_canonical(
                self.spark,
                self.can_txn,
                self.can_txn_line,
                self.can_txn_anomaly,
                scope,
                self._ts(),
                self.cfg.join_mode,
                history=raw,
            )
        os.remove(self.pending)

        # Stages 07-08
        can_txn_df = self.can_txn.read(self.spark)
        can_line_df = self.can_txn_line.read(self.spark)
        anomaly_df = self.can_txn_anomaly.read(self.spark)
        audit_df = self.raw_load_audit.read(self.spark)
        views = register_views(self.spark, audit_df, can_txn_df, anomaly_df)
        if self.cfg.durable_views:
            register_durable_views(
                self.spark,
                self.raw_load_audit,
                self.can_txn,
                self.can_txn_anomaly,
            )
        return {
            "smoke_counts": smoke_counts(can_txn_df, can_line_df, anomaly_df),
            "views": views,
            "probes": smoke_probes(views),
            "vacuumed": vacuumed,
        }


def _closure_group(client_id: Column, source_txn_id: Column) -> Column:
    """A row's closure class: its rank group ``(client_id, source_txn_id)``,
    except that every NULL-client row falls in one class — their
    canonical_txn_id is NULL (``scalars.canonical_txn_id``), so they all
    share one CAN_TXN merge key whatever their source id."""
    return F.when(client_id.isNotNull(), source_txn_id)


def key_closure(
    raw: dict[str, DataFrame], landed: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """The RAW rows, per source system, that stages 03-06 must re-derive
    once ``landed`` (per source system, the rows a run appended to RAW) is
    in RAW: every row, old or new and of any format, whose rank group
    (``client_id``, original ``source_txn_id``; compared null-safe, as
    ``rank_duplicates`` partitions) appears among the landed rows. A group
    is then ranked whole, so ``rn``, ``dup_cnt`` and latest-wins
    survivorship equal the full-history run's.

    Found with key-only projections (:func:`rank_keys`): the landed rows'
    groups, read from the run's new RAW files only, are broadcast and
    semi-joined to each RAW table (a path probe per payload; no hashing or
    JSON rendering). Not cached: each transform's plan reads it once and
    reuses one broadcast across the three tables, where three separately
    cached closures each cost a broadcast job (measured: 4 more jobs per
    ``batch_load`` op, equal op time)."""
    seeds = reduce(
        DataFrame.unionByName,
        [
            rank_keys(df, fmt).select(
                F.col("client_id").alias("__client"),
                _closure_group(F.col("client_id"), F.col("source_txn_id")).alias(
                    "__group"
                ),
            )
            for fmt, df in landed.items()
        ],
    )
    # no distinct: a repeated key only repeats a broadcast row, where the
    # distinct would cost a shuffle stage
    seeds = F.broadcast(seeds)
    return {
        fmt: df.join(
            seeds,
            F.col("client_id").eqNullSafe(F.col("__client"))
            & _closure_group(F.col("client_id"), source_txn_id(fmt)).eqNullSafe(
                F.col("__group")
            ),
            "left_semi",
        )
        for fmt, df in raw.items()
    }


def _surviving_files(
    history: dict[str, DataFrame | None], stg_header: DataFrame
) -> dict[str, DataFrame]:
    """Faithful-mode line input: every RAW row of each ``(client_id,
    src_file)`` holding a surviving header of ``stg_header`` — the
    file-granular join pairs a header with every row of its file."""
    files = stg_header.filter(F.col("rn") == 1).select(
        "source_system", "client_id", "src_file"
    ).distinct()
    return {
        fmt: df.join(
            F.broadcast(
                files.filter(F.col("source_system") == fmt).drop("source_system")
            ),
            ["client_id", "src_file"],
            "left_semi",
        )
        for fmt, df in history.items()
        if df is not None
    }


def merge_canonical(
    spark: SparkSession,
    can_txn: ParquetTable,
    can_txn_line: ParquetTable,
    can_txn_anomaly: ParquetTable,
    raw: dict[str, DataFrame],
    ts: Column,
    join_mode: str,
    history: dict[str, DataFrame | None] | None = None,
) -> None:
    """Stages 03-06 over ``raw`` (RAW rows keyed by source system): header
    transform, line transform, anomaly staging, and the CAN_TXN,
    CAN_TXN_LINE and CAN_TXN_ANOMALY merges. ``ts`` stamps created/
    updated/detected timestamps.

    ``raw`` must hold whole rank groups (a :func:`key_closure`, a full
    history, or a streaming micro-batch taken as it is). In
    ``join_mode='faithful'`` a header's lines come from every row of its
    file, so with ``history`` given (the full RAW tables) the line
    transform reads the files of the surviving headers from it; without
    it, from ``raw`` itself.

    The three merges stage concurrently and commit in the order CAN_TXN →
    CAN_TXN_LINE → CAN_TXN_ANOMALY (``stage_then_commit``): a failed stage
    commits none of them."""
    stg_header = transform_headers(
        raw.get("JSON"), raw.get("XML"), raw.get("CSV")
    ).cache()
    stg_line = anomaly_source = None
    try:
        # every line and anomaly key is a surviving header's id, and all
        # three tables bucket on it: one action fills the stg_header cache
        # and finds the buckets of all three merges
        txn_parts, line_parts, anomaly_parts = _touched_buckets(
            stg_header.filter(F.col("rn") == 1),
            (can_txn, can_txn_line, can_txn_anomaly),
        )
        hdr_order = [F.col("ingest_ts").desc(), F.col("src_file")]
        hdr_source = header_merge_source(stg_header, ts)
        line_raw = raw
        if history is not None and join_mode == "faithful":
            line_raw = _surviving_files(history, stg_header)
        stg_line = transform_lines(
            line_raw.get("JSON"),
            line_raw.get("XML"),
            line_raw.get("CSV"),
            stg_header,
            join_mode=join_mode,
        ).cache()
        # Stage 05b: the M2 source-dedupe guard (duplicate (id, line_number)
        # keys -> latest ingest wins)
        line_source = (
            stg_line.withColumn("created_ts", ts)
            .withColumn("updated_ts", ts)
            .select(*CAN_LINE_COLS)
        )
        # Stage 06: line flags take client and source system from the
        # header row the CAN_TXN merge keeps for their id — what the
        # post-merge CAN_TXN holds for it
        stg_anomaly = stage_anomalies(
            stg_header,
            stg_line,
            dedupe_source(hdr_source, schemas.CAN_TXN_KEYS, hdr_order),
        )
        # read twice by its merge (the replaced keys, the rows)
        anomaly_source = (
            anomaly_merge_source(stg_anomaly, ts).select(*CAN_ANOMALY_COLS).cache()
        )
        stage_then_commit(
            lambda: merge_upsert_scoped(
                spark,
                can_txn,
                hdr_source,
                keys=list(schemas.CAN_TXN_KEYS),
                preserve=["created_ts"],
                dedupe_order=hdr_order,
                parts=txn_parts,
                stage_only=True,
            ),
            lambda: merge_upsert_scoped(
                spark,
                can_txn_line,
                line_source,
                keys=list(schemas.CAN_TXN_LINE_KEYS),
                preserve=["created_ts"],
                dedupe_order=[F.col("ingest_ts").desc(), F.col("attributes")],
                parts=line_parts,
                stage_only=True,
            ),
            # an anomaly row has no column the merge keeps from its stored
            # copy, so the MERGE is a per-key replacement: the rows staged
            # for a key replace the stored ones one for one, also where
            # several rows share a key (the NULL id of NULL-client rows)
            lambda: merge_upsert_scoped(
                spark,
                can_txn_anomaly,
                anomaly_source,
                keys=list(schemas.CAN_TXN_ANOMALY_KEYS),
                parts=anomaly_parts,
                replace_keys=anomaly_source.select(*schemas.CAN_TXN_ANOMALY_KEYS),
                stage_only=True,
            ),
        )
    finally:  # a failed merge leaves no cache behind either
        for df in (stg_header, stg_line, anomaly_source):
            if df is not None:
                df.unpersist()


def _touched_buckets(
    survivors: DataFrame, tables: tuple[ParquetTable, ...]
) -> list[list[int]]:
    """Per table, the buckets of the surviving headers' ``canonical_txn_id``
    under the table's stored modulus, in one driver action (at most one
    row per bucket combination)."""
    mods = [(t.read_meta() or {}).get("n_buckets", t.n_buckets) for t in tables]
    rows = (
        survivors.select(
            *[part_expr("canonical_txn_id", n).alias(f"p{n}") for n in sorted(set(mods))]
        )
        .distinct()
        .collect()
    )
    return [sorted({r[f"p{n}"] for r in rows}) for n in mods]


def header_merge_source(stg_header: DataFrame, ts: Column) -> DataFrame:
    """The CAN_TXN merge source: surviving headers, stamped (reference
    sql/05_merge_canonical.sql:6-30)."""
    return (
        stg_header.filter(F.col("rn") == 1)
        .withColumn("is_valid", scalars_is_valid())
        .withColumn("created_ts", ts)
        .withColumn("updated_ts", ts)
        .select(*CAN_TXN_COLS)
    )


def scalars_is_valid() -> F.Column:
    """is_valid = IFF(ARRAY_SIZE(anomaly_codes) = 0, TRUE, FALSE)
    (reference sql/05_merge_canonical.sql:10)."""
    return F.when(F.size("anomaly_codes") == 0, F.lit(True)).otherwise(F.lit(False))
