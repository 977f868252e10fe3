"""Streaming SCD2 dimension maintenance: fold a change-event stream into a
persisted type-2 version table, micro-batch by micro-batch.

The streaming twin of ``operators.scd.scd2_build`` (the CDC → dimension
maintenance loop a warehouse runs continuously). Per micro-batch:

1. restrict the version table to the AFFECTED keys (batch keys only — an
   equi-join, so per-trigger cost scales with the batch, never the
   dimension);
2. re-expand those keys' versions to pseudo-events (state @ eff_from, with
   the stored ``eff_from_seq`` preserving tie-break order) and union the
   batch's events;
3. re-collapse with ``scd2_build`` — duplicate deliveries vanish in the
   lag-collapse, so a REPLAYED micro-batch after a restart recomputes the
   identical versions (idempotent, pytest-proven across a checkpoint
   restart);
4. fold back bucket-scoped (``merge_upsert_scoped`` into the
   hash-bucketed version table — ``merge.require_bucketed``) keyed on
   (key, version_n). Version counts are monotone non-decreasing under
   re-collapse (adjacent versions differ by construction, so inserting
   events can only split runs, never merge them) — stale version rows
   cannot linger.

Late-data caveat: versions are COLLAPSED runs; an event older than the
key's current version boundary re-orders correctly against version *start*
points, but interior repeats collapsed away in earlier batches are gone —
a late event landing inside a long-collapsed run can coarsen history
relative to a from-scratch rebuild over the full event log. In-order
delivery per key (the watermarked-stream contract) gives exact equality
with the batch build; where late data beyond the watermark matters, attach
a :class:`RebuildPolicy` — the sink then detects out-of-order arrivals
against each key's stored ``(eff_from_us, eff_from_seq)`` boundary and
re-collapses the version table from the retained event log inside the same
trigger (plus an optional unconditional cadence), so the coarsening window
is policy-bounded with no manual intervention. :func:`rebuild_scd2` stays
available for ad-hoc repair, and ``tests/test_streaming_scd2.py`` proves
both paths restore the exact batch ``scd2_build`` history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import (
    PART_COL,
    maybe_rebucket,
    merge_upsert_scoped,
    part_expr,
    require_bucketed,
)
from ..operators.scd import scd2_build
from ..operators.storage import ParquetTable


@dataclass
class RebuildPolicy:
    """Auto-scheduled :meth:`Scd2Sink.rebuild` — upgrades the module's
    late-data caveat from a manual-intervention note to a BOUNDED window
    (VERDICT r13 next-step #5): history can stay coarsened for at most
    one policy interval before the sink itself re-collapses it from the
    retained event log.

    ``source_dir`` is the stream's own ingest directory (every delivered
    file is still there — the rebuild input by construction); size its
    retention to the oldest lateness the SLA must repair.

    ``on_late_events=True`` (default) triggers a rebuild in the SAME
    trigger that folds a detected out-of-order arrival. Detection needs
    each key's high-water mark of folded event positions — information
    the COLLAPSE deliberately discards (an interior repeat vanishes into
    its run, which is the whole coarsening mechanism), so the version
    boundary alone cannot see the canonical inside-a-run late event. The
    sink therefore persists ``(hwm_us, hwm_seq)`` as internal columns of
    the version table (replicated per key's rows, dropped by
    ``versions()``), maintained per trigger and re-derived from the full
    log on every rebuild; an event ordering at or below its key's stored
    mark is late by definition. Detection costs one batch-sized
    existence probe per trigger; under the watermarked in-order contract
    it never fires and the rebuild cost is zero. Attaching the policy to
    a PRE-policy table widens it in place (the sink forces the evolve
    path for that fold); the first policy trigger per key falls back to
    the version-boundary lower bound, exact from the next fold on.
    ``every_n_triggers`` adds an unconditional cadence on top (a belt
    for the fallback window)."""

    source_dir: str
    every_n_triggers: int | None = None
    on_late_events: bool = True


class Scd2Sink:
    """foreachBatch sink maintaining an SCD2 version table (stored with the
    internal ``eff_from_seq`` tie-break column; ``versions()`` reads the
    public surface without it)."""

    def __init__(
        self,
        table: ParquetTable,
        key_col: str,
        state_col: str,
        ts_col: str,
        seq_col: str,
        rebucket_target_bytes: int | None = None,
        evolve_schema: bool = False,
        rebuild_policy: RebuildPolicy | None = None,
    ):
        require_bucketed(table, "Scd2Sink")
        self.table = table
        self.key_col = key_col
        self.state_col = state_col
        self.ts_col = ts_col
        self.seq_col = seq_col
        # auto-split the version table past this mean bucket size
        # (merge.maybe_rebucket) — keeps per-trigger I/O batch-proportional
        # as the dimension grows without bound
        self.rebucket_target_bytes = rebucket_target_bytes
        # tolerate a version-table schema wider than this software writes
        # (an upgrade added columns, or an operator widened the table via
        # merge_upsert_scoped(evolve_schema=True)): untouched columns are
        # PRESERVED on matched versions instead of failing the fold — a
        # mid-stream widening never forces a dimension rebuild
        self.evolve_schema = evolve_schema
        # auto-scheduled late-data repair (see RebuildPolicy)
        self.rebuild_policy = rebuild_policy
        self._triggers_since_rebuild = 0

    def versions(self, spark: SparkSession) -> DataFrame:
        """The public SCD2 surface — identical schema to scd2_build."""
        return self.table.read(spark).drop("eff_from_seq", "hwm_us", "hwm_seq")

    def _event_pos(self):
        """A batch event's orderable position, typed to the stored mark."""
        return F.struct(
            F.unix_micros(F.col(self.ts_col)).alias("u"),
            F.col(self.seq_col).alias("s"),
        )

    def _as_events(self, versions: DataFrame) -> DataFrame:
        return versions.select(
            F.col(self.key_col),
            F.col("state").alias(self.state_col),
            F.timestamp_micros(F.col("eff_from_us")).alias(self.ts_col),
            F.col("eff_from_seq").alias(self.seq_col),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        events = batch_df.select(
            self.key_col, self.state_col, self.ts_col, self.seq_col
        )
        recomputed_src = events
        parts = None
        affected = None
        tgt_cols: set[str] | None = None
        late_detected = False
        pol = self.rebuild_policy
        track_hwm = pol is not None and pol.on_late_events
        evolve = self.evolve_schema
        stored_hwm = None
        if self.table.exists():
            # PHYSICAL read through the scan seam, NOT table.read(): a
            # declared-schema read would project away the sink's internal
            # hwm_us/hwm_seq columns and silently disable late-event
            # detection forever (has_hwm below would never be True), and
            # the seam keeps this sink correct on a manifest-committed
            # layout (a raw path read there would scan unreferenced
            # generation directories)
            meta = self.table.read_meta()
            stored = (
                T.StructType.fromJson(meta["schema_json"])
                if meta and "schema_json" in meta
                else None
            )
            target = self.table.scan(spark, stored=stored)
            affected = events.select(self.key_col).distinct()
            # bucket-prune the version read to the batch keys' buckets (same
            # part_expr the table is laid out with), THEN key-join — the
            # dimension scan never leaves the batch's footprint
            n = meta["n_buckets"]
            parts = [
                r[0]
                for r in affected.select(part_expr(self.key_col, n).alias("p"))
                .distinct()
                .collect()
            ]
            target = target.filter(F.col(PART_COL).isin(parts)).drop(PART_COL)
            tgt_cols = set(target.columns)
            touched = target.join(affected, self.key_col)  # batch-sized
            if track_hwm:
                # out-of-order probe against the stored per-key high-water
                # mark (RebuildPolicy docstring: the version boundary alone
                # cannot see an inside-a-run late event). Pre-policy tables
                # / evolved NULLs fall back to the boundary lower bound.
                # Both sides are batch-sized; limit(1) = existence check.
                has_hwm = "hwm_us" in touched.columns
                mark = F.struct(
                    (
                        F.coalesce(F.col("hwm_us"), F.col("eff_from_us"))
                        if has_hwm
                        else F.col("eff_from_us")
                    ).alias("u"),
                    (
                        F.coalesce(F.col("hwm_seq"), F.col("eff_from_seq"))
                        if has_hwm
                        else F.col("eff_from_seq")
                    ).alias("s"),
                )
                stored_hwm = touched.groupBy(self.key_col).agg(
                    F.max(mark).alias("__sh")
                )
                # STRICTLY below the mark: an event EQUAL to it is the
                # same event re-delivered (seq is the unique id), which
                # collapses away idempotently — replays must not pay for
                # a rebuild
                late_detected = bool(
                    events.join(stored_hwm, self.key_col)
                    .filter(self._event_pos() < F.col("__sh"))
                    .limit(1)
                    .count()
                )
                if not has_hwm:
                    # first policy fold over a pre-policy table: widen it
                    # in place (the scoped merge evolves via the recorded
                    # union schema)
                    evolve = True
            recomputed_src = self._as_events(touched).unionByName(events)
        recomputed = scd2_build(
            recomputed_src,
            self.key_col,
            self.state_col,
            self.ts_col,
            self.seq_col,
            with_seq=True,
        )
        if track_hwm:
            # persist each key's new high-water mark on its version rows:
            # max(stored mark, this batch's max event position) — the
            # recomputed keys are exactly the batch keys, so one
            # batch-sized join attaches it
            batch_hwm = events.groupBy(self.key_col).agg(
                F.max(self._event_pos()).alias("__bh")
            )
            if stored_hwm is not None:
                hw = batch_hwm.join(stored_hwm, self.key_col, "left").select(
                    self.key_col,
                    F.when(
                        F.col("__sh").isNull()
                        | (F.col("__bh") > F.col("__sh")),
                        F.col("__bh"),
                    )
                    .otherwise(F.col("__sh"))
                    .alias("__h"),
                )
            else:
                hw = batch_hwm.select(
                    self.key_col, F.col("__bh").alias("__h")
                )
            recomputed = (
                recomputed.join(hw, self.key_col)
                .withColumn("hwm_us", F.col("__h.u"))
                .withColumn("hwm_seq", F.col("__h.s"))
                .drop("__h")
            )
        # keyed upsert (idempotent re-collapse — replay-safe); only the
        # affected keys' buckets are rewritten. The recomputed versions
        # carry exactly the affected keys, whose buckets were already
        # collected above — pass them through so the merge skips its own
        # touched-bucket action AND the source persist.
        #
        # replace_keys fast path: ``recomputed`` is by construction the
        # COMPLETE re-collapsed version set for exactly the affected keys,
        # and version counts are monotone non-decreasing under re-collapse
        # (module docstring point 4), so no stale higher-version target row
        # can exist outside the source — the full-outer MERGE on
        # (key, version_n), which Spark can only run as a sort-merge join,
        # is equivalent to dropping the affected keys' rows (broadcast
        # anti-join on the batch's key set — the pruned dimension scan is
        # never shuffled or sorted) and unioning the re-collapse in. Only
        # taken when the target's physical schema already matches the
        # recomputed frame (an evolving fold — first policy trigger, or a
        # widened table folded without hwm tracking — keeps the
        # schema-reconciling MERGE semantics).
        rk = None
        if (
            not evolve
            and tgt_cols is not None
            and tgt_cols == set(recomputed.columns)
        ):
            rk = F.broadcast(affected)  # a micro-batch's keys: small
        merge_upsert_scoped(
            spark,
            self.table,
            recomputed,
            keys=[self.key_col, "version_n"],
            parts=parts,
            evolve_schema=evolve,
            replace_keys=rk,
        )
        if self.rebucket_target_bytes is not None:
            maybe_rebucket(spark, self.table, self.rebucket_target_bytes)
        self._maybe_scheduled_rebuild(spark, late_detected)

    def _maybe_scheduled_rebuild(self, spark: SparkSession, late: bool) -> None:
        """Apply the :class:`RebuildPolicy` after a fold: re-collapse from
        the retained log when a late arrival was detected this trigger or
        the cadence bound elapsed. Runs INSIDE the trigger, so detected
        coarsening never survives past the micro-batch that caused it."""
        pol = self.rebuild_policy
        if pol is None:
            return
        self._triggers_since_rebuild += 1
        due = late or (
            pol.every_n_triggers is not None
            and self._triggers_since_rebuild >= pol.every_n_triggers
        )
        if not due:
            return
        self.rebuild(spark.read.parquet(pol.source_dir))
        self._triggers_since_rebuild = 0

    def rebuild(self, events: DataFrame) -> None:
        """Periodic rebuild: re-collapse the version table from the
        retained event log, discarding the incrementally-folded state.

        This is the executable mitigation of the module's late-data
        caveat: an out-of-order event folded after its run was collapsed
        can coarsen history, and only a from-scratch re-collapse over the
        full retained log restores the exact batch semantics. Cost is one
        batch ``scd2_build`` over the retained events (one shuffle on the
        key) — schedule it at the cadence your late-data SLA requires,
        and size the event-log retention window to cover the oldest
        lateness you need to repair; events already expired from the log
        are beyond what any rebuild can recover.
        """
        rebuilt = scd2_build(
            events.select(self.key_col, self.state_col, self.ts_col, self.seq_col),
            self.key_col,
            self.state_col,
            self.ts_col,
            self.seq_col,
            with_seq=True,
        )
        if self.rebuild_policy is not None and self.rebuild_policy.on_late_events:
            # the rebuild HAS the full log — re-derive each key's exact
            # high-water mark so late-event detection stays exact after
            # the rewrite (a mark-less rebuilt table would fall back to
            # the version-boundary lower bound until the next fold)
            hw = events.groupBy(self.key_col).agg(
                F.max(self._event_pos()).alias("__h")
            )
            rebuilt = (
                rebuilt.join(hw, self.key_col)
                .withColumn("hwm_us", F.col("__h.u"))
                .withColumn("hwm_seq", F.col("__h.s"))
                .drop("__h")
            )
        # a rebuild rewrites everything by definition; re-derive the bucket
        # layout so subsequent scoped folds keep pruning
        meta = self.table.read_meta()
        n = meta["n_buckets"] if meta else self.table.n_buckets
        rebuilt = rebuilt.withColumn(
            PART_COL, part_expr(self.key_col, n)
        ).repartition(n, F.col(PART_COL))
        self.table.overwrite_atomic(rebuilt)
        # merge-preserving: overwrite_atomic just recorded the rewrite's
        # measured total_bytes (and carried any evolved schema_json) —
        # re-stamping the layout keys must not drop them
        self.table.write_meta(
            **{
                **(self.table.read_meta() or {}),
                "n_buckets": n,
                "part_col": PART_COL,
                "keys": [self.key_col, "version_n"],
            }
        )


def rebuild_scd2(
    spark: SparkSession,
    source_dir: str,
    table: ParquetTable,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> None:
    """Re-collapse ``table`` from the full retained event log under
    ``source_dir`` (the same directory :func:`stream_scd2` ingests). See
    :meth:`Scd2Sink.rebuild` for the late-data contract."""
    Scd2Sink(table, key_col, state_col, ts_col, seq_col).rebuild(
        spark.read.parquet(source_dir)
    )


def stream_scd2(
    spark: SparkSession,
    source_dir: str,
    table: ParquetTable,
    checkpoint_dir: str,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    rebuild_policy: RebuildPolicy | None = None,
):
    """Stream a parquet change-event directory into an SCD2 version table.
    Returns the started StreamingQuery (``availableNow`` drains and stops).
    ``rebuild_policy`` bounds the late-data coarsening window without
    manual intervention (see :class:`RebuildPolicy`); its ``source_dir``
    should be this same ``source_dir``.
    """
    from .dedup_stream import _start_parquet_batch_stream

    return _start_parquet_batch_stream(
        spark,
        source_dir,
        Scd2Sink(
            table, key_col, state_col, ts_col, seq_col,
            rebuild_policy=rebuild_policy,
        ),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )
