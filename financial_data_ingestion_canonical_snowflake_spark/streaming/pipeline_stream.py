"""Incremental canonicalization: the reference pipeline's stages 03+05 as a
stream (the medallion pattern the reference lists as backlog,
docs/architecture.md:132).

RAW (bronze) parquet tables — written by batch COPY emulation or any other
producer — are themselves a file source; this module streams newly-landed
raw rows through the SAME header transform and MERGE the batch path uses
(plans/transform_headers.py, operators/merge.py) via foreachBatch, so an
incremental run and a full batch run of the same inputs produce identical
canonical tables (asserted in tests/test_streaming.py).

Semantics note: W1 DUPLICATE_TXN detection inside one micro-batch matches
batch behavior; duplicates that arrive in DIFFERENT micro-batches are
handled by the merge (latest wins per canonical_txn_id — no duplicate rows,
exactly the reference's rerun story) but are not re-flagged, because that
would need unbounded cross-batch state. For unbounded streams needing the
flag, put ``streaming_dedupe`` (dropDuplicatesWithinWatermark) upstream.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import require_bucketed
from ..operators.storage import ParquetTable
from ..plans.pipeline import header_merge_source, merge_canonical
from ..plans.transform_headers import transform_headers
from .ingest import MergeSink, file_stream, start_merge_stream

_FMT_ARG = {"JSON": 0, "XML": 1, "CSV": 2}


def canonical_header_sink(
    can_txn: ParquetTable, source_system: str, batch_ts: dt.datetime | None = None
) -> MergeSink:
    """MergeSink running stage 03 (header transform) + stage 05a (CAN_TXN
    merge) on each raw micro-batch."""

    def transform(raw_batch: DataFrame) -> DataFrame:
        args: list[DataFrame | None] = [None, None, None]
        args[_FMT_ARG[source_system]] = raw_batch
        ts = F.lit(batch_ts).cast("timestamp") if batch_ts else F.current_timestamp()
        return header_merge_source(transform_headers(*args), ts)

    return MergeSink(
        can_txn,
        keys=["canonical_txn_id"],
        preserve=["created_ts"],
        dedupe_order=[F.col("ingest_ts").desc(), F.col("src_file")],
        transform=transform,
    )


def stream_raw_to_canonical(
    spark: SparkSession,
    raw_dir: str,
    can_txn: ParquetTable,
    checkpoint_dir: str,
    source_system: str = "JSON",
    batch_ts: dt.datetime | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Stream a RAW bronze directory into the canonical header table."""
    stream = file_stream(
        spark, raw_dir, max_files_per_trigger=max_files_per_trigger
    )
    sink = canonical_header_sink(can_txn, source_system, batch_ts)
    return start_merge_stream(
        stream, sink, checkpoint_dir, available_now=available_now
    )


class FullCanonicalSink:
    """foreachBatch sink running the WHOLE canonical chain per micro-batch:
    stage 03 (header transform) → 05a (CAN_TXN merge) → 04 (line flatten)
    → 05b (CAN_TXN_LINE merge) → 06 (anomaly staging + merge) — the batch
    pipeline's own chain, :func:`plans.pipeline.merge_canonical`, so an
    incremental drain and a one-shot batch run of the same inputs produce
    identical canonical tables (asserted in tests/test_streaming.py).

    Cross-batch semantics match :func:`canonical_header_sink`'s note:
    within-batch duplicates are flagged exactly like batch; duplicates
    split across micro-batches are merged latest-wins but not re-flagged
    (the micro-batch is the chain's whole input — ``run_batch`` instead
    widens its input to the key closure over RAW). Stage 06 joins the
    POST-merge CAN_TXN (the reference's ordering constraint, SURVEY §3
    entry point 3), so line anomalies always see the canonical rows this
    batch just merged. All three merges are idempotent — replayed
    micro-batches (file-source restart) change nothing.
    """

    def __init__(
        self,
        can_txn: ParquetTable,
        can_txn_line: ParquetTable,
        can_txn_anomaly: ParquetTable,
        source_system: str = "JSON",
        join_mode: str = "faithful",
        batch_ts: dt.datetime | None = None,
    ):
        for t in (can_txn, can_txn_line, can_txn_anomaly):
            require_bucketed(t, "FullCanonicalSink")
        self.can_txn = can_txn
        self.can_txn_line = can_txn_line
        self.can_txn_anomaly = can_txn_anomaly
        self.source_system = source_system
        self.join_mode = join_mode
        self.batch_ts = batch_ts

    def __call__(self, raw_batch: DataFrame, batch_id: int) -> None:
        ts = (
            F.lit(self.batch_ts).cast("timestamp")
            if self.batch_ts
            else F.current_timestamp()
        )
        merge_canonical(
            raw_batch.sparkSession,
            self.can_txn,
            self.can_txn_line,
            self.can_txn_anomaly,
            {self.source_system: raw_batch},
            ts,
            self.join_mode,
        )


def stream_raw_to_full_canonical(
    spark: SparkSession,
    raw_dir: str,
    can_txn: ParquetTable,
    can_txn_line: ParquetTable,
    can_txn_anomaly: ParquetTable,
    checkpoint_dir: str,
    source_system: str = "JSON",
    join_mode: str = "faithful",
    batch_ts: dt.datetime | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Stream a RAW bronze directory through the complete canonical chain
    (headers + lines + anomalies), incrementally maintaining all three
    canonical tables."""
    stream = file_stream(
        spark, raw_dir, max_files_per_trigger=max_files_per_trigger
    )
    sink = FullCanonicalSink(
        can_txn, can_txn_line, can_txn_anomaly,
        source_system=source_system, join_mode=join_mode, batch_ts=batch_ts,
    )
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
