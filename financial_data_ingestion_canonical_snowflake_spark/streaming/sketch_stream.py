"""Streaming sketch maintenance: fold per-micro-batch HLL states into a
persisted register table.

Mergeability is the whole point of sketch state (operators/sketches.py):
``merge(state(A), state(B)) == state(A ∪ B)`` exactly, register by
register. That identity makes streaming maintenance trivial AND
bit-exact: each micro-batch computes its own (group, bucket, max-rho)
registers and folds them into the table with an elementwise max — after
ANY prefix of the stream, the table equals the batch sketch of everything
ingested (pytest-proven, including across a checkpoint restart), and the
fold is idempotent under micro-batch replay (max is).

Per-trigger cost: one groupBy of the batch (at most 2^b rows per group
per input partition shuffle, map-side partial max) plus a register-keyed
merge against a table bounded by groups x 2^b rows — never a re-scan of
history. The distinct-count estimate reads off the table at any time via
``hll_estimate``.

The fold is bucket-scoped like every sink's (``merge.require_bucketed``):
a keyed greatest() merge on (bucket, group) — idempotent under replay, no
ledger needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert_scoped, require_bucketed
from ..operators.sketches import hll_estimate, hll_state
from ..operators.storage import ParquetTable


class HllSink:
    """foreachBatch sink maintaining a per-group HLL register table."""

    def __init__(
        self,
        table: ParquetTable,
        group_cols: Sequence[str],
        value_col: str,
        b: int = 8,
    ):
        require_bucketed(table, "HllSink")
        self.table = table
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.b = b

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # register-keyed elementwise max — "bucket" leads the key list so
        # the table hash-partitions on the register index (uniform) rather
        # than a possibly-low-cardinality group column
        merge_upsert_scoped(
            batch_df.sparkSession,
            self.table,
            hll_state(batch_df, self.group_cols, self.value_col, self.b),
            keys=["bucket", *self.group_cols],
            merge_exprs={"r": lambda t, s: F.greatest(t, s).cast("int")},
        )

    def estimate(self, spark: SparkSession) -> DataFrame:
        """Current distinct-count estimate per group, straight off the
        persisted registers."""
        return hll_estimate(self.table.read(spark), self.group_cols, self.b)


def stream_hll_ndv(
    spark: SparkSession,
    source_dir: str,
    table: ParquetTable,
    checkpoint_dir: str,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "user_id",
    b: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Stream a parquet directory into a per-group HLL register table.
    Returns the started StreamingQuery (``availableNow`` drains and stops).
    """
    from .dedup_stream import _start_parquet_batch_stream

    return _start_parquet_batch_stream(
        spark,
        source_dir,
        HllSink(table, group_cols, value_col, b),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )
