"""Streaming maintenance of an IVF (inverted-file) ANN index.

A training-data pipeline ingests embeddings continuously; rebuilding the
ANN index from the full corpus per refresh is the corpus-wide pass a
100 TB deployment can't afford. Centroid assignment is per-row map work
against a FIXED broadcast quantizer, so the inverted-list table is
mergeable state: this sink folds each micro-batch's assignments
``(vec_id, centroid_id, embedding)`` into a persisted index via
:func:`operators.merge.merge_upsert_scoped` keyed on the vector id — a replayed
at-least-once delivery re-merges the same rows idempotently (no ledger
needed: the fold is keyed, not additive), and a RE-INGESTED vector
updates its assignment and embedding instead of duplicating.

Centroids are pinned at sink construction (their own ParquetTable,
written once by the caller — a kmeans_centroids output or any
deterministic quantizer). Re-clustering is a deliberate full rebuild,
the standard IVF operational story: assignments are only comparable
within one quantizer generation.

Queries serve from the maintained table via
:func:`operators.similarity.ivf_topk_from_index` — probe-assignment +
probed-list join, never a corpus re-scan. Invariant (pytest:
tests/test_streaming_ivf.py): after draining any prefix of the stream,
across restarts and replays, the index equals the batch
``assign_to_centroids`` over everything ingested, and top-k served from
it is row-identical to ``ivf_topk`` over the same corpus + centroids.

Per-trigger cost is batch-proportional — one broadcast crossJoin over
the BATCH (k centroid candidates per vector, map-side max_by collapse) +
one keyed merge into the buckets of the hash-bucketed index
(``merge.require_bucketed``) the batch's vector ids land in. New vector
ids append one file per bucket; a re-ingested id rewrites its bucket. At
100 TB the index table is the corpus's (id, int, vector) projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import (
    maybe_rebucket,
    merge_upsert_scoped,
    require_bucketed,
)
from ..operators.similarity import assign_to_centroids
from ..operators.storage import ParquetTable


def _index_schema(id_col: str, vec_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )


class IvfIndexSink:
    """foreachBatch sink folding embedding micro-batches into the index.

    CONCURRENT-READER CONTRACT: this is the one sink whose table SERVES
    queries (``ivf_topk_from_index``) while the stream keeps committing.
    On a :class:`~..operators.manifest.ManifestTable` with
    ``keep_generations=0`` the commit's own GC deletes displaced leaves
    immediately, so a reader that planned against the pre-commit manifest
    can lose the race with the delete mid-collect. The constructor
    therefore bumps a manifest-backed index table to ``keep_generations=1``
    (one displaced snapshot retained = lock-free snapshot isolation for
    in-flight readers; ``vacuum`` prunes past it). ``ParquetTable`` keeps
    its loud single-writer/reader-retry contract
    (``storage.py::_restore_orphaned_old``) — readers there get retryable
    failures, never corruption, and deployments wanting lock-free reads
    should hand this sink a ``ManifestTable``. Pinned by
    ``tests/test_manifest_table.py::test_reader_during_commit_snapshot``.
    """

    def __init__(
        self,
        index_table: ParquetTable,
        centroids_table: ParquetTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        rebucket_target_bytes: int | None = None,
    ):
        require_bucketed(index_table, "IvfIndexSink")
        if index_table.schema is None:
            index_table.schema = _index_schema(id_col, vec_col)
        from ..operators.manifest import ManifestTable

        if (
            isinstance(index_table, ManifestTable)
            and index_table.keep_generations < 1
        ):
            # serve-path default: retain one displaced snapshot so queries
            # in flight during a trigger's commit keep a readable plan
            index_table.keep_generations = 1
        self.index_table = index_table
        self.centroids_table = centroids_table
        self.id_col = id_col
        self.vec_col = vec_col
        # auto-split the index past this mean bucket size
        # (merge.maybe_rebucket) — the corpus-sized table's growth knob
        self.rebucket_target_bytes = rebucket_target_bytes

    def index(self, spark: SparkSession) -> DataFrame:
        """The maintained inverted-list table — ivf_topk_from_index input."""
        return self.index_table.read(spark)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = assign_to_centroids(
            batch_df,
            self.centroids_table.read(spark),
            id_col=self.id_col,
            vec_col=self.vec_col,
        ).join(
            batch_df.select(
                self.id_col,
                F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
            ),
            self.id_col,
        ).select(self.id_col, "centroid_id", self.vec_col)
        merge_upsert_scoped(spark, self.index_table, assigned, keys=[self.id_col])
        if self.rebucket_target_bytes is not None:
            maybe_rebucket(spark, self.index_table, self.rebucket_target_bytes)


def stream_ivf_index(
    spark: SparkSession,
    source_dir: str,
    index_table: ParquetTable,
    centroids_table: ParquetTable,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Stream a parquet embedding directory into the maintained IVF index."""
    from .dedup_stream import _start_parquet_batch_stream

    return _start_parquet_batch_stream(
        spark,
        source_dir,
        IvfIndexSink(index_table, centroids_table, id_col, vec_col),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )
