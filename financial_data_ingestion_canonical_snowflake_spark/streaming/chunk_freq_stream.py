"""Streaming maintenance of the CDC chunk state that span removal needs:
the running chunk table and the chunk-hash -> document-frequency table.

``operators.text_dedup.remove_shared_spans`` consumes a chunk frame twice
(frequency side + reassembly side); over an incrementally-ingested corpus
a full rechunk-and-recount per refresh is exactly the corpus-wide pass a
100 TB pipeline can't afford. Chunking is deterministic map work and
document frequency is mergeable state (per-hash DISTINCT-doc counts add
across batches as long as a document arrives in exactly one micro-batch —
the file-source guarantee: a file is read once, a document lives in one
file; a document RE-INGESTED under the same id in a later batch would
corrupt the additive counts, so the sink detects that and fails loudly,
see below). So this sink folds each micro-batch into two persisted tables:

- ``chunks_table`` ``(id, chunk_idx, chunk_text, n_tokens, chunk_hash,
  src_batch_id)`` — the batch's ``cdc_chunk_documents`` output, merged by
  ``(id, chunk_idx)``, so a replayed at-least-once delivery re-merges the
  same rows idempotently. ``src_batch_id`` records which micro-batch
  delivered the document; it is what lets the re-ingest guard tell a
  REPLAY of the same batch (stored id == incoming id: benign, re-merge)
  from a true re-ingest in a LATER batch (stored id != incoming id: raises
  — re-chunking under a shortened text would also strand stale
  higher-``chunk_idx`` rows, so re-ingest is rejected rather than silently
  mis-counted). Read through :meth:`CdcChunkSink.chunks`, which drops the
  bookkeeping column.
- ``freq_table`` ``(chunk_hash, doc_freq)`` — additive fold of the
  batch's per-hash distinct-document counts. Additive folds double-count
  replays, so the fold is ledger-guarded PER BUCKET (merge.LedgerSpec,
  sentinel ``chunk_hash = -1``; real hashes are md5-derived 60-bit
  non-negatives), each ledger row landing in the same file as its
  bucket's counts, so a crash mid-commit replays only the buckets that
  didn't land.

Fold order makes every crash point safe: both merges stage concurrently,
then chunks commit FIRST (idempotent — re-merging is harmless whether or
not the freq fold landed), freq + ledger SECOND; a crash anywhere replays
the batch, the chunk merge no-ops semantically, and the ledger decides
whether the freq fold re-applies.

Invariant (pytest: tests/test_streaming_chunkfreq.py): after draining
any prefix of the stream — across restarts and replays —
``chunks_table`` equals ``cdc_chunk_documents`` over every document
ingested so far, ``freq_table`` equals the batch frequency count over
the same corpus, and ``remove_shared_spans(chunks=..., freq=...)`` over
the maintained state equals the from-scratch batch operator. Live-drain
hash-certified cross-engine in ns_stream_live_sinks.

Per-trigger cost is batch-proportional: one batch-sized chunking via
map-side HOFs plus one bucket-scoped merge per table (both tables are
hash-bucketed — ``merge.require_bucketed``), which writes one file to
each bucket the batch touches: its new chunks, or its changed counts and
ledger row as a delta. Chunk hashes use md5 of the LOWERCASED chunk
text (remove_shared_spans' case-insensitive span identity; the stored
chunk_text keeps source case).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import md5_long
from ..functions.text import cdc_chunk_documents
from ..operators.merge import (
    T_PREFIX,
    LedgerSpec,
    maybe_rebucket,
    merge_upsert_scoped,
    part_expr,
    require_bucketed,
    stage_then_commit,
)
from ..operators.storage import ParquetTable

FREQ_SCHEMA = T.StructType(
    [
        T.StructField("chunk_hash", T.LongType()),
        T.StructField("doc_freq", T.LongType()),
    ]
)

_LEDGER_HASH = -1

#: fixed token that opens the re-ingest guard's in-plan error message; the
#: sink recognizes the guard's failure by it, whatever Spark wraps around
_REINGEST_TOKEN = "CDC_REINGEST:"

_ADD = {
    "doc_freq": lambda t, s: (
        F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))
    ).cast("long")
}


def _chunk_schema(id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("chunk_text", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("chunk_hash", T.LongType()),
            T.StructField("src_batch_id", T.LongType()),
        ]
    )


class CdcChunkSink:
    """foreachBatch sink maintaining the chunk + chunk-frequency tables."""

    def __init__(
        self,
        chunks_table: ParquetTable,
        freq_table: ParquetTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        divisor: int = 8,
        rebucket_target_bytes: int | None = None,
        rebucket_max_buckets: int = 1 << 20,
    ):
        require_bucketed(chunks_table, "CdcChunkSink")
        require_bucketed(freq_table, "CdcChunkSink")
        if chunks_table.schema is None:
            chunks_table.schema = _chunk_schema(id_col)
        if freq_table.schema is None:
            freq_table.schema = FREQ_SCHEMA
        self.chunks_table = chunks_table
        self.freq_table = freq_table
        self.id_col = id_col
        self.text_col = text_col
        self.divisor = divisor
        # auto-split both growing state tables past this mean bucket size
        # (merge.maybe_rebucket; see ExactDedupSink docstring); the cap
        # bounds the split for fixture-scale harnesses that force an
        # early split with a tiny target
        self.rebucket_target_bytes = rebucket_target_bytes
        self.rebucket_max_buckets = rebucket_max_buckets

    def _maybe_rebucket_both(self, spark: SparkSession) -> None:
        """Post-fold auto-split check for both state tables. The common
        case is an O(1) driver metadata read per table (no-op); when both
        tables actually cross the split threshold in the same trigger (the
        forced-rebucket probe's posture), the two independent scan+rewrite
        jobs run concurrently (separate tables, no shared state)."""
        if self.rebucket_target_bytes is None:
            return

        def split(t) -> None:
            maybe_rebucket(
                spark,
                t,
                self.rebucket_target_bytes,
                max_buckets=self.rebucket_max_buckets,
            )

        with ThreadPoolExecutor(max_workers=2) as ex:
            # list() propagates the first worker exception, if any
            list(ex.map(split, (self.chunks_table, self.freq_table)))

    def chunks(self, spark: SparkSession) -> DataFrame:
        """The maintained chunk table — remove_shared_spans' ``chunks=``
        (the ``src_batch_id`` bookkeeping column dropped)."""
        return self.chunks_table.read(spark).drop("src_batch_id")

    def freq(self, spark: SparkSession) -> DataFrame:
        """The maintained ``(chunk_hash, doc_freq)`` table (ledger rows
        excluded) — remove_shared_spans' ``freq=``."""
        return self.freq_table.read(spark).filter(
            F.col("chunk_hash") != _LEDGER_HASH
        )

    def _clash_guard_expr(self, batch_id: int):
        """The re-ingest guard, folded INTO the chunk merge: a matched
        (id, chunk_idx) row whose stored ``src_batch_id`` differs from this
        batch is by definition a re-ingest — every re-ingested document
        with >= 1 chunk matches at least on ``chunk_idx`` 0. ``raise_error``
        fails the merge's WRITE job before anything commits (tmp/generation
        garbage only), so the state stays intact and no separate guard job
        runs. Same-batch matches (replays) compare equal and fold on
        through."""

        def guard(t, s):
            msg = F.concat(
                F.lit(_REINGEST_TOKEN + " CdcChunkSink: doc id "),
                F.col(T_PREFIX + self.id_col).cast("string"),
                F.lit(
                    " was already ingested by an earlier batch; "
                    "re-ingesting a document corrupts the additive "
                    "doc-frequency state (and a shortened text would "
                    "strand stale chunk rows). This sink requires each "
                    "document to arrive in exactly one micro-batch — the "
                    "parquet file-source contract. Rebuild the state "
                    "tables to absorb revised documents."
                ),
            )
            return F.when(
                t == F.lit(batch_id).cast("long"), s
            ).otherwise(F.raise_error(msg))

        return guard

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_chunks = (
            cdc_chunk_documents(
                batch_df, self.id_col, self.text_col, divisor=self.divisor
            )
            .withColumn("chunk_hash", md5_long(F.lower(F.col("chunk_text"))))
            .withColumn("src_batch_id", F.lit(batch_id).cast("long"))
            .persist()
        )
        try:
            # ONE touched-bucket collect per trigger, shared by both merges'
            # partition scopes: both part lists fold in a single aggregate
            # over the persisted batch, each bounded by its table's bucket
            # count — driver-small. The freq side's hash set over the raw
            # chunk rows equals the set over the aggregated per-hash counts
            # by construction (grouping never invents or drops a hash).
            # None for an absent table (the merge's insert-only first-batch
            # path).
            doc_parts = hash_parts = None
            aggs = {}
            if self.chunks_table.exists():
                n_c = self.chunks_table.read_meta()["n_buckets"]
                aggs["dp"] = part_expr(self.id_col, n_c)
            if self.freq_table.exists():
                n_f = self.freq_table.read_meta()["n_buckets"]
                aggs["hp"] = part_expr("chunk_hash", n_f)
            if aggs:
                row = batch_chunks.agg(
                    *[F.collect_set(e).alias(k) for k, e in aggs.items()]
                ).first()
                if "dp" in aggs:
                    doc_parts = [int(p) for p in row["dp"]]
                if "hp" in aggs:
                    hash_parts = [int(p) for p in row["hp"]]
            # batch's per-hash distinct-doc counts (freq merge source)
            b = (
                batch_chunks.select("chunk_hash", self.id_col)
                .distinct()
                .groupBy("chunk_hash")
                .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
            )
            try:
                # fold order: chunks commit FIRST, then freq + ledger
                stage_then_commit(
                    lambda: merge_upsert_scoped(
                        spark,
                        self.chunks_table,
                        batch_chunks,
                        keys=[self.id_col, "chunk_idx"],
                        merge_exprs={
                            "src_batch_id": self._clash_guard_expr(batch_id)
                        },
                        parts=doc_parts,
                        stage_only=True,
                    ),
                    lambda: merge_upsert_scoped(
                        spark,
                        self.freq_table,
                        b,
                        keys=["chunk_hash"],
                        merge_exprs=_ADD,
                        ledger=LedgerSpec(_LEDGER_HASH, "doc_freq"),
                        batch_id=batch_id,
                        parts=hash_parts,
                        stage_only=True,
                    ),
                )
            except Exception as err:
                if _REINGEST_TOKEN in str(err):
                    # surface the in-plan guard's raise_error as the
                    # documented loud ValueError
                    raise ValueError(str(err)) from err
                raise
            self._maybe_rebucket_both(spark)
        finally:
            batch_chunks.unpersist()


def stream_cdc_chunks(
    spark: SparkSession,
    source_dir: str,
    chunks_table: ParquetTable,
    freq_table: ParquetTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    rebucket_target_bytes: int | None = None,
    rebucket_max_buckets: int = 1 << 20,
):
    """Stream a parquet document directory into the CDC chunk + frequency
    state tables (span removal's incremental inputs)."""
    from .dedup_stream import _start_parquet_batch_stream

    return _start_parquet_batch_stream(
        spark,
        source_dir,
        CdcChunkSink(
            chunks_table,
            freq_table,
            id_col,
            text_col,
            divisor,
            rebucket_target_bytes=rebucket_target_bytes,
            rebucket_max_buckets=rebucket_max_buckets,
        ),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )
