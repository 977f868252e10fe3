"""Streaming incremental exact dedup: maintain a corpus-wide content-hash
survivor table from a document stream.

The streaming twin of ``operators.text_dedup.exact_dedup``: each
micro-batch folds into a persisted ``(content_hash, survivor_id,
dup_cnt)`` table so the running table always equals what the batch
operator would produce over everything ingested so far (asserted in
tests/test_streaming_dedup.py — drained stream == batch dedup of the
union). This is the per-batch dedup cadence a 100 TB corpus needs: each
trigger's cost scales with the BATCH (one groupBy of the batch + one
hash-keyed merge against the table), never a corpus re-scan.

Merge semantics per content hash: min-id survivor (``least`` across the
table and batch sides — matching the batch operator's rule even when a
later batch backfills a smaller id), counts are ADDITIVE across batches.

The fold is bucket-scoped (``merge_upsert_scoped`` into the hash-bucketed
survivor table — see ``merge.require_bucketed``): a micro-batch reads and
rewrites ONLY the buckets its content hashes land in. A per-bucket replay
ledger (sentinel ``content_hash = '__ledger__'`` row inside each bucket
partition) makes the additive ``dup_cnt`` exactly-once per bucket under
replay. Read survivors through :meth:`ExactDedupSink.survivors` (it
excludes the sentinel rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import (
    S_PREFIX,
    T_PREFIX,
    LedgerSpec,
    maybe_rebucket,
    merge_upsert_scoped,
    require_bucketed,
    stage_then_commit,
)
from ..operators.storage import ParquetTable
from ..operators.text_dedup import (
    exact_dedup,
    minhash_lsh_pairs_incremental,
    minhash_signatures,
)

SURVIVOR_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("survivor_id", T.LongType()),
        T.StructField("dup_cnt", T.LongType()),
    ]
)

#: sentinel content_hash of the scoped path's per-bucket ledger rows —
#: real hashes are hex digests, which can never take this value
LEDGER_HASH = "__ledger__"

#: the survivor fold's matched-row combiners: min-id survivor (least()
#: ignores NULL sides, so a later batch backfilling a smaller id still
#: wins — identical to batch exact_dedup), additive duplicate counts
_SURVIVOR_EXPRS = {
    "survivor_id": lambda t, s: F.least(t, s).cast("long"),
    "dup_cnt": lambda t, s: (
        F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))
    ).cast("long"),
}


def _payload_expr(t, s):
    """Matched-row combiner for survivor payload columns: the payload
    follows whichever side holds the smaller survivor_id (the sibling
    columns the merge join exposes under T_PREFIX/S_PREFIX) — the fold
    form of batch ``min_by(payload, id)``, associative across batches
    because the running survivor_id is itself the running min."""
    s_wins = F.col(f"{S_PREFIX}survivor_id") < F.col(
        f"{T_PREFIX}survivor_id"
    )
    return F.when(s_wins, s).otherwise(t)


class ExactDedupSink:
    """foreachBatch sink folding each micro-batch into the survivor table.

    ``rebucket_target_bytes``: auto-split the bucket layout after a fold
    whenever mean bucket size exceeds the target
    (merge.maybe_rebucket) — the knob that keeps per-trigger I/O
    batch-proportional as the survivor state grows without bound (a fixed
    modulus re-couples trigger cost to state size; docs/BENCH_NOTES.md).

    ``payload_cols``: survivor payload columns (batch ``exact_dedup``'s
    ``min_by(payload, id)`` semantics, folded across batches — the
    payload follows the running min-id survivor). Adding payload columns
    on a RESTART over state written without them is the supported
    schema-evolution path: the fold widens the table
    in-place via ``merge_upsert_scoped(evolve_schema=True)`` — no state
    rebuild. Rows whose survivor was established before the evolution
    carry NULL payload until a smaller-id delivery arrives (the payload
    of the pre-evolution survivor was never stored — Delta mergeSchema's
    old-rows-are-NULL semantics); every other column still equals the
    batch operator over the full ingested union (pytest-proven).
    """

    def __init__(
        self,
        table: ParquetTable,
        id_col: str,
        text_col: str,
        rebucket_target_bytes: int | None = None,
        payload_cols: Sequence[str] = (),
    ):
        require_bucketed(table, "ExactDedupSink")
        if table.schema is None and not payload_cols and not table.exists():
            # payload types are only known from the stream; with payloads
            # (or over an EXISTING table, whose physical schema may be
            # wider than this software knows — e.g. a restart that dropped
            # payload_cols) the table reads schema-on-read, so survivors()
            # keeps the stored payload columns
            table.schema = SURVIVOR_SCHEMA
        self.table = table
        self.id_col = id_col
        self.text_col = text_col
        self.rebucket_target_bytes = rebucket_target_bytes
        self.payload_cols = list(payload_cols)

    def survivors(self, spark: SparkSession) -> DataFrame:
        """The maintained survivor table (ledger rows excluded) — identical schema/content to batch ``exact_dedup``."""
        return self.table.read(spark).filter(
            ~F.col("content_hash").eqNullSafe(F.lit(LEDGER_HASH))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = exact_dedup(
            batch_df, self.id_col, self.text_col, self.payload_cols
        )
        exprs = dict(_SURVIVOR_EXPRS)
        for c in self.payload_cols:
            exprs[c] = _payload_expr
        merge_upsert_scoped(
            spark,
            self.table,
            batch,
            keys=["content_hash"],
            merge_exprs=exprs,
            ledger=LedgerSpec(LEDGER_HASH, "dup_cnt"),
            batch_id=batch_id,
            # always evolve: widens in place when a restart ADDED payload
            # columns, and tolerates (preserves) columns a restart DROPPED
            # — either direction of payload drift must never crash the
            # stream or erase stored state
            evolve_schema=True,
        )
        if self.rebucket_target_bytes is not None:
            maybe_rebucket(spark, self.table, self.rebucket_target_bytes)


def _start_parquet_batch_stream(
    spark: SparkSession,
    source_dir: str,
    sink,
    checkpoint_dir: str,
    max_files_per_trigger: int | None,
    available_now: bool,
):
    """Parquet file-source -> foreachBatch sink, shared by both dedup
    streams. Returns the started StreamingQuery; with ``available_now``
    the query drains everything currently in ``source_dir`` and stops."""
    reader = spark.readStream.format("parquet").schema(
        spark.read.parquet(source_dir).schema
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.load(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    table: ParquetTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    rebucket_target_bytes: int | None = None,
    payload_cols: Sequence[str] = (),
):
    """Stream a parquet document directory into a survivor table."""
    return _start_parquet_batch_stream(
        spark,
        source_dir,
        ExactDedupSink(
            table,
            id_col,
            text_col,
            rebucket_target_bytes=rebucket_target_bytes,
            payload_cols=payload_cols,
        ),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )


PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("matching_minhashes", T.LongType()),
    ]
)


class MinHashLshDedupSink:
    """foreachBatch sink maintaining near-dup state from a document stream:
    a corpus signature table plus the running candidate-pair set.

    Per micro-batch (the incremental dedup cadence — cost scales with the
    batch, never a corpus re-self-join):

    1. MinHash signatures for the batch (map-side folds);
    2. ``minhash_lsh_pairs_incremental`` against the persisted signature
       table — new-vs-corpus and new-vs-new candidate pairs only;
    3. both tables fold bucket-scoped, keyed on doc / (id_a, id_b), so a
       replayed micro-batch after a restart re-merges the same rows
       idempotently instead of appending duplicates.

    The invariant (pytest-proven here in streaming form; the batch twin is
    proven in tests/test_curation.py): after draining any prefix of the
    stream, ``pairs_table`` equals the FULL LSH self-join over every
    document ingested so far — PROVIDED no bucket crosses
    ``max_bucket_width`` mid-stream. A bucket that grows past the cap
    stops producing NEW pairs (both paths agree there), but pairs recorded
    while it was under the cap stay in the table, whereas a from-scratch
    self-join would drop the whole bucket. Pass
    ``max_bucket_width=None`` when strict equality with an uncapped
    recompute matters, or schedule a periodic full rebuild — the standard
    compaction story for incrementally-maintained dedup state.
    """

    def __init__(
        self,
        sig_table: ParquetTable,
        pairs_table: ParquetTable,
        id_col: str,
        text_col: str,
        num_hashes: int = 16,
        bands: int = 4,
        min_matching: int = 8,
        max_bucket_width: int | None = 10_000,
        rebucket_target_bytes: int | None = None,
    ):
        require_bucketed(sig_table, "MinHashLshDedupSink")
        require_bucketed(pairs_table, "MinHashLshDedupSink")
        if pairs_table.schema is None:
            pairs_table.schema = PAIR_SCHEMA
        self.sig_table = sig_table
        self.pairs_table = pairs_table
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.min_matching = min_matching
        self.max_bucket_width = max_bucket_width
        # auto-split both growing state tables past this mean bucket size
        # (see ExactDedupSink docstring)
        self.rebucket_target_bytes = rebucket_target_bytes

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_sigs = minhash_signatures(
            batch_df, self.id_col, self.text_col, self.num_hashes
        ).persist()
        try:
            corpus_sigs = (
                self.sig_table.read(spark)
                if self.sig_table.exists()
                else new_sigs.limit(0)
            )
            pairs = minhash_lsh_pairs_incremental(
                new_sigs,
                corpus_sigs,
                num_hashes=self.num_hashes,
                bands=self.bands,
                min_matching=self.min_matching,
                max_bucket_width=self.max_bucket_width,
                persist=False,  # nb lifecycle covered by new_sigs persist
            )
            # Both folds are keyed upserts (idempotent under replay — no
            # ledger needed); their write jobs stage concurrently off the
            # shared new_sigs cache, then pairs commit before sigs. A crash
            # between the commits is replay-safe: the replayed batch
            # recomputes pairs against the pre-batch corpus (sigs not yet
            # committed) and re-merges both tables by key. The pairs stage
            # reads the sig table's LIVE files throughout — staging never
            # mutates visible state, so its corpus view stays pre-batch.
            # The sigs merge uses replace_keys: the merge key IS the
            # replace key, so "drop matching docs + insert the batch's
            # signatures" is exactly the keyed upsert, minus the full-outer
            # sort-merge join.
            stage_then_commit(
                lambda: merge_upsert_scoped(
                    spark,
                    self.pairs_table,
                    pairs,
                    keys=["id_a", "id_b"],
                    stage_only=True,
                ),
                lambda: merge_upsert_scoped(
                    spark,
                    self.sig_table,
                    new_sigs,
                    keys=["doc"],
                    replace_keys=F.broadcast(new_sigs.select("doc").distinct()),
                    stage_only=True,
                ),
            )
            if self.rebucket_target_bytes is not None:
                for t in (self.pairs_table, self.sig_table):
                    maybe_rebucket(spark, t, self.rebucket_target_bytes)
        finally:
            new_sigs.unpersist()


def stream_minhash_dedup(
    spark: SparkSession,
    source_dir: str,
    sig_table: ParquetTable,
    pairs_table: ParquetTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    **lsh_kwargs,
):
    """Stream a parquet document directory through incremental MinHash-LSH
    dedup, maintaining the signature table and the running pair set."""
    return _start_parquet_batch_stream(
        spark,
        source_dir,
        MinHashLshDedupSink(sig_table, pairs_table, id_col, text_col, **lsh_kwargs),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )
