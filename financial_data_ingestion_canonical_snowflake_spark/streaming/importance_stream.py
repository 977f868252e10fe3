"""Streaming maintenance of a DSIR importance-weighting feature table.

The batch operator (operators/importance.py) builds its hashed-n-gram
bucket-count tables from a full corpus pass; a continuously-ingesting
pipeline can't afford that per batch. Bucket counts are trivially
MERGEABLE state (counts add), so this sink folds each micro-batch's
feature counts into a persisted ``(bucket, cnt)`` table — the running
table always equals the batch table over everything ingested, and
scoring any document set against the current corpus distribution is a
broadcast join away (:func:`operators.importance.importance_weights`'s
ratio math, via ``scores_against``).

Exactly-once fold: foreachBatch is at-least-once, and an additive fold
double-counts a replayed delivery. The fold is bucket-scoped into a
hash-bucketed table (``merge.require_bucketed``) and keeps a per-bucket
applied-batch ledger (merge.LedgerSpec: a sentinel row ``bucket = -1``
inside each bucket partition, cnt = last applied batch_id — real buckets
are md5 % 2**hash_bits, never negative). Each ledger row lands in the same
file as its bucket's counts, so a replayed ``batch_id`` is skipped and a
crash mid-commit replays only the buckets that didn't land.
Restart/replay equality is pytest-proven in
tests/test_streaming_importance.py.

Per-trigger cost: one batch-sized feature explode + groupBy, one keyed
merge against the touched buckets of a table bounded by the 2**hash_bits
feature space (65,536 rows at the default 16 bits) — trigger cost is
batch-proportional with a hash-space-bounded state, the same shape as
the streaming HLL sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.importance import hashed_ngram_features
from ..operators.merge import LedgerSpec, merge_upsert_scoped, require_bucketed
from ..operators.storage import ParquetTable

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)

_LEDGER_BUCKET = -1


class ImportanceFeatureSink:
    """foreachBatch sink maintaining the corpus-side feature-count table."""

    def __init__(
        self,
        table: ParquetTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        shingle_len: int = 2,
        hash_bits: int = 16,
    ):
        require_bucketed(table, "ImportanceFeatureSink")
        if table.schema is None:
            table.schema = FEATURE_SCHEMA
        self.table = table
        self.id_col = id_col
        self.text_col = text_col
        self.shingle_len = shingle_len
        self.hash_bits = hash_bits

    def feature_table(self, spark: SparkSession) -> DataFrame:
        """The maintained ``(bucket, cnt)`` table (ledger row excluded)."""
        return self.table.read(spark).filter(F.col("bucket") != _LEDGER_BUCKET)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # batch counts -> additive merge into the touched buckets only; the
        # per-bucket ledger skips replayed buckets
        b = (
            hashed_ngram_features(
                batch_df,
                self.id_col,
                self.text_col,
                shingle_len=self.shingle_len,
                hash_bits=self.hash_bits,
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        merge_upsert_scoped(
            batch_df.sparkSession,
            self.table,
            b,
            keys=["bucket"],
            merge_exprs={
                "cnt": lambda t, s: (
                    F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))
                ).cast("long")
            },
            ledger=LedgerSpec(_LEDGER_BUCKET, "cnt"),
            batch_id=batch_id,
        )


def scores_against(
    docs: DataFrame,
    raw_table: DataFrame,
    target_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_len: int = 2,
    hash_bits: int = 16,
) -> DataFrame:
    """Importance-weight ``docs`` against two maintained feature tables
    (``(bucket, cnt)`` each — e.g. two :class:`ImportanceFeatureSink`s, or
    one sink plus a static benchmark table). Same smoothed-ratio math and
    output columns as ``operators.importance.importance_weights``, which
    recomputes both tables from its inputs instead. Both feature joins are
    LEFT with zero-count smoothing, so ``docs`` need not be a subset of
    the corpus that built either table (a feature unseen by both sides
    scores the neutral smoothed ratio)."""
    b = 1 << hash_bits
    tgt = target_table.select("bucket", F.col("cnt").alias("t_cnt"))
    t_total = tgt.agg(
        F.coalesce(F.sum("t_cnt"), F.lit(0)).cast("long").alias("t_total")
    )
    raw = raw_table.select("bucket", F.col("cnt").alias("r_cnt"))
    r_total = raw.agg(
        F.coalesce(F.sum("r_cnt"), F.lit(0)).cast("long").alias("r_total")
    )
    feats = hashed_ngram_features(
        docs, id_col, text_col, shingle_len=shingle_len, hash_bits=hash_bits
    )
    joined = (
        feats.join(F.broadcast(raw), "bucket", "left")
        .join(F.broadcast(tgt), "bucket", "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
        .select(
            "id",
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
            "t_total",
            "r_total",
        )
    )
    p_t = (F.col("t_cnt") + 1).cast("double") / (F.col("t_total") + b).cast(
        "double"
    )
    p_r = (F.col("r_cnt") + 1).cast("double") / (F.col("r_total") + b).cast(
        "double"
    )
    joined = joined.withColumn("ratio", p_t / p_r)
    return joined.groupBy(
        F.col("id").alias(id_col)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.sum("t_cnt").cast("long").alias("sum_target_cnt"),
        F.sum("r_cnt").cast("long").alias("sum_raw_cnt"),
        # identical pin discipline to operators.importance.importance_weights
        # (sum-at-12 / DECIMAL(28,6) quotient pin) — the stream==batch
        # equality test demands bit-identical mean_ratio
        (
            F.sum(F.col("ratio").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        .cast("decimal(28,6)")
        .cast("double")
        .alias("mean_ratio"),
    )


def stream_importance_features(
    spark: SparkSession,
    source_dir: str,
    table: ParquetTable,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 2,
    hash_bits: int = 16,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Stream a parquet document directory into a maintained feature-count
    table. Returns the started StreamingQuery (``availableNow`` drains and
    stops)."""
    from .dedup_stream import _start_parquet_batch_stream

    return _start_parquet_batch_stream(
        spark,
        source_dir,
        ImportanceFeatureSink(
            table, id_col, text_col, shingle_len=shingle_len, hash_bits=hash_bits
        ),
        checkpoint_dir,
        max_files_per_trigger,
        available_now,
    )
