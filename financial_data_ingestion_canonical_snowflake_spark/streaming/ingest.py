"""Structured-Streaming ingestion (SURVEY.md §2.12 north star).

The reference pipeline is batch-only — streams/tasks are an explicit backlog
item (reference docs/architecture.md:132). This module supplies the streaming
analog of each batch stage, built on the idiomatic Spark surfaces:

- file-source ``readStream`` with ``maxFilesPerTrigger`` / ``availableNow``
  gives COPY INTO's each-file-loaded-exactly-once semantics (the checkpoint
  plays the role of Snowflake's COPY load history);
- ``withWatermark`` + ``F.window`` for late-data-tolerant audit rollups
  (streaming twin of the VW_LOAD_AUDIT_SUMMARY / tumbling-agg queries);
- ``dropDuplicatesWithinWatermark`` for the W1 survivorship semantics on an
  unbounded stream (reference sql/03_transform_headers.sql:79);
- ``foreachBatch`` merge sink reusing the batch path's bucket-scoped
  ``merge_upsert_scoped`` — arbitrary sinks can't MERGE, so each
  micro-batch runs the same merge the batch path uses (SURVEY.md §7.4-7).

Scale notes:
- State stores (window aggs, streaming dedupe) are keyed by the group/dedupe
  keys and bounded by the watermark — at 1000-executor scale state shards by
  ``spark.sql.shuffle.partitions``; set it to 2-3x cores BEFORE the first
  start (state-store partitioning is fixed at query start).
- The foreachBatch merge inherits the batch operator's properties: only the
  buckets a micro-batch touches are read, and each is appended to (new
  keys only) or rewritten.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import merge_upsert_scoped, require_bucketed
from ..operators.storage import ParquetTable


def file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """File-source readStream — the incremental COPY INTO.

    Streaming file sources require an explicit schema; pass one or we infer
    it from a one-off batch read of the existing files (fine for parquet,
    which is self-describing).
    """
    if schema is None:
        schema = spark.read.format(fmt).options(**options).load(path).schema
    reader = spark.readStream.format(fmt).schema(schema).options(**options)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def xml_file_stream(
    spark: SparkSession,
    spec,
    ingest_root: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming COPY for the reference's XML feed: a whole-document text
    readStream piped through the SAME conversion plan as the batch reader
    (sources/readers.py xml_text_to_raw — the per-document pandas-UDF
    XML->VARIANT conversion, posexplode, lineage, ON_ERROR='CONTINUE'
    error capture are all stateless expressions, so they run unchanged
    under Structured Streaming).

    Semantics: each new file appearing under the COPY path becomes one
    micro-batch increment, converted exactly once (the checkpoint is the
    COPY load history). ``ingest_ts`` is the processing-time
    ``current_timestamp()`` — in a stream there is no pinned batch_ts.

    Pair with ``start_merge_stream`` / an append sink plus
    ``with_observed_metrics`` + ``AuditListener`` for the per-batch audit
    trail, mirroring the batch pipeline's post-COPY RESULT_SCAN insert.
    """
    from ..sources.readers import xml_text_to_raw

    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .schema("value string")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    txt = reader.load(spec.path).select(
        F.col("value"), F.col("_metadata.file_path").alias("src_file")
    )
    return xml_text_to_raw(txt, spec, ingest_root)


def watermarked_window_agg(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Sequence[str] = (),
    aggs: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Tumbling-window aggregate with late-data watermark.

    Streaming twin of the batch ``stream_tumbling_window_agg`` parity query;
    the same plan works on a batch DataFrame (watermark is a no-op there),
    which is how the oracle checks it.
    """
    aggs = aggs or {"event_cnt": F.count(F.lit(1))}
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols,
        *aggs.keys(),
    )


def streaming_dedupe(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """W1 survivorship on an unbounded stream.

    ``dropDuplicatesWithinWatermark`` keeps the FIRST row seen per key and
    expires key state once the watermark passes — the streaming counterpart
    of ``ROW_NUMBER() ... ORDER BY ingest_ts DESC`` survivorship (in a
    stream, "first seen" is the only causal choice; the batch path applies
    latest-wins when reprocessing).
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower: str = "INTERVAL 1 HOUR",
    upper: str = "INTERVAL 0 SECONDS",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join on equality keys + an event-time band:
    ``left_ts - lower <= right_ts <= left_ts + upper``.

    The time-band predicate on BOTH event-time columns is what lets Spark
    bound the join state: each side buffers only rows inside
    watermark + band, then drops them — without it a stream-stream join
    buffers forever. State shards by the join keys across
    ``spark.sql.shuffle.partitions`` (fix it before the first start).
    The same plan runs on batch DataFrames (watermarks no-op), which is how
    the test oracles it.

    Column names must be disjoint apart from ``on`` (same rule as the batch
    ``interval_join``); the right side's key columns are dropped from the
    output.
    """
    from functools import reduce

    dup = (set(left.columns) & set(right.columns)) - set(on)
    if dup:
        raise ValueError(
            f"stream_stream_interval_join: ambiguous non-key columns: {sorted(dup)}; "
            "rename them on one side first"
        )
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in on],
        (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(lower))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(upper)),
    )
    joined = lw.join(rw, cond, how)
    return joined.select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}") for c in right.columns if c not in on],
    )


class MergeSink:
    """foreachBatch sink: MERGE each micro-batch into a hash-bucketed
    ParquetTable.

    Reuses the batch pipeline's ``merge_upsert_scoped`` (only the touched
    buckets are written), so batch and streaming produce identical
    canonical tables. Micro-batches may re-deliver rows after a restart (file source replays
    uncommitted batches); the merge is idempotent, which is the exactly-once
    story — same as the reference's rerun-safe MERGE
    (reference docs/architecture.md:88).
    """

    def __init__(
        self,
        table: ParquetTable,
        keys: Sequence[str],
        preserve: Sequence[str] = (),
        dedupe_order: Sequence | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        require_bucketed(table, "MergeSink")
        self.table = table
        self.keys = list(keys)
        self.preserve = list(preserve)
        self.dedupe_order = dedupe_order
        self.transform = transform

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        merge_upsert_scoped(
            batch_df.sparkSession,
            self.table,
            batch_df,
            keys=self.keys,
            preserve=self.preserve,
            dedupe_order=self.dedupe_order,
        )


def start_merge_stream(
    source: DataFrame,
    sink: MergeSink,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Wire a streaming source into a MergeSink.

    ``available_now=True`` drains everything currently on disk then stops —
    the batch-boundary trigger used by incremental COPY jobs; pass
    ``processing_time`` for a long-running micro-batch cadence.
    """
    writer = (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def with_observed_metrics(df: DataFrame, name: str = "load_audit") -> DataFrame:
    """Attach S11-style load telemetry to a streaming DataFrame.

    ``df.observe`` computes the aggregates inside the running query (no
    second scan — the streaming analog of RESULT_SCAN's "telemetry for the
    statement that just ran"); pair with :class:`AuditListener` to land one
    audit row per micro-batch.
    """
    err = (
        F.col("_load_error")
        if "_load_error" in df.columns
        else F.lit(None).cast("string")
    )
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_parsed"),
        F.sum(F.when(err.isNull(), 1).otherwise(0)).alias("rows_loaded"),
        F.sum(F.when(err.isNotNull(), 1).otherwise(0)).alias("errors_seen"),
    )


class AuditListener:
    """StreamingQueryListener that appends observed per-batch metrics to a
    durable audit table (streaming RAW_LOAD_AUDIT,
    reference sql/01_raw_ingestion.sql:74-86).

    Listener callbacks run on the driver after each micro-batch commits, so
    the append can't race the batch itself; `observation_name` selects which
    observe() node feeds the audit.
    """

    def __init__(self, spark, audit_table: ParquetTable, observation_name: str = "load_audit"):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                metrics = event.progress.observedMetrics.get(outer.obs_name)
                if metrics is None:
                    return
                rows_parsed = metrics["rows_parsed"] or 0
                rows_loaded = metrics["rows_loaded"] or 0
                errors_seen = metrics["errors_seen"] or 0
                if rows_parsed == 0:
                    return  # empty trigger; the reference audits only real COPYs
                status = (
                    "LOADED"
                    if errors_seen == 0
                    else ("PARTIALLY_LOADED" if rows_loaded > 0 else "LOAD_FAILED")
                )
                row = [(
                    f"stream_batch_{event.progress.batchId}",
                    outer.file_type,
                    status,
                    int(rows_parsed),
                    int(rows_loaded),
                    int(errors_seen),
                    None,
                )]
                df = outer.spark.createDataFrame(
                    row,
                    "src_file string, file_type string, load_status string, "
                    "rows_parsed long, rows_loaded long, errors_seen long, "
                    "first_error string",
                ).withColumn("load_ts", F.current_timestamp())
                outer.table.append(df)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.table = audit_table
        self.obs_name = observation_name
        self.file_type = "STREAM"
        self._listener = _L()

    def register(self) -> "AuditListener":
        self.spark.streams.addListener(self._listener)
        return self

    def unregister(self) -> None:
        self.spark.streams.removeListener(self._listener)
