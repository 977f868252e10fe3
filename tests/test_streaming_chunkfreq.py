"""Streaming CDC chunk + frequency state (streaming/chunk_freq_stream.py)
== the batch rechunk over the union — across a checkpoint restart, with
replay idempotency, and feeding remove_shared_spans without a rechunk."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.functions.scalars import (
    md5_long,
)
from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
    cdc_chunk_documents,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
    ManifestTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
    remove_shared_spans,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.chunk_freq_stream import (
    CdcChunkSink,
    stream_cdc_chunks,
)

from .helpers import ArmedCommit, SecondPutDies, bucketed_table

_BOILER = " ".join(f"boiler{i}" for i in range(60))
_BATCH_1 = [
    (1, _BOILER + " " + " ".join(f"alpha{i}" for i in range(40))),
    (2, " ".join(f"solo{i}" for i in range(50))),
]
_BATCH_2 = [
    (3, _BOILER + " " + " ".join(f"beta{i}" for i in range(40))),
    (4, " ".join(f"gamma{i}" for i in range(30)) + " " + _BOILER),
]
_BATCH_3 = [(5, _BOILER), (6, " ".join(f"late{i}" for i in range(30)))]


def _write_batch(spark, src, rows, n):
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert len(os.listdir(src)) >= n


def _batch_chunks(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return cdc_chunk_documents(df, "doc_id", "text", divisor=8).withColumn(
        "chunk_hash", md5_long(F.lower(F.col("chunk_text")))
    )


def _chunk_rows(df):
    return sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"], r["chunk_hash"])
        for r in df.collect()
    )


def _freq_rows(df):
    return sorted((r["chunk_hash"], r["doc_freq"]) for r in df.collect())


def _batch_freq(chunks_df):
    return (
        chunks_df.select("chunk_hash", "doc_id")
        .distinct()
        .groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )


def test_stream_chunk_freq_matches_batch_across_restart(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    chunks_t = bucketed_table(tmp_path, "chunks")
    freq_t = bucketed_table(tmp_path, "freq")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, _BATCH_1, 1)
    _write_batch(spark, src, _BATCH_2, 2)
    q = stream_cdc_chunks(
        spark, src, chunks_t, freq_t, ckpt, max_files_per_trigger=1
    )
    assert q.awaitTermination(120)

    sink = CdcChunkSink(chunks_t, freq_t)
    want = _batch_chunks(spark, _BATCH_1 + _BATCH_2)
    assert _chunk_rows(sink.chunks(spark)) == _chunk_rows(want)
    assert _freq_rows(sink.freq(spark)) == _freq_rows(_batch_freq(want))

    # late file + restart from the same checkpoint: only the new batch folds
    _write_batch(spark, src, _BATCH_3, 3)
    q2 = stream_cdc_chunks(
        spark, src, chunks_t, freq_t, ckpt, max_files_per_trigger=1
    )
    assert q2.awaitTermination(120)
    want = _batch_chunks(spark, _BATCH_1 + _BATCH_2 + _BATCH_3)
    assert _chunk_rows(sink.chunks(spark)) == _chunk_rows(want)
    assert _freq_rows(sink.freq(spark)) == _freq_rows(_batch_freq(want))

    # the boilerplate span is cross-batch: its chunks carry doc_freq >= 4
    hot = sink.freq(spark).filter(F.col("doc_freq") >= 4).count()
    assert hot > 0


def test_replayed_batch_folds_once(spark, tmp_path):
    """At-least-once delivery: re-invoking the sink with an already-applied
    batch_id must change NEITHER table (ledger skip + keyed chunk merge)."""
    chunks_t = bucketed_table(tmp_path, "chunks")
    freq_t = bucketed_table(tmp_path, "freq")
    sink = CdcChunkSink(chunks_t, freq_t)

    b1 = spark.createDataFrame(_BATCH_1, ["doc_id", "text"])
    b2 = spark.createDataFrame(_BATCH_2, ["doc_id", "text"])
    sink(b1, 0)
    sink(b2, 1)
    chunks_before = _chunk_rows(sink.chunks(spark))
    freq_before = _freq_rows(sink.freq(spark))

    sink(b2, 1)  # replay: ledger says applied -> no-op
    sink(b1, 0)  # stale replay: also skipped
    assert _chunk_rows(sink.chunks(spark)) == chunks_before
    assert _freq_rows(sink.freq(spark)) == freq_before

    # a genuinely new batch still folds after the replays
    sink(spark.createDataFrame(_BATCH_3, ["doc_id", "text"]), 2)
    want = _batch_chunks(spark, _BATCH_1 + _BATCH_2 + _BATCH_3)
    assert _chunk_rows(sink.chunks(spark)) == _chunk_rows(want)
    assert _freq_rows(sink.freq(spark)) == _freq_rows(_batch_freq(want))


@pytest.mark.parametrize(
    "cls, crash",
    [
        (ParquetTable, "before_commit"),
        (ParquetTable, "between_buckets"),
        (ManifestTable, "before_commit"),
    ],
    ids=lambda v: getattr(v, "__name__", v),
)
def test_replay_after_crash_in_freq_commit_equals_batch(spark, tmp_path, cls, crash):
    """The two-table fold dies after the chunk table committed and before
    the freq table's commit landed — or, on ParquetTable, after one of its
    bucket files (delta rows and ledger row together) was published and
    before the next. The replayed batch re-merges the chunks, re-folds
    only the freq buckets whose ledger did not advance, and the state
    equals the batch operator over every document."""
    if crash == "between_buckets":
        commit = ArmedCommit()
    else:
        commit = ArmedCommit() if cls is ParquetTable else SecondPutDies()
    chunks_t = cls(str(tmp_path / "chunks"), None, [PART_COL], n_buckets=4)
    freq_t = cls(str(tmp_path / "freq"), None, [PART_COL], n_buckets=4, commit=commit)
    sink = CdcChunkSink(chunks_t, freq_t)
    batches = [
        spark.createDataFrame(rows, ["doc_id", "text"])
        for rows in (_BATCH_1, _BATCH_2, _BATCH_3)
    ]
    sink(batches[0], 0)
    commit.fail_at = 2 if crash == "between_buckets" else 0
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(batches[1], 1)
    commit.fail_at = None
    if crash == "between_buckets":
        # one freq bucket landed its fold and ledger row, the others not
        assert commit.published == 2
    sink(batches[1], 1)  # the replay
    sink(batches[1], 1)  # a second delivery folds nothing
    sink(batches[2], 2)
    want = _batch_chunks(spark, _BATCH_1 + _BATCH_2 + _BATCH_3)
    assert _chunk_rows(sink.chunks(spark)) == _chunk_rows(want)
    assert _freq_rows(sink.freq(spark)) == _freq_rows(_batch_freq(want))


def test_span_removal_from_maintained_state_equals_batch(spark, tmp_path):
    """remove_shared_spans(chunks=state, freq=state) over the maintained
    tables == the from-scratch batch operator over the ingested union —
    span removal on an incrementally-ingested corpus without a rechunk."""
    chunks_t = bucketed_table(tmp_path, "chunks")
    freq_t = bucketed_table(tmp_path, "freq")
    sink = CdcChunkSink(chunks_t, freq_t)
    sink(spark.createDataFrame(_BATCH_1, ["doc_id", "text"]), 0)
    sink(spark.createDataFrame(_BATCH_2, ["doc_id", "text"]), 1)
    sink(spark.createDataFrame(_BATCH_3, ["doc_id", "text"]), 2)

    union = spark.createDataFrame(
        _BATCH_1 + _BATCH_2 + _BATCH_3, ["doc_id", "text"]
    )
    want = {
        r["doc_id"]: r.asDict()
        for r in remove_shared_spans(
            union, "doc_id", "text", divisor=8, max_doc_freq=1
        ).collect()
    }
    got = {
        r["doc_id"]: r.asDict()
        for r in remove_shared_spans(
            None,
            "doc_id",
            "text",
            max_doc_freq=1,
            chunks=sink.chunks(spark),
            freq=sink.freq(spark),
        ).collect()
    }
    assert got == want
    # the interesting shapes occurred: boilerplate scrubbed, case kept
    assert got[5]["cleaned_text"] == "" and got[1]["n_tokens_removed"] > 0
    assert "alpha20" in got[1]["cleaned_text"]
