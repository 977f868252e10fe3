"""Streaming incremental exact dedup == batch exact dedup of the union
(streaming/dedup_stream.py), including cross-batch duplicates and a
restart draining late-arriving files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
    exact_dedup,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
    ExactDedupSink,
    stream_exact_dedup,
)

from .helpers import bucketed_table

# ids increase with arrival order so the batch min-id survivor equals the
# streaming first-seen survivor
_BATCH_1 = [(1, "alpha beta"), (2, "gamma"), (3, "alpha beta")]
_BATCH_2 = [(4, "gamma"), (5, "delta"), (6, "alpha beta")]
_BATCH_3 = [(7, "delta"), (8, "epsilon")]


def _write_batch(spark, src, rows, n):
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert len(os.listdir(src)) >= n  # one new file per batch


def _sorted_rows(df):
    return sorted(
        (r["content_hash"], r["survivor_id"], r["dup_cnt"])
        for r in df.collect()
    )


def test_stream_dedup_matches_batch_over_union(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    table = bucketed_table(tmp_path, "survivors")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, _BATCH_1, 1)
    _write_batch(spark, src, _BATCH_2, 2)
    q = stream_exact_dedup(
        spark, src, table, ckpt, max_files_per_trigger=1, available_now=True
    )
    q.awaitTermination(120)
    survivors = ExactDedupSink(table, "doc_id", "text").survivors

    all_docs = spark.createDataFrame(
        _BATCH_1 + _BATCH_2, ["doc_id", "text"]
    )
    assert _sorted_rows(survivors(spark)) == _sorted_rows(
        exact_dedup(all_docs, "doc_id", "text")
    )

    # late files + restart from the same checkpoint: only the new batch folds
    _write_batch(spark, src, _BATCH_3, 3)
    q2 = stream_exact_dedup(
        spark, src, table, ckpt, max_files_per_trigger=1, available_now=True
    )
    q2.awaitTermination(120)
    all_docs = spark.createDataFrame(
        _BATCH_1 + _BATCH_2 + _BATCH_3, ["doc_id", "text"]
    )
    expected = exact_dedup(all_docs, "doc_id", "text")
    assert _sorted_rows(survivors(spark)) == _sorted_rows(expected)
    # cross-batch duplicate counted additively
    row = {r["survivor_id"]: r for r in survivors(spark).collect()}
    assert row[1]["dup_cnt"] == 3  # "alpha beta" in batches 1 (x2) and 2
    assert row[5]["dup_cnt"] == 2  # "delta" across batches 2 and 3


def test_stream_dedup_backfilled_smaller_id_becomes_survivor(spark, tmp_path):
    """A later batch backfilling a SMALLER doc_id must take over as
    survivor (least-merge), keeping stream == batch for out-of-order ids."""
    src = str(tmp_path / "docs_src")
    table = bucketed_table(tmp_path, "survivors")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, [(10, "alpha")], 1)
    _write_batch(spark, src, [(3, "alpha")], 2)
    q = stream_exact_dedup(
        spark, src, table, ckpt, max_files_per_trigger=1, available_now=True
    )
    q.awaitTermination(120)
    rows = ExactDedupSink(table, "doc_id", "text").survivors(spark).collect()
    assert len(rows) == 1
    assert rows[0]["survivor_id"] == 3 and rows[0]["dup_cnt"] == 2
