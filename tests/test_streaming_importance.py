"""Streaming importance-feature maintenance == batch feature table over
everything ingested (streaming/importance_stream.py), across micro-batch
boundaries, a checkpoint restart, and a replayed delivery (the additive
fold is guarded by the in-table batch ledger)."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.operators.importance import (
    hashed_ngram_features,
    importance_weights,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.importance_stream import (
    ImportanceFeatureSink,
    scores_against,
    stream_importance_features,
)

from .helpers import bucketed_table

_BATCH_1 = [(1, "the quick brown fox"), (2, "lazy dog sleeps here")]
_BATCH_2 = [(3, "the quick red fox"), (4, "zzz qqq www eee")]
_BATCH_3 = [(5, "lazy dog runs fast"), (6, "the quick brown dog")]


def _write_batch(spark, src, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)


def _batch_table(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return (
        hashed_ngram_features(docs, "doc_id", "text")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _counts(df):
    return sorted(map(tuple, df.select("bucket", "cnt").collect()))


def test_stream_features_match_batch_and_survive_restart(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    table = bucketed_table(tmp_path, "features")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, _BATCH_1)
    _write_batch(spark, src, _BATCH_2)
    q = stream_importance_features(
        spark, src, table, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    sink = ImportanceFeatureSink(table)
    assert _counts(sink.feature_table(spark)) == _counts(
        _batch_table(spark, _BATCH_1 + _BATCH_2)
    )

    # restart from the same checkpoint with a late file: only batch 3 folds
    _write_batch(spark, src, _BATCH_3)
    q2 = stream_importance_features(
        spark, src, table, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert _counts(sink.feature_table(spark)) == _counts(
        _batch_table(spark, _BATCH_1 + _BATCH_2 + _BATCH_3)
    )


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    """foreachBatch is at-least-once; the in-table ledger row must make a
    replayed (batch_id, data) delivery a no-op instead of doubling every
    count."""
    table = bucketed_table(tmp_path, "features_replay")
    sink = ImportanceFeatureSink(table)
    b1 = spark.createDataFrame(_BATCH_1, "doc_id long, text string")
    b2 = spark.createDataFrame(_BATCH_2, "doc_id long, text string")
    sink(b1, 0)
    sink(b2, 1)
    first = _counts(sink.feature_table(spark))
    sink(b2, 1)  # replay
    assert _counts(sink.feature_table(spark)) == first
    sink(b1, 0)  # much older replay
    assert _counts(sink.feature_table(spark)) == first


def test_scores_against_maintained_tables_match_batch_operator(spark, tmp_path):
    """Scoring against two sink-maintained tables must equal the batch
    importance_weights over the same corpora (same smoothed-ratio math on
    identical counts), and out-of-support docs still score."""
    raw_rows = _BATCH_1 + _BATCH_2
    tgt_rows = [(10, "the quick brown fox"), (11, "the quick brown dog")]

    raw_t = bucketed_table(tmp_path, "raw_feats")
    tgt_t = bucketed_table(tmp_path, "tgt_feats")
    raw_sink = ImportanceFeatureSink(raw_t)
    tgt_sink = ImportanceFeatureSink(tgt_t)
    raw_sink(spark.createDataFrame(_BATCH_1, "doc_id long, text string"), 0)
    raw_sink(spark.createDataFrame(_BATCH_2, "doc_id long, text string"), 1)
    tgt_sink(spark.createDataFrame(tgt_rows, "doc_id long, text string"), 0)

    docs = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    want = {
        r.doc_id: (r.n_features, r.sum_target_cnt, r.sum_raw_cnt, r.mean_ratio)
        for r in importance_weights(docs, tgt, "doc_id", "text").collect()
    }
    got = {
        r.doc_id: (r.n_features, r.sum_target_cnt, r.sum_raw_cnt, r.mean_ratio)
        for r in scores_against(
            docs, raw_sink.feature_table(spark), tgt_sink.feature_table(spark)
        ).collect()
    }
    assert got == want

    # a doc outside both corpora still scores (neutral smoothed ratios)
    out = scores_against(
        spark.createDataFrame(
            [(99, "totally novel words only")], "doc_id long, text string"
        ),
        raw_sink.feature_table(spark),
        tgt_sink.feature_table(spark),
    ).collect()
    assert len(out) == 1 and out[0].n_features == 3
    assert out[0].sum_raw_cnt == 0 and out[0].sum_target_cnt == 0
