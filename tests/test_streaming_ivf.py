"""Streaming IVF index maintenance (streaming/ivf_stream.py): the
maintained inverted-list table == batch assignment over the union across
restart + replay, and serving from it == ivf_topk from scratch."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.operators.similarity import (
    assign_to_centroids,
    ivf_topk,
    ivf_topk_from_index,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.ivf_stream import (
    IvfIndexSink,
    stream_ivf_index,
)

from .helpers import bucketed_table

_DIM = 8


def _vec(i: int, bump: int = 0) -> list[float]:
    # deterministic, well-dispersed unit-ish vectors
    return [
        float(((i * 37 + d * 11 + bump) % 19) - 9) / 9.0 for d in range(_DIM)
    ]


def _emb_rows(ids, bump=0):
    return [(i, _vec(i, bump)) for i in ids]


_SCHEMA = "vec_id long, embedding array<double>"


def _write_batch(spark, src, rows, n):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert len(os.listdir(src)) >= n


def _index_rows(df):
    return sorted(
        (r["vec_id"], r["centroid_id"], tuple(r["embedding"]))
        for r in df.collect()
    )


def test_stream_ivf_index_matches_batch_across_restart(spark, tmp_path):
    src = str(tmp_path / "emb_src")
    index_t = bucketed_table(tmp_path, "index")
    cents_t = ParquetTable(str(tmp_path / "cents"))
    ckpt = str(tmp_path / "ckpt")

    cents = spark.createDataFrame(_emb_rows(range(4)), _SCHEMA)
    cents_t.overwrite_atomic(cents)

    b1, b2, b3 = (
        _emb_rows(range(0, 30)),
        _emb_rows(range(30, 60)),
        _emb_rows(range(60, 80)),
    )
    _write_batch(spark, src, b1, 1)
    _write_batch(spark, src, b2, 2)
    q = stream_ivf_index(
        spark, src, index_t, cents_t, ckpt, max_files_per_trigger=1
    )
    assert q.awaitTermination(120)

    sink = IvfIndexSink(index_t, cents_t)
    union = spark.createDataFrame(b1 + b2, _SCHEMA)
    want = assign_to_centroids(union, cents).join(union, "vec_id").select(
        "vec_id", "centroid_id", "embedding"
    )
    assert _index_rows(sink.index(spark)) == _index_rows(want)

    # late file + restart from the same checkpoint
    _write_batch(spark, src, b3, 3)
    q2 = stream_ivf_index(
        spark, src, index_t, cents_t, ckpt, max_files_per_trigger=1
    )
    assert q2.awaitTermination(120)
    union = spark.createDataFrame(b1 + b2 + b3, _SCHEMA)
    want = assign_to_centroids(union, cents).join(union, "vec_id").select(
        "vec_id", "centroid_id", "embedding"
    )
    assert _index_rows(sink.index(spark)) == _index_rows(want)


def test_replay_and_reingest_fold_idempotently(spark, tmp_path):
    """A replayed batch is a no-op (keyed merge); a RE-INGESTED vector
    updates its embedding + assignment instead of duplicating."""
    index_t = bucketed_table(tmp_path, "index")
    cents_t = ParquetTable(str(tmp_path / "cents"))
    cents_t.overwrite_atomic(spark.createDataFrame(_emb_rows(range(4)), _SCHEMA))
    sink = IvfIndexSink(index_t, cents_t)

    b1 = spark.createDataFrame(_emb_rows(range(0, 20)), _SCHEMA)
    sink(b1, 0)
    before = _index_rows(sink.index(spark))
    sink(b1, 0)  # replay
    assert _index_rows(sink.index(spark)) == before

    # re-ingest vec 5 with a different embedding: one row, new values
    upd = spark.createDataFrame(_emb_rows([5], bump=7), _SCHEMA)
    sink(upd, 1)
    rows = {r[0]: r for r in _index_rows(sink.index(spark))}
    assert len(rows) == 20
    assert rows[5][2] == tuple(_vec(5, bump=7))


def test_topk_from_maintained_index_equals_from_scratch(spark, tmp_path):
    index_t = bucketed_table(tmp_path, "index")
    cents_t = ParquetTable(str(tmp_path / "cents"))
    cents = spark.createDataFrame(_emb_rows(range(6)), _SCHEMA)
    cents_t.overwrite_atomic(cents)
    sink = IvfIndexSink(index_t, cents_t)
    b1, b2 = _emb_rows(range(0, 50)), _emb_rows(range(50, 100))
    sink(spark.createDataFrame(b1, _SCHEMA), 0)
    sink(spark.createDataFrame(b2, _SCHEMA), 1)

    union = spark.createDataFrame(b1 + b2, _SCHEMA)
    queries = union.filter(F.col("vec_id") % 17 == 3)
    got = sorted(
        map(
            tuple,
            ivf_topk_from_index(
                sink.index(spark), queries, cents, k=5
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, ivf_topk(union, queries, centroids=cents, k=5).collect())
    )
    assert got == want and got
