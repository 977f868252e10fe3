"""Streaming incremental MinHash-LSH dedup == full batch self-join over
everything ingested (streaming/dedup_stream.py MinHashLshDedupSink),
across micro-batches and a checkpoint restart."""

from __future__ import annotations

from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
    minhash_lsh_pairs,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
    stream_minhash_dedup,
)

from .helpers import bucketed_table

_BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark shuffles partition data across the cluster for wide joins",
    "training corpora need dedup quality filtering and decontamination",
]
# batch 1: originals; batch 2: near-dups of 0 and 1; batch 3: near-dup of 2
# plus a fresh unique doc -> pairs span batches in both directions
_BATCHES = [
    [(1, _BASE[0]), (2, _BASE[1]), (3, _BASE[2])],
    [(11, _BASE[0] + " zz yy"), (12, _BASE[1] + " zz yy")],
    [(21, _BASE[2] + " zz yy"), (22, "totally unrelated single sentence here")],
]


def _rows(df):
    return sorted(
        (r["id_a"], r["id_b"], r["matching_minhashes"]) for r in df.collect()
    )


def test_stream_minhash_pairs_match_full_selfjoin(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    sig_t = bucketed_table(tmp_path, "sigs")
    pair_t = bucketed_table(tmp_path, "pairs")
    ckpt = str(tmp_path / "ckpt")

    for rows in _BATCHES[:2]:
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    q = stream_minhash_dedup(
        spark, src, sig_t, pair_t, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(180)

    union = spark.createDataFrame(
        _BATCHES[0] + _BATCHES[1], ["doc_id", "text"]
    )
    expected = minhash_lsh_pairs(union, "doc_id", "text")
    got = _rows(pair_t.read(spark))
    assert got == _rows(expected)
    assert len(got) >= 2  # the cross-batch near-dups actually collide

    # late batch + restart from the checkpoint: only batch 3 folds in
    spark.createDataFrame(_BATCHES[2], ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_minhash_dedup(
        spark, src, sig_t, pair_t, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(180)
    union = spark.createDataFrame(
        _BATCHES[0] + _BATCHES[1] + _BATCHES[2], ["doc_id", "text"]
    )
    assert _rows(pair_t.read(spark)) == _rows(
        minhash_lsh_pairs(union, "doc_id", "text")
    )
    # signature table covers every ingested doc exactly once
    assert pair_t.read(spark).count() >= 3
    assert sig_t.read(spark).count() == 7
