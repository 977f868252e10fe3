"""Append-or-rewrite scoped merges (operators/merge.py::merge_upsert_scoped).

A bucket where no stored row changes gets one new file holding only the
inserted rows, beside the files already there; every other bucket is
rewritten whole, and a bucket already holding ``MAX_BUCKET_FILES`` files
is compacted by a rewrite. These tests pin the file layout on both commit
protocols, the size tracker, replay after a partly committed append, and
that the merge works on the stored layout rather than a declared schema.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
    ManifestTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    MAX_BUCKET_FILES,
    PART_COL,
    maybe_rebucket,
    merge_upsert_scoped,
    part_expr,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.similarity import (
    assign_to_centroids,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    LocalFileCommit,
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
    MinHashLshDedupSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.ivf_stream import (
    IvfIndexSink,
)

from .helpers import snapshot

_KV = "k string, v long"
PROTOCOLS = [ParquetTable, ManifestTable]


def _rows(df):
    return sorted(map(repr, map(tuple, df.collect())))


def _bucket(spark, key: str | None, n: int) -> int:
    return (
        spark.createDataFrame([(key,)], "k string")
        .select(part_expr("k", n))
        .first()[0]
    )


@pytest.mark.parametrize("cls", PROTOCOLS, ids=lambda c: c.__name__)
def test_insert_only_merges_append_until_the_file_bound(spark, tmp_path, cls):
    """Nine insert-only merges into one bucket: the first seven append one
    file each and leave every stored file untouched; the bucket then holds
    MAX_BUCKET_FILES files, so the next two rewrite it. The size tracker
    follows the live bytes throughout."""
    t = cls(str(tmp_path / "t"), None, [PART_COL], n_buckets=1)
    merge_upsert_scoped(spark, t, spark.createDataFrame([("k0", 0)], _KV), ["k"])
    maybe_rebucket(spark, t)  # initializes the total_bytes tracker
    rel = f"{PART_COL}=0"
    counts = []
    for i in range(1, 10):
        before = snapshot(t.path)
        merge_upsert_scoped(
            spark, t, spark.createDataFrame([(f"k{i}", i)], _KV), ["k"]
        )
        after = snapshot(t.path)
        counts.append(len(t.data_files(rel)))
        if counts[-1] > 1:
            # appended: every stored file is byte-identical, one file is new
            assert all(after.get(p) == h for p, h in before.items())
            assert len(after) == len(before) + 1
        assert t.read_meta()["total_bytes"] == t.data_bytes()
        assert sorted(r.k for r in t.read(spark).collect()) == sorted(
            f"k{j}" for j in range(i + 1)
        )
    assert counts == [2, 3, 4, 5, 6, 7, MAX_BUCKET_FILES, 1, 2]
    assert max(counts) <= MAX_BUCKET_FILES


@pytest.mark.parametrize("cls", PROTOCOLS, ids=lambda c: c.__name__)
def test_one_merge_appends_to_some_buckets_and_rewrites_others(
    spark, tmp_path, cls
):
    """Per-bucket modes inside one merge: the bucket holding an updated key
    is rewritten to one file; a bucket receiving only new keys keeps its
    stored file and gains one; NULL keys match null-safely."""
    n = 4
    t = cls(str(tmp_path / "t"), None, [PART_COL], n_buckets=n)
    seed = [(f"s{i}", i) for i in range(40)] + [(None, -1)]
    merge_upsert_scoped(spark, t, spark.createDataFrame(seed, _KV), ["k"])
    upd_bucket = _bucket(spark, "s0", n)
    null_bucket = _bucket(spark, None, n)
    fresh = [f"n{i}" for i in range(200)]
    new_key = next(
        k for k in fresh if _bucket(spark, k, n) not in (upd_bucket, null_bucket)
    )
    new_bucket = _bucket(spark, new_key, n)
    before = snapshot(t.path)
    src = spark.createDataFrame([("s0", 100), (new_key, 7), (None, 5)], _KV)
    touched = merge_upsert_scoped(spark, t, src, ["k"])
    assert f"{PART_COL}={new_bucket}" in touched
    assert len(t.data_files(f"{PART_COL}={upd_bucket}")) == 1
    assert len(t.data_files(f"{PART_COL}={null_bucket}")) == 1
    assert len(t.data_files(f"{PART_COL}={new_bucket}")) == 2
    after = snapshot(t.path)
    kept = [p for p in before if f"{PART_COL}={new_bucket}" in p]
    assert kept and all(after.get(p) == before[p] for p in kept)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got["s0"] == 100 and got[new_key] == 7 and got[None] == 5
    assert len(got) == 42 and t.read(spark).count() == 42


def test_scoped_merge_uses_stored_layout_not_narrower_declaration(
    spark, tmp_path
):
    """A table declared narrower than its files: the merge reads and writes
    the files' own columns. Before, a source as wide as the files failed
    the aligned-schema assertion, and a source as narrow as the
    declaration silently dropped the undeclared column from the rewritten
    buckets; now the former merges and the latter fails loudly."""
    wide = "k string, v long, extra string"
    t = ParquetTable(str(tmp_path / "t"), None, [PART_COL], n_buckets=4)
    merge_upsert_scoped(
        spark, t, spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], wide), ["k"]
    )
    t.schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    merge_upsert_scoped(
        spark,
        t,
        spark.createDataFrame([("a", 10, "x2"), ("c", 3, "z")], wide),
        ["k"],
    )
    assert _rows(t.scan(spark).drop(PART_COL)) == _rows(
        spark.createDataFrame(
            [("a", 10, "x2"), ("b", 2, "y"), ("c", 3, "z")], wide
        )
    )
    for root, _d, files in os.walk(t.path):
        for f in files:
            if f.endswith(".parquet"):
                cols = spark.read.parquet(os.path.join(root, f)).columns
                assert cols == ["k", "v", "extra"], (f, cols)
    with pytest.raises(AssertionError, match="aligned schemas"):
        merge_upsert_scoped(
            spark, t, spark.createDataFrame([("b", 5)], _KV), ["k"]
        )


class _ArmedCommit(LocalFileCommit):
    """Local commit that raises once armed: on the ``fail_at``-th data file
    it publishes (a crash part-way through an append), or on any
    ``publish_file`` when ``fail_at`` is 0."""

    def __init__(self):
        self.fail_at = None
        self.published = 0

    def publish_file(self, src: str, dst: str) -> None:
        if self.fail_at is not None:
            if self.fail_at == 0:
                raise RuntimeError("simulated crash in the commit")
            if dst.endswith(".parquet"):
                self.published += 1
                if self.published == self.fail_at:
                    raise RuntimeError("simulated crash mid-append")
        super().publish_file(src, dst)


_EMB = "vec_id long, embedding array<double>"


def _emb(ids):
    return [(i, [float((i * 37 + d * 11) % 19 - 9) / 9.0 for d in range(4)]) for i in ids]


def test_ivf_replay_after_partial_append_commit(spark, tmp_path):
    """ParquetTable: a trigger of new vectors dies after its first appended
    file is published, so some buckets hold the new rows and some do not.
    The replayed trigger finds the published keys stored, rewrites those
    buckets, appends to the rest, and the index equals the batch oracle."""
    commit = _ArmedCommit()
    index_t = ParquetTable(
        str(tmp_path / "index"), partition_by=[PART_COL], n_buckets=4,
        commit=commit,
    )
    cents_t = ParquetTable(str(tmp_path / "cents"))
    cents = spark.createDataFrame(_emb(range(4)), _EMB)
    cents_t.overwrite_atomic(cents)
    sink = IvfIndexSink(index_t, cents_t)
    sink(spark.createDataFrame(_emb(range(40)), _EMB), 0)
    b1 = spark.createDataFrame(_emb(range(40, 80)), _EMB)
    commit.fail_at = 2
    with pytest.raises(RuntimeError, match="mid-append"):
        sink(b1, 1)
    partial = index_t.read(spark).count()
    assert 40 < partial < 80  # some, not all, of the trigger landed
    commit.fail_at = None
    sink(b1, 1)
    union = spark.createDataFrame(_emb(range(80)), _EMB)
    want = assign_to_centroids(union, cents).join(union, "vec_id").select(
        "vec_id", "centroid_id", "embedding"
    )
    assert _rows(sink.index(spark)) == _rows(want)


_DOCS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark shuffles partition data across the cluster for wide joins",
    "training corpora need dedup quality filtering and decontamination",
]
_DOC_BATCHES = [
    [(1, _DOCS[0]), (2, _DOCS[1]), (3, _DOCS[2]), (4, _DOCS[2] + " xx")],
    [(11, _DOCS[0] + " zz yy"), (12, _DOCS[1] + " zz yy"), (13, "a lone doc")],
]


def test_minhash_replay_after_partial_append_commit_on_manifest(spark, tmp_path):
    """ManifestTable: a trigger of new documents commits its pair append
    (one manifest PUT) and dies before the signature commit. The replayed
    trigger re-derives the same pairs against the pre-trigger corpus and
    both tables equal the batch oracle."""
    sig_commit = _ArmedCommit()
    sig_t = ManifestTable(
        str(tmp_path / "sigs"), partition_by=[PART_COL], n_buckets=4,
        commit=sig_commit,
    )
    # one pair bucket: the stored pair and the trigger's new pairs share it
    pair_t = ManifestTable(
        str(tmp_path / "pairs"), partition_by=[PART_COL], n_buckets=1
    )
    sink = MinHashLshDedupSink(sig_t, pair_t, "doc_id", "text")
    sink(spark.createDataFrame(_DOC_BATCHES[0], "doc_id long, text string"), 0)
    pairs_before = pair_t._load_manifest()["parts"]
    b1 = spark.createDataFrame(_DOC_BATCHES[1], "doc_id long, text string")
    sig_commit.fail_at = 0
    with pytest.raises(RuntimeError, match="in the commit"):
        sink(b1, 1)
    # the pair commit landed as an appended generation beside the stored one
    pairs_mid = pair_t._load_manifest()["parts"]
    rel = f"{PART_COL}=0"
    assert len(pairs_before[rel]) == 1
    assert pairs_mid[rel][:1] == pairs_before[rel] and len(pairs_mid[rel]) == 2
    assert sig_t.read(spark).count() == 4
    sig_commit.fail_at = None
    sink(b1, 1)
    union = spark.createDataFrame(
        _DOC_BATCHES[0] + _DOC_BATCHES[1], "doc_id long, text string"
    )
    assert _rows(pair_t.read(spark)) == _rows(
        minhash_lsh_pairs(union, "doc_id", "text").select(
            *pair_t.read(spark).columns
        )
    )
    assert _rows(sig_t.read(spark)) == _rows(
        minhash_signatures(union, "doc_id", "text").select(
            *sig_t.read(spark).columns
        )
    )
