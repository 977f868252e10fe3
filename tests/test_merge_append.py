"""Append, delta or rewrite scoped merges (operators/merge.py::
merge_upsert_scoped).

A bucket where no stored row changes gets one new file holding only the
inserted rows, beside the files already there; a bucket whose stored keys
are updated gets one delta file of its inserted and updated rows, which
reads resolve (the newest file holding a key wins); a bucket losing rows
is rewritten whole, and a bucket already holding ``MAX_BUCKET_FILES``
files is compacted by a rewrite. These tests pin the file layout on both
commit protocols, the size tracker, replay after a partly committed
append or delta, and that the merge works on the stored layout rather
than a declared schema.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
    ManifestTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    MAX_BUCKET_FILES,
    PART_COL,
    maybe_rebucket,
    merge_upsert,
    merge_upsert_scoped,
    part_expr,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.similarity import (
    assign_to_centroids,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
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

from .helpers import ArmedCommit, SecondPutDies, snapshot

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
    """Per-bucket modes inside one merge: a bucket receiving only new keys
    gains one file; a bucket holding an updated key (NULL keys match
    null-safely) gains one delta file, its stored file untouched, and
    reads the updated row. A replace_keys merge then re-sends one key —
    another delta — and drops another outright, which rewrites that
    bucket to one file."""
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
    for b in (upd_bucket, null_bucket, new_bucket):
        assert len(t.data_files(f"{PART_COL}={b}")) == 2
    after = snapshot(t.path)
    data = [p for p in before if p.endswith(".parquet")]
    assert data and all(after.get(p) == before[p] for p in data)
    assert sorted(t.read_meta()["delta_parts"]) == sorted({upd_bucket, null_bucket})
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got["s0"] == 100 and got[new_key] == 7 and got[None] == 5
    assert len(got) == 42 and t.read(spark).count() == 42

    gone = next(
        f"s{i}" for i in range(1, 40) if _bucket(spark, f"s{i}", n) != upd_bucket
    )
    gone_bucket = _bucket(spark, gone, n)
    merge_upsert_scoped(
        spark,
        t,
        spark.createDataFrame([("s0", 1)], _KV),
        ["k"],
        parts=[upd_bucket, gone_bucket],
        replace_keys=spark.createDataFrame([("s0",), (gone,)], "k string"),
    )
    assert len(t.data_files(f"{PART_COL}={gone_bucket}")) == 1
    assert len(t.data_files(f"{PART_COL}={upd_bucket}")) == 3
    assert gone_bucket not in t.read_meta().get("delta_parts", [])
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got["s0"] == 1 and gone not in got and t.read(spark).count() == 41


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


@pytest.mark.parametrize("cls", PROTOCOLS, ids=lambda c: c.__name__)
def test_replay_after_death_between_meta_write_and_delta_publish(
    spark, tmp_path, cls
):
    """A merge of updated keys dies after its metadata landed and before
    its delta files did (ParquetTable: at the first data-file publish;
    ManifestTable: at the manifest PUT after the metadata PUT). The table
    still reads its pre-merge state — a bucket listed as holding a delta
    that never landed reads as it is — and the replayed merge equals a
    copy-on-write merge."""
    commit = ArmedCommit() if cls is ParquetTable else SecondPutDies()
    t = cls(str(tmp_path / "t"), None, [PART_COL], n_buckets=2, commit=commit)
    seed = spark.createDataFrame([(f"k{i}", i) for i in range(20)] + [(None, -1)], _KV)
    merge_upsert_scoped(spark, t, seed, ["k"])
    batch = spark.createDataFrame([("k1", 10), ("k2", 20), ("new", 5), (None, 7)], _KV)
    commit.fail_at = 1
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_upsert_scoped(spark, t, batch, ["k"])
    commit.fail_at = None
    # listed as holding deltas, each bucket still holds only its seed file
    assert t.read_meta()["delta_parts"]
    assert all(len(t.data_files(f"{PART_COL}={p}")) == 1 for p in range(2))
    assert _rows(t.read(spark)) == _rows(seed)
    merge_upsert_scoped(spark, t, batch, ["k"])
    assert _rows(t.read(spark)) == _rows(merge_upsert(seed, batch, ["k"]))
    assert t.read_meta()["delta_parts"]


_EMB = "vec_id long, embedding array<double>"


def _emb(ids):
    return [(i, [float((i * 37 + d * 11) % 19 - 9) / 9.0 for d in range(4)]) for i in ids]


def test_ivf_replay_after_partial_append_commit(spark, tmp_path):
    """ParquetTable: a trigger of new vectors dies after its first appended
    file is published, so some buckets hold the new rows and some do not.
    The replayed trigger finds the published keys stored, writes them to
    those buckets again as a delta, appends to the rest, and the index
    equals the batch oracle."""
    commit = ArmedCommit()
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
    sig_commit = ArmedCommit()
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


def test_replace_keys_broadcast_is_the_callers_choice(spark, tmp_path, monkeypatch):
    """A ``replace_keys`` merge broadcasts its key set only when the caller
    hints it (the streaming sinks: a micro-batch's keys are small).
    ``Pipeline.run_batch`` passes its anomaly keys unhinted — a first load
    or a recovery run stages the whole history, and a forced broadcast
    would ignore Spark's size threshold."""
    t = ParquetTable(str(tmp_path / "t"), None, [PART_COL], n_buckets=4)
    merge_upsert_scoped(
        spark, t, spark.createDataFrame([("a", 1), ("b", 1)], _KV), keys=["k"]
    )
    plans = []
    stage = t.stage_replace_partitions

    def spy(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return stage(df)

    monkeypatch.setattr(t, "stage_replace_partitions", spy)
    src = spark.createDataFrame([("a", 2)], _KV)
    for rk in (src.select("k"), F.broadcast(src.select("k"))):
        merge_upsert_scoped(spark, t, src, keys=["k"], replace_keys=rk)
    assert "strategy=broadcast" not in plans[0]
    assert "strategy=broadcast" in plans[1]
    assert _rows(t.read(spark)) == _rows(
        spark.createDataFrame([("a", 2), ("b", 1)], _KV)
    )


@pytest.mark.parametrize("cls", PROTOCOLS, ids=lambda c: c.__name__)
def test_replace_keys_merge_that_removes_every_row_of_a_bucket_empties_it(
    spark, tmp_path, cls
):
    """A ``replace_keys`` merge whose scope drops every stored row of a
    bucket (the source re-sends none of them) writes no file there; the
    bucket must still read empty afterwards, NULL keys included — before,
    its stored rows survived because nothing was staged for it."""
    t = cls(str(tmp_path / "t"), None, [PART_COL], n_buckets=2)
    keys = [None, "a", "b", "c"]
    merge_upsert_scoped(
        spark, t, spark.createDataFrame([(k, 1) for k in keys], _KV), keys=["k"]
    )
    buckets = {
        r.k: r.p
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k", part_expr("k", 2).alias("p"))
        .collect()
    }
    gone = [k for k in keys if buckets[k] == buckets[None]]
    merge_upsert_scoped(
        spark,
        t,
        spark.createDataFrame([], _KV),
        keys=["k"],
        parts=[0, 1],
        replace_keys=spark.createDataFrame([(k,) for k in gone], "k string"),
    )
    want = [(k, 1) for k in keys if k not in gone]
    assert _rows(t.read(spark)) == _rows(spark.createDataFrame(want, _KV))


@pytest.mark.parametrize("cls", PROTOCOLS, ids=lambda c: c.__name__)
def test_replace_keys_scope_the_source_does_not_resend_is_dropped_without_parts(
    spark, tmp_path, cls
):
    """With no caller ``parts``, a ``replace_keys`` merge touches the
    buckets of its scope keys as well as those of its source: a bucket
    whose scoped keys the source does not re-send is emptied, NULL key
    included, while the source's own bucket takes its re-sent key."""
    t = cls(str(tmp_path / "t"), None, [PART_COL], n_buckets=2)
    keys = [None, *"abcdef"]
    merge_upsert_scoped(
        spark, t, spark.createDataFrame([(k, 1) for k in keys], _KV), keys=["k"]
    )
    gone = [k for k in keys if _bucket(spark, k, 2) == _bucket(spark, None, 2)]
    kept = [k for k in keys if k not in gone]
    assert kept  # the source's bucket is the other one
    merge_upsert_scoped(
        spark,
        t,
        spark.createDataFrame([(kept[0], 2)], _KV),
        keys=["k"],
        replace_keys=spark.createDataFrame([(k,) for k in [*gone, kept[0]]], "k string"),
    )
    want = [(kept[0], 2)] + [(k, 1) for k in kept[1:]]
    assert _rows(t.read(spark)) == _rows(spark.createDataFrame(want, _KV))
    assert t.data_files(f"{PART_COL}={_bucket(spark, None, 2)}") == []
