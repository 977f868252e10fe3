"""Bucket-scoped streaming state folds (VERDICT r11 next-step #1).

Every stateful sink folds into a hash-BUCKETED state table
(``partition_by=[merge.PART_COL]``, the only layout the sinks accept) with
bucket-scoped I/O: only the buckets the batch touches are read and
rewritten — the reference's MERGE-touches-matched-rows economics
(sql/05_merge_canonical.sql:6-53) on the streaming path. These tests
prove, per sink:

- every sink constructor refuses an unbucketed table;
- stream == batch: the scoped-fold state equals the batch operator over
  the whole ingested union;
- untouched buckets byte-identical: a trigger leaves every bucket it
  didn't touch with bit-identical files (the test_merge_scoped pattern);
- replay safety: re-invoking with an applied batch_id changes nothing —
  via the per-bucket ledger for the additive folds (exact-dedup dup_cnt,
  importance counts, chunk doc_freq), via keyed/min/max idempotency for
  the rest.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.functions.scalars import (
    md5_long,
)
from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
    cdc_chunk_documents,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.importance import (
    hashed_ngram_features,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.sketches import (
    hll_ndv,
    hll_state,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.similarity import (
    assign_to_centroids,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.scd import (
    scd2_build,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
    exact_dedup,
    minhash_lsh_pairs,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.chunk_freq_stream import (
    CdcChunkSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
    ExactDedupSink,
    MinHashLshDedupSink,
    stream_exact_dedup,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.importance_stream import (
    ImportanceFeatureSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
    MergeSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.ivf_stream import (
    IvfIndexSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.pipeline_stream import (
    FullCanonicalSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.scd2_stream import (
    Scd2Sink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.sketch_stream import (
    HllSink,
)


def _snapshot(path: str) -> dict[str, str]:
    """rel-path -> content hash for every data file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, path)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def _assert_untouched_buckets_identical(
    before: dict[str, str], after: dict[str, str], touched_rel: set[str]
) -> None:
    """Every file NOT under a touched ``txn_part=`` dir is byte-identical."""
    changed = {
        p for p in set(before) | set(after) if before.get(p) != after.get(p)
    }
    assert changed, "the trigger was expected to rewrite something"
    for p in changed:
        bucket = p.split(os.sep, 1)[0]
        assert bucket in touched_rel, (
            f"file {p} changed outside the touched buckets {touched_rel}"
        )


def _bucketed(tmp_path, name, n_buckets=8) -> ParquetTable:
    return ParquetTable(
        str(tmp_path / name), partition_by=[PART_COL], n_buckets=n_buckets
    )


def _touched(table_path: str, before: dict[str, str]) -> set[str]:
    after = _snapshot(table_path)
    return {
        p.split(os.sep, 1)[0]
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }


_SINKS = {
    "exact_dedup": lambda t, b: ExactDedupSink(t, "doc_id", "text"),
    "minhash_sigs": lambda t, b: MinHashLshDedupSink(t, b, "doc_id", "text"),
    "minhash_pairs": lambda t, b: MinHashLshDedupSink(b, t, "doc_id", "text"),
    "cdc_chunks": lambda t, b: CdcChunkSink(t, b),
    "cdc_freq": lambda t, b: CdcChunkSink(b, t),
    "importance": lambda t, b: ImportanceFeatureSink(t),
    "ivf_index": lambda t, b: IvfIndexSink(t, b),
    "hll": lambda t, b: HllSink(t, ["event_type"], "user_id"),
    "merge": lambda t, b: MergeSink(t, keys=["k"]),
    "scd2": lambda t, b: Scd2Sink(t, "user_id", "event_type", "ts", "event_id"),
    "full_canonical": lambda t, b: FullCanonicalSink(t, b, b),
}


@pytest.mark.parametrize("sink", sorted(_SINKS))
def test_sink_constructors_refuse_unbucketed_tables(tmp_path, sink):
    """An unpartitioned (or otherwise partitioned) state table cannot be
    handed to any sink: construction raises, before any trigger runs. The
    sink's other tables are bucketed, so the refusal is about the one
    under test."""
    ok = _bucketed(tmp_path, "ok")
    for bad in (
        ParquetTable(str(tmp_path / "plain")),
        ParquetTable(str(tmp_path / "by_day"), partition_by=["load_date"]),
    ):
        with pytest.raises(ValueError, match="must be hash-bucketed"):
            _SINKS[sink](bad, ok)


DOCS_1 = [(10, "aa bb cc"), (11, "dd ee ff"), (12, "aa bb cc")]
DOCS_2 = [(3, "aa bb cc"), (20, "gg hh ii"), (21, "dd ee ff")]
DOCS_3 = [(30, "jj kk ll")]


def test_exact_dedup_scoped_stream_equals_batch_with_ledger(spark, tmp_path):
    table = _bucketed(tmp_path, "survivors")
    sink = ExactDedupSink(table, "doc_id", "text")
    sink(spark.createDataFrame(DOCS_1, ["doc_id", "text"]), 0)
    before = _snapshot(table.path)
    sink(spark.createDataFrame(DOCS_2, ["doc_id", "text"]), 1)
    touched = _touched(table.path, before)
    _assert_untouched_buckets_identical(before, _snapshot(table.path), touched)

    union = spark.createDataFrame(DOCS_1 + DOCS_2, ["doc_id", "text"])
    want = sorted(
        (r["content_hash"], r["survivor_id"], r["dup_cnt"])
        for r in exact_dedup(union, "doc_id", "text").collect()
    )
    got = sorted(
        (r["content_hash"], r["survivor_id"], r["dup_cnt"])
        for r in sink.survivors(spark).collect()
    )
    assert got == want
    # min-id survivor across batches: doc 3 backfilled below 10/12
    by_sid = {r[1]: r for r in got}
    assert 3 in by_sid and by_sid[3][2] == 3  # aa-bb-cc seen 3x, survivor 3

    # replay protection for the ADDITIVE dup_cnt: re-applying batch 1 is a
    # per-bucket-ledger no-op, bytes included
    state = _snapshot(table.path)
    sink(spark.createDataFrame(DOCS_2, ["doc_id", "text"]), 1)
    sink(spark.createDataFrame(DOCS_1, ["doc_id", "text"]), 0)
    assert _snapshot(table.path) == state


def test_exact_dedup_scoped_via_real_stream(spark, tmp_path):
    """The scoped fold through an actual availableNow drain + restart."""
    src = str(tmp_path / "src")
    for i, rows in enumerate([DOCS_1, DOCS_2]):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(
            1
        ).write.mode("append").parquet(src)
    table = _bucketed(tmp_path, "survivors")
    q = stream_exact_dedup(
        spark,
        src,
        table,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    union = spark.createDataFrame(DOCS_1 + DOCS_2, ["doc_id", "text"])
    want = sorted(
        tuple(r)
        for r in exact_dedup(union, "doc_id", "text").collect()
    )
    sink = ExactDedupSink(table, "doc_id", "text")
    assert sorted(tuple(r) for r in sink.survivors(spark).collect()) == want
    # restart on the same checkpoint with one late file
    spark.createDataFrame(DOCS_3, ["doc_id", "text"]).coalesce(
        1
    ).write.mode("append").parquet(src)
    q2 = stream_exact_dedup(
        spark, src, table, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert q2.awaitTermination(120)
    union = spark.createDataFrame(DOCS_1 + DOCS_2 + DOCS_3, ["doc_id", "text"])
    want = sorted(
        tuple(r) for r in exact_dedup(union, "doc_id", "text").collect()
    )
    assert sorted(tuple(r) for r in sink.survivors(spark).collect()) == want


def test_minhash_scoped_equals_whole_table(spark, tmp_path):
    """Scoped pair state == the batch LSH self-join over the whole
    ingested union; keyed folds make replays no-ops."""
    body = " ".join(f"w{i}" for i in range(40))
    docs_a = [(i, body + f" tail{i}") for i in range(6)]
    docs_b = [(i + 6, body + f" tail{i + 6}") for i in range(4)]
    sig_t = _bucketed(tmp_path, "sigs")
    pairs_t = _bucketed(tmp_path, "pairs")
    sink = MinHashLshDedupSink(
        sig_t, pairs_t, "doc_id", "text", max_bucket_width=None
    )
    sink(spark.createDataFrame(docs_a, ["doc_id", "text"]), 0)
    before = _snapshot(pairs_t.path)
    sink(spark.createDataFrame(docs_b, ["doc_id", "text"]), 1)
    touched = _touched(pairs_t.path, before)
    _assert_untouched_buckets_identical(
        before, _snapshot(pairs_t.path), touched
    )
    # stream == batch self-join over the union
    union = spark.createDataFrame(docs_a + docs_b, ["doc_id", "text"])
    want = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            union,
            "doc_id",
            "text",
            num_hashes=16,
            bands=4,
            min_matching=8,
        ).collect()
    )
    got = sorted(tuple(r) for r in pairs_t.read(spark).collect())
    assert got == want and len(got) > 0
    # keyed folds are replay-idempotent without a ledger
    sink(spark.createDataFrame(docs_b, ["doc_id", "text"]), 1)
    assert sorted(tuple(r) for r in pairs_t.read(spark).collect()) == want


def test_importance_scoped_matches_whole_table_and_replays(spark, tmp_path):
    """Scoped feature counts == the batch count table over the whole
    ingested union; replays are per-bucket-ledger no-ops."""
    docs_a = [(1, "aa bb cc dd"), (2, "bb cc dd ee")]
    docs_b = [(3, "cc dd ee ff"), (4, "zz yy xx ww")]
    buck_t = _bucketed(tmp_path, "bucketed")
    buck = ImportanceFeatureSink(buck_t, hash_bits=8)
    buck(spark.createDataFrame(docs_a, ["doc_id", "text"]), 0)
    before = _snapshot(buck_t.path)
    buck(spark.createDataFrame(docs_b, ["doc_id", "text"]), 1)
    touched = _touched(buck_t.path, before)
    _assert_untouched_buckets_identical(before, _snapshot(buck_t.path), touched)

    union = spark.createDataFrame(docs_a + docs_b, ["doc_id", "text"])
    want = sorted(
        tuple(r)
        for r in hashed_ngram_features(union, "doc_id", "text", hash_bits=8)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )
    got = sorted(tuple(r) for r in buck.feature_table(spark).collect())
    assert got == want and len(got) > 0

    # additive fold + per-bucket ledger: replays change nothing, bytes included
    state = _snapshot(buck_t.path)
    buck(spark.createDataFrame(docs_b, ["doc_id", "text"]), 1)
    buck(spark.createDataFrame(docs_a, ["doc_id", "text"]), 0)
    assert _snapshot(buck_t.path) == state


_BOILER = " ".join(f"boiler{i}" for i in range(60))
CH_1 = [(1, _BOILER + " " + " ".join(f"alpha{i}" for i in range(40)))]
CH_2 = [(2, _BOILER), (3, " ".join(f"beta{i}" for i in range(50)))]


def _chunk_state(spark, rows):
    """Batch twin of CdcChunkSink's two tables over ``rows``: the sorted
    chunk rows and (chunk_hash, doc_freq) rows."""
    chunks = cdc_chunk_documents(
        spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text",
        divisor=8,
    ).withColumn("chunk_hash", md5_long(F.lower(F.col("chunk_text"))))
    freq = (
        chunks.select("chunk_hash", "doc_id")
        .distinct()
        .groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )
    return {"chunks": _chunk_rows(chunks), "freq": _freq_rows(freq)}


def _chunk_rows(df):
    return sorted(
        tuple(r[c] for c in ("doc_id", "chunk_idx", "chunk_text", "n_tokens", "chunk_hash"))
        for r in df.collect()
    )


def _freq_rows(df):
    return sorted((r["chunk_hash"], r["doc_freq"]) for r in df.collect())


def test_chunkfreq_scoped_matches_whole_table_and_replays(spark, tmp_path):
    """Both maintained tables == the batch rechunk and frequency count over
    the whole ingested union, before and after replays; the additive freq
    fold is a byte-level no-op under replay."""
    buck = CdcChunkSink(
        _bucketed(tmp_path, "bc"), _bucketed(tmp_path, "bf")
    )
    buck(spark.createDataFrame(CH_1, ["doc_id", "text"]), 0)
    before = _snapshot(buck.freq_table.path)
    buck(spark.createDataFrame(CH_2, ["doc_id", "text"]), 1)
    touched = _touched(buck.freq_table.path, before)
    _assert_untouched_buckets_identical(
        before, _snapshot(buck.freq_table.path), touched
    )
    want = _chunk_state(spark, CH_1 + CH_2)
    got = {
        "chunks": _chunk_rows(buck.chunks(spark)),
        "freq": _freq_rows(buck.freq(spark)),
    }
    for get in ("chunks", "freq"):
        assert got[get] == want[get] and len(got[get]) > 0, get

    state_f = _snapshot(buck.freq_table.path)
    buck(spark.createDataFrame(CH_2, ["doc_id", "text"]), 1)  # replay
    buck(spark.createDataFrame(CH_1, ["doc_id", "text"]), 0)  # stale replay
    assert _snapshot(buck.freq_table.path) == state_f
    # the chunk re-merge is a semantic no-op (keyed, same values)
    assert _chunk_rows(buck.chunks(spark)) == want["chunks"]


def test_chunkfreq_reingest_guard_fails_loudly(spark, tmp_path):
    """ADVICE r11: a document re-ingested under the same id in a LATER
    batch must raise, not silently corrupt the additive doc_freq state.
    Replays of the SAME batch stay benign."""
    sink = CdcChunkSink(_bucketed(tmp_path, "gbc"), _bucketed(tmp_path, "gbf"))
    sink(spark.createDataFrame(CH_1, ["doc_id", "text"]), 0)
    plans = []
    stage = sink.chunks_table.stage_replace_partitions

    def capture(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return stage(df)

    sink.chunks_table.stage_replace_partitions = capture
    with pytest.raises(ValueError, match="already ingested"):
        sink(
            spark.createDataFrame([(1, "revised text body")], ["doc_id", "text"]),
            1,
        )
    # the guard lives in the staged chunk write's own plan: column pruning
    # kept the guarded src_batch_id expression
    assert len(plans) == 1
    guarded = [
        ln for ln in plans[0].splitlines()
        if "raise_error" in ln and "CDC_REINGEST:" in ln
    ]
    assert guarded and all("AS src_batch_id#" in ln for ln in guarded), plans[0]


def test_hll_scoped_matches_whole_table(spark, tmp_path):
    """Scoped registers == batch hll_state over the whole ingested union,
    and the estimate read off them == the batch one-call estimate; the
    max fold is replay-idempotent."""
    ev_a = [(f"t{i % 3}", i) for i in range(200)]
    ev_b = [(f"t{i % 3}", i + 150) for i in range(200)]
    buck_t = _bucketed(tmp_path, "hb")
    buck = HllSink(buck_t, ["event_type"], "user_id", b=6)
    buck(spark.createDataFrame(ev_a, ["event_type", "user_id"]), 0)
    before = _snapshot(buck_t.path)
    buck(spark.createDataFrame(ev_b, ["event_type", "user_id"]), 1)
    touched = _touched(buck_t.path, before)
    _assert_untouched_buckets_identical(before, _snapshot(buck_t.path), touched)
    union = spark.createDataFrame(ev_a + ev_b, ["event_type", "user_id"])
    want = sorted(
        tuple(r) for r in hll_ndv(union, ["event_type"], "user_id", 6).collect()
    )
    got = sorted(tuple(r) for r in buck.estimate(spark).collect())
    assert got == want
    want_regs = sorted(
        tuple(r) for r in hll_state(union, ["event_type"], "user_id", 6).collect()
    )
    buck(spark.createDataFrame(ev_b, ["event_type", "user_id"]), 1)  # replay
    assert sorted(tuple(r) for r in buck_t.read(spark).collect()) == want_regs


def test_scd2_scoped_matches_batch_build(spark, tmp_path):
    ev_a = [(1, "a", "2024-01-01 00:00:00", 1), (1, "b", "2024-01-02 00:00:00", 2),
            (2, "a", "2024-01-01 12:00:00", 3)]
    ev_b = [(1, "a", "2024-01-03 00:00:00", 4), (3, "c", "2024-01-01 00:00:00", 5)]

    def _df(rows):
        return spark.createDataFrame(
            rows, ["user_id", "event_type", "ts", "event_id"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    table = _bucketed(tmp_path, "scd2")
    sink = Scd2Sink(table, "user_id", "event_type", "ts", "event_id")
    sink(_df(ev_a), 0)
    before = _snapshot(table.path)
    sink(_df(ev_b), 1)
    touched = _touched(table.path, before)
    _assert_untouched_buckets_identical(before, _snapshot(table.path), touched)

    want = sorted(
        tuple(r)
        for r in scd2_build(
            _df(ev_a + ev_b), "user_id", "event_type", "ts", "event_id"
        ).collect()
    )
    got = sorted(tuple(r) for r in sink.versions(spark).collect())
    assert got == want and len(got) >= 4
    # replay: keyed re-collapse is idempotent
    sink(_df(ev_b), 1)
    assert sorted(tuple(r) for r in sink.versions(spark).collect()) == want
    # scoped rebuild keeps the bucket layout working for the next fold
    sink.rebuild(_df(ev_a + ev_b))
    assert sorted(tuple(r) for r in sink.versions(spark).collect()) == want
    sink(_df([(2, "d", "2024-02-01 00:00:00", 9)]), 2)
    want2 = sorted(
        tuple(r)
        for r in scd2_build(
            _df(ev_a + ev_b + [(2, "d", "2024-02-01 00:00:00", 9)]),
            "user_id", "event_type", "ts", "event_id",
        ).collect()
    )
    assert sorted(tuple(r) for r in sink.versions(spark).collect()) == want2


def test_ivf_scoped_matches_batch_assignment(spark, tmp_path):
    import random

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    cents_t = ParquetTable(str(tmp_path / "cents"))
    cents_t.overwrite_atomic(
        spark.createDataFrame(vecs[:4], ["vec_id", "embedding"])
    )
    index_t = _bucketed(tmp_path, "index")
    sink = IvfIndexSink(index_t, cents_t)
    sink(spark.createDataFrame(vecs[:25], ["vec_id", "embedding"]), 0)
    before = _snapshot(index_t.path)
    sink(spark.createDataFrame(vecs[25:], ["vec_id", "embedding"]), 1)
    touched = _touched(index_t.path, before)
    _assert_untouched_buckets_identical(before, _snapshot(index_t.path), touched)

    want = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in assign_to_centroids(
            spark.createDataFrame(vecs, ["vec_id", "embedding"]),
            cents_t.read(spark),
            id_col="vec_id",
            vec_col="embedding",
        ).collect()
    )
    got = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sink.index(spark).collect()
    )
    assert got == want
    # re-ingest updates in place (keyed upsert), replay is idempotent
    sink(spark.createDataFrame(vecs[25:], ["vec_id", "embedding"]), 1)
    assert (
        sorted(
            (r["vec_id"], r["centroid_id"]) for r in sink.index(spark).collect()
        )
        == want
    )
