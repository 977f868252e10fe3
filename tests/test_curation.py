"""Round-5 curation operators: repetition signals, decontamination,
sequence packing, source mixture — value invariants + plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

entrymod.queries()  # populate the registry

from financial_data_ingestion_canonical_snowflake_spark.functions import text as tx
from financial_data_ingestion_canonical_snowflake_spark.operators.decontaminate import (
    contamination_report,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.packing import (
    assign_sequences,
    pack_summary,
)
from financial_data_ingestion_canonical_snowflake_spark.plans.registry import (
    ALL_QUERIES,
    SYNTH_ID_OFFSET,
    table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- repetition


def test_repetition_stats_known_values(spark):
    rows = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "u v w x y z"),          # all distinct
            (3, "solo"),                 # too short for 2-grams
        ],
        "id long, text string",
    )
    s = tx.ngram_repetition_stats(F.col("text"), 2)
    got = {
        r["id"]: r
        for r in rows.select(
            "id",
            s["n_ngrams"].alias("n"),
            s["dup_frac"].alias("dup"),
            s["top_frac"].alias("top"),
        ).collect()
    }
    assert got[1]["n"] == 5 and got[1]["dup"] == pytest.approx(3 / 5)
    assert got[1]["top"] == pytest.approx(3 / 5)  # 'a b' occurs 3x of 5
    assert got[2]["dup"] == 0.0 and got[2]["top"] == pytest.approx(1 / 5)
    assert got[3]["n"] == 0 and got[3]["dup"] == 0.0 and got[3]["top"] == 0.0


def test_repetition_query_zero_shuffle(spark, sf_oracle):
    plan = _plan(ALL_QUERIES["ns_repetition_signals"](spark, sf_oracle))
    assert "Exchange" not in plan


# ------------------------------------------------------------ decontaminate


def test_contamination_extremes(spark):
    bench = spark.createDataFrame(
        [(100, "one two three four five six seven")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "one two three four five six seven"),   # verbatim -> rate 1.0
            (2, "alpha beta gamma delta epsilon zeta"), # disjoint -> rate 0.0
            (3, "tiny doc"),                            # no 5-grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in contamination_report(
            train, bench, "doc_id", "text", ngram_len=5
        ).collect()
    }
    assert got[1]["contamination_rate"] == 1.0 and got[1]["is_contaminated"]
    assert got[2]["n_contaminated"] == 0 and not got[2]["is_contaminated"]
    assert got[3]["n_grams"] == 0 and got[3]["contamination_rate"] == 0.0


def test_decontaminate_query_broadcasts_bench(spark, sf_oracle):
    df = ALL_QUERIES["ns_decontaminate"](spark, sf_oracle)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # full-copy synthetic docs (id >= 200000, < 300000) are fully contaminated
    full = df.filter(
        (F.col("doc_id") >= 200000) & (F.col("doc_id") < 300000)
    ).collect()
    assert full and all(r["contamination_rate"] == 1.0 for r in full)
    # partial-prefix docs are contaminated but not fully
    part = df.filter(F.col("doc_id") >= 300000).collect()
    assert part and all(
        r["is_contaminated"] and r["contamination_rate"] < 1.0 for r in part
    )


# ----------------------------------------------------------------- packing


def test_packing_invariants(spark, sf_oracle):
    docs = table(spark, sf_oracle, "documents").select(
        "doc_id", tx.bpe_ish_token_count(F.col("text")).alias("tokens")
    )
    assigned = assign_sequences(
        docs, "doc_id", "tokens", budget=512, num_shards=4
    ).cache()
    try:
        # every doc lands in exactly one (shard, seq); totals preserved
        assert assigned.count() == docs.count()
        total = docs.agg(F.sum("tokens")).first()[0]
        packed = assigned.agg(F.sum("tokens")).first()[0]
        assert packed == total
        # offsets are the exclusive prefix sum: offset == sum of earlier docs
        w_check = assigned.withColumn(
            "recomputed",
            F.coalesce(
                F.sum("tokens").over(
                    __import__("pyspark").sql.window.Window.partitionBy("shard")
                    .orderBy("doc_id")
                    .rowsBetween(-(1 << 30), -1)
                ),
                F.lit(0),
            ),
        )
        assert w_check.filter(F.col("recomputed") != F.col("token_offset")).count() == 0
        # seq ids within a shard are non-decreasing in doc order and start at 0
        firsts = assigned.groupBy("shard").agg(F.min("seq_id").alias("m")).collect()
        assert all(r["m"] == 0 for r in firsts)
    finally:
        assigned.unpersist()


def test_packing_single_shuffle(spark, sf_oracle):
    docs = table(spark, sf_oracle, "documents").select(
        "doc_id", tx.bpe_ish_token_count(F.col("text")).alias("tokens")
    )
    plan = _plan(
        pack_summary(docs, "doc_id", "tokens", budget=512, num_shards=4)
    )
    # window partitionBy(shard) satisfies the (shard, seq_id) rollup's
    # clustering -> exactly one exchange end-to-end
    assert plan.count("Exchange") == 1


# ------------------------------------------------------ incremental dedup


def test_incremental_lsh_equals_full_corpus_restricted(spark, sf_oracle):
    """pairs(old) + incremental(new vs old) == pairs(old + new): batch-wise
    dedup against a persisted signature table reproduces exactly the full
    self-join's pair set."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        minhash_lsh_pairs_from_sigs,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    docs = table(spark, sf_oracle, "documents").select("doc_id", "text")
    # synthetic near-dups across the old/new split so the incremental join
    # has real cross-batch matches
    dups = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + SYNTH_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
    )
    corpus = docs.unionByName(dups)
    old = corpus.filter(F.col("doc_id") % 2 == 0)
    new = corpus.filter(F.col("doc_id") % 2 == 1)

    old_sigs = minhash_signatures(old, "doc_id", "text").persist()
    new_sigs = minhash_signatures(new, "doc_id", "text").persist()

    def pairset(df):
        return {(r["id_a"], r["id_b"], r["matching_minhashes"]) for r in df.collect()}

    full = pairset(
        minhash_lsh_pairs_from_sigs(old_sigs.unionByName(new_sigs).persist())
    )
    known = pairset(minhash_lsh_pairs_from_sigs(old_sigs))
    incr = pairset(minhash_lsh_pairs_incremental(new_sigs, old_sigs))
    assert known | incr == full
    assert known.isdisjoint(incr)  # incremental emits only new-involving pairs
    assert incr  # the split actually produced cross-batch matches


# ------------------------------------------------------------------ export


def test_export_shards_layout_and_manifest(spark, sf_oracle, tmp_path):
    import glob

    from financial_data_ingestion_canonical_snowflake_spark.operators.export import (
        export_shards,
    )

    docs = table(spark, sf_oracle, "documents").select(
        "doc_id", tx.bpe_ish_token_count(F.col("text")).alias("tokens")
    )
    out = str(tmp_path / "shards")
    manifest = export_shards(
        docs, "doc_id", "tokens", out, budget=512, num_shards=4
    ).collect()

    # one data file per shard, addressable by partition directory
    assert len(manifest) == 4
    for s in range(4):
        files = glob.glob(f"{out}/shard={s}/*.parquet")
        assert len(files) == 1, f"shard {s}: {files}"

    # manifest totals preserve the corpus
    assert sum(r["n_docs"] for r in manifest) == docs.count()
    assert (
        sum(r["n_tokens"] for r in manifest)
        == docs.agg(F.sum("tokens")).first()[0]
    )

    # on-disk row order within each shard file is packing order (ascending
    # doc_id), so a loader streaming the file replays the logical stream
    back = spark.read.parquet(out)
    for s in range(4):
        ids = [
            r["doc_id"]
            for r in back.filter(F.col("shard") == s)
            .select("doc_id")
            .collect()
        ]
        assert ids == sorted(ids)

    # assignments on disk match the deterministic packer
    from financial_data_ingestion_canonical_snowflake_spark.operators.packing import (
        assign_sequences,
    )

    expect = {
        (r["doc_id"], r["shard"], r["seq_id"])
        for r in assign_sequences(
            docs, "doc_id", "tokens", budget=512, num_shards=4
        ).collect()
    }
    got = {
        (r["doc_id"], r["shard"], r["seq_id"])
        for r in back.select("doc_id", "shard", "seq_id").collect()
    }
    assert got == expect


def test_export_shards_jsonl_roundtrip(spark, sf_oracle, tmp_path):
    import glob
    import json

    from financial_data_ingestion_canonical_snowflake_spark.operators.export import (
        export_shards_jsonl,
    )

    docs = table(spark, sf_oracle, "documents").select(
        "doc_id", "text", tx.bpe_ish_token_count(F.col("text")).alias("tokens")
    )
    out = str(tmp_path / "jsonl")
    manifest = export_shards_jsonl(
        docs, "doc_id", "tokens", "text", out, budget=512, num_shards=4
    ).collect()
    assert len(manifest) == 4
    assert sum(r["n_docs"] for r in manifest) == docs.count()
    assert all(r["bad_lines"] == 0 for r in manifest)

    # one JSONL file per shard; lines parse and are in packing order
    seen = {}
    for s in range(4):
        files = [
            f for f in glob.glob(f"{out}/shard={s}/*")
            if not f.endswith((".crc", "_SUCCESS"))
        ]
        assert len(files) == 1, f"shard {s}: {files}"
        with open(files[0]) as fh:
            rows = [json.loads(line) for line in fh]
        ids = [r["doc_id"] for r in rows]
        assert ids == sorted(ids)
        for r in rows:
            seen[r["doc_id"]] = r["text"]

    # round-trip content equality, doc for doc
    src = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    assert seen == src


# ------------------------------------------------------- property (hypothesis)

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_H = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
_word = st.sampled_from(["a", "b", "c", "dd", "ee"])
_doc = st.lists(_word, min_size=0, max_size=14).map(" ".join)


@_H
@given(docs=st.lists(_doc, min_size=1, max_size=8), n=st.integers(2, 3))
def test_repetition_fold_matches_python_reference(spark, docs, n):
    """The sorted-run fold computes exactly the naive Counter stats."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "id long, text string"
    )
    s = tx.ngram_repetition_stats(F.col("text"), n)
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            s["n_ngrams"].alias("t"),
            s["dup_frac"].alias("d"),
            s["top_frac"].alias("p"),
        ).collect()
    }
    for i, doc in enumerate(docs):
        toks = doc.split(" ")  # '' splits to [''] — same as Spark split
        grams = [
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        ] if len(toks) >= n else []
        c = Counter(grams)
        total = len(grams)
        assert got[i]["t"] == total
        if total == 0:
            assert got[i]["d"] == 0.0 and got[i]["p"] == 0.0
        else:
            assert got[i]["d"] == pytest.approx((total - len(c)) / total)
            assert got[i]["p"] == pytest.approx(max(c.values()) / total)


@_H
@given(
    train=st.lists(_doc, min_size=1, max_size=6),
    bench=st.lists(_doc, min_size=1, max_size=3),
    n=st.integers(2, 3),
)
def test_contamination_matches_python_sets(spark, train, bench, n):
    tdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in contamination_report(
            tdf, bdf, "doc_id", "text", ngram_len=n
        ).collect()
    }

    def gramset(doc):
        toks = doc.split(" ")
        if len(toks) < n:
            return set()
        return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}

    bset = set().union(*[gramset(b) for b in bench])
    assert set(got) == set(range(len(train)))
    for i, doc in enumerate(train):
        g = gramset(doc)
        assert got[i]["n_grams"] == len(g)
        assert got[i]["n_contaminated"] == len(g & bset)
        assert got[i]["is_contaminated"] == (len(g & bset) > 0)


@_H
@given(
    tokens=st.lists(st.integers(1, 40), min_size=1, max_size=30),
    budget=st.integers(8, 64),
    shards=st.integers(1, 4),
)
def test_packing_matches_python_reference(spark, tokens, budget, shards):
    """Sequence ids reproduce the greedy stream layout per shard, for any
    shard count — sequence boundaries never depend on cluster layout."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, tokens long"
    )
    got = {
        r["doc_id"]: (r["shard"], r["seq_id"])
        for r in assign_sequences(
            df, "doc_id", "tokens", budget=budget, num_shards=shards
        ).collect()
    }
    import hashlib

    def shard_of(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % shards

    offsets = Counter()
    for i, t in enumerate(tokens):  # ascending doc_id = canonical order
        s = shard_of(i)
        assert got[i] == (s, offsets[s] // budget)
        offsets[s] += t


# ----------------------------------------------------------------- mixture


def test_source_mixture_is_a_distribution(spark, sf_oracle):
    rows = ALL_QUERIES["ns_source_mixture"](spark, sf_oracle).collect()
    assert rows
    assert sum(r["token_share"] for r in rows) == pytest.approx(1.0)
    assert sum(r["sample_prob"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    # temperature 0.5 flattens: low-share sources get epochs > 1, high < 1
    lo = min(rows, key=lambda r: r["token_share"])
    hi = max(rows, key=lambda r: r["token_share"])
    if lo["token_share"] < hi["token_share"]:
        assert lo["epochs"] > hi["epochs"]


# ------------------------------------------------- LSH bucket-width cap


def _boilerplate_corpus(spark, n=10_000):
    """n near-identical docs: every band bucket has width ~n — the
    degenerate web-scale boilerplate case the cap exists for."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("terms of service apply to all users of this site always").alias(
            "text"
        ),
    )


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """10k identical docs x uncapped LSH = 50M pairs on one shuffle
    partition; with the cap the mega-buckets drop and the job completes
    with zero candidate pairs (exact_dedup is the sanctioned pre-pass for
    verbatim copies)."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        minhash_lsh_pairs,
    )

    capped = minhash_lsh_pairs(
        _boilerplate_corpus(spark), "doc_id", "text", max_bucket_width=100
    )
    assert capped.count() == 0


def test_lsh_cap_above_bucket_widths_is_identity(spark, sf_oracle):
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        minhash_lsh_pairs,
    )

    docs = table(spark, sf_oracle, "documents").select("doc_id", "text").limit(300)
    dups = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + SYNTH_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
    )
    corpus = docs.unionByName(dups)

    def pairset(df):
        return {(r["id_a"], r["id_b"], r["matching_minhashes"]) for r in df.collect()}

    uncapped = pairset(
        minhash_lsh_pairs(corpus, "doc_id", "text", max_bucket_width=None)
    )
    capped = pairset(
        minhash_lsh_pairs(corpus, "doc_id", "text", max_bucket_width=10_000)
    )
    assert uncapped == capped and uncapped


def test_lsh_pair_dedupe_shuffles_no_signature_arrays(spark, sf_oracle):
    """The pair-dedupe aggregate groups on (id_a, id_b) with a map-side
    score — a regression back to distinct() over signature arrays would put
    sig_a/sig_b in the grouping keys."""
    import re

    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        minhash_lsh_pairs,
    )

    docs = table(spark, sf_oracle, "documents").select("doc_id", "text")
    plan = (
        minhash_lsh_pairs(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert not re.search(r"Aggregate \[[^\]]*sig_", plan), plan
    assert "max(matching_minhashes" in plan, plan


# ------------------------------------------------ bloom decontamination


def test_bloom_decontaminate_equals_exact(spark, sf_oracle):
    """The Bloom-prefiltered report is EXACT (false positives die in the
    real join): identical rows to the broadcast-join report on the same
    synthetic train/bench split, including zero-gram and zero-hit docs."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.decontaminate import (
        contamination_report,
        contamination_report_bloom,
    )

    d = table(spark, sf_oracle, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    train = d.filter(F.col("doc_id") % 37 != 0).unionByName(
        bench.filter(F.col("doc_id") < 200).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    exact = rows(contamination_report(train, bench, "doc_id", "text", ngram_len=5))
    bloom = rows(
        contamination_report_bloom(
            train, bench, "doc_id", "text", ngram_len=5, n_bits=1 << 14
        )
    )
    assert exact == bloom
    assert any(r[4] for r in exact)  # split really contains contamination
    # a deliberately tiny bitmap still yields the exact result (more false
    # positives survive the pre-filter; the join removes them all)
    tiny = rows(
        contamination_report_bloom(
            train, bench, "doc_id", "text", ngram_len=5, n_bits=256, k=2
        )
    )
    assert exact == tiny


# ---------------------------------------------------------------- chunking


def test_chunk_documents_known_values(spark):
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),                                # shorter than a chunk
            (3, ""),                                     # empty
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(docs, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    }
    # doc 1: stride 3 -> starts 1,4,7,10 (n_chunks = 1 + ceil((10-4)/3) = 3)
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)  # 1-token overlap
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in got
    # short doc: one truncated chunk; empty doc: one empty-ish chunk
    assert got[(2, 0)] == ("a b c", 3)
    assert got[(3, 0)][1] == 1  # split('') -> ['']
    # every token of doc 1 appears in some chunk (coverage)
    covered = set()
    for (d, _), (txt, _n) in got.items():
        if d == 1:
            covered.update(txt.split(" "))
    assert covered == {f"t{i}" for i in range(10)}


def test_chunk_documents_zero_shuffle(spark, sf_oracle):
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        chunk_documents,
    )

    plan = _plan(
        chunk_documents(
            table(spark, sf_oracle, "documents").select("doc_id", "text"),
            "doc_id",
            "text",
        )
    )
    assert "Exchange" not in plan, plan


def test_funnel_strictly_after_and_tiebreak(spark):
    """Funnel semantics: a step only advances on events strictly AFTER the
    previous match in (ts, order) — equal-ts events resolve by the order
    column — and users without the chain stop at their furthest step."""
    import datetime as dt

    from financial_data_ingestion_canonical_snowflake_spark.operators.funnel import (
        funnel_counts,
    )

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: click sorts BEFORE the same-ts view (order 1 < 2) -> that
        # click cannot satisfy step 2; the later click can
        (1, "click", t(10), 1),
        (1, "view", t(10), 2),
        (1, "click", t(20), 3),
        # user 2: click precedes every view -> stops after step 1
        (2, "click", t(5), 4),
        (2, "view", t(6), 5),
        # user 3: never views -> reaches nothing
        (3, "click", t(1), 6),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    out = {
        r["step_idx"]: r["users_reached"]
        for r in funnel_counts(
            ev, "user_id", "event_type", "ts", "event_id", ["view", "click"]
        ).collect()
    }
    assert out == {1: 2, 2: 1}


def test_apply_mixture_epoch_math(spark):
    from financial_data_ingestion_canonical_snowflake_spark.operators.mixture import (
        apply_source_mixture,
    )

    df = spark.createDataFrame(
        [(i, "a") for i in range(100)] + [(i + 100, "b") for i in range(100)]
        + [(i + 200, "c") for i in range(100)],
        "doc_id long, source string",
    )
    out = apply_source_mixture(
        df, "doc_id", "source",
        {"a": 3_000_000, "b": 500_000},  # c absent -> dropped
    )
    per = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # a: exactly 3 copies each; b: ~half via md5 bucket; c: gone
    assert per["a"] == 300
    assert 20 <= per.get("b", 0) <= 80
    assert "c" not in per
    # copy_idx dense per doc: doc in 'a' has copies 0,1,2
    a_copies = sorted(
        r.copy_idx for r in out.filter(F.col("doc_id") == 0).collect()
    )
    assert a_copies == [0, 1, 2]
    # deterministic: second run identical
    out2 = apply_source_mixture(
        df, "doc_id", "source", {"a": 3_000_000, "b": 500_000}
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_importance_weights_discriminate_target_like_docs(spark):
    """DSIR-shaped weighting: raw docs sharing the target corpus's n-grams
    must score a higher mean ratio than docs from a disjoint vocabulary,
    and the integer anchors must reflect the bag feature counts."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.importance import (
        importance_weights,
    )

    target = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (100, "the quick brown fox naps"),      # target-like
            (101, "zzz qqq www eee rrr ttt yyy"),   # disjoint vocabulary
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in importance_weights(raw, target, "doc_id", "text").collect()
    }
    assert set(rows) == {100, 101}
    # 5 tokens -> 4 bigram features each; 7 tokens -> 6
    assert rows[100].n_features == 4
    assert rows[101].n_features == 6
    assert rows[100].mean_ratio > rows[101].mean_ratio
    # disjoint-vocab doc saw no target mass at all
    assert rows[101].sum_target_cnt == 0
    assert rows[100].sum_target_cnt > 0

    # log_weight variant orders the same way
    lw = {
        r.doc_id: r.log_weight
        for r in importance_weights(
            raw, target, "doc_id", "text", log_weight=True
        ).collect()
    }
    assert lw[100] > lw[101]


def test_sample_exact_k_counts_and_determinism(spark):
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        sample_exact_k,
    )

    rows = [(i, "en" if i % 3 else "fr") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_exact_k(df, ["lang"], "doc_id", 10)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"en": 10, "fr": 10}
    # deterministic: same rows on re-run
    a = sorted(map(tuple, out.select("lang", "doc_id").collect()))
    b = sorted(map(tuple, sample_exact_k(df, ["lang"], "doc_id", 10).select("lang", "doc_id").collect()))
    assert a == b
    # stratum smaller than k -> whole stratum
    tiny = spark.createDataFrame([(1, "xx"), (2, "xx")], "doc_id long, lang string")
    assert sample_exact_k(tiny, ["lang"], "doc_id", 10).count() == 2


# ------------------------------------------------------- property (hypothesis)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_H = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_H
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.sampled_from(["en", "fr", "de"]),
        ),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=6),
)
def test_sample_exact_k_invariants(spark, rows, k):
    """For ANY strata layout and k: per-stratum output = min(k, stratum
    size), output is a subset of input, and re-running returns the
    identical row set (determinism without RNG)."""
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        sample_exact_k,
    )

    df = spark.createDataFrame(
        rows or [(None, None)], "doc_id long, lang string"
    ).filter(F.col("doc_id").isNotNull())
    out = sample_exact_k(df, ["lang"], "doc_id", k)
    got = sorted(map(tuple, out.select("lang", "doc_id").collect()))
    sizes: dict[str, int] = {}
    for d, lang in rows:
        sizes[lang] = sizes.get(lang, 0) + 1
    per = {}
    for lang, d in got:
        per[lang] = per.get(lang, 0) + 1
    for lang, n in per.items():
        assert n == min(k, sizes[lang])
    assert set(got) <= {(lang, d) for d, lang in rows}
    again = sorted(
        map(tuple, sample_exact_k(df, ["lang"], "doc_id", k).select("lang", "doc_id").collect())
    )
    assert got == again


def test_winnowing_guarantee_and_containment(spark):
    """The winnowing guarantee (Schleimer et al. 2003): with k=4, window=4
    any two docs sharing a token run of length >= window + k - 1 = 7 share
    at least one fingerprint. Containment scores partial overlap ~1.0 for
    a short doc quoted inside a long one — the case whole-doc Jaccard
    misses. Docs shorter than k tokens emit no fingerprints."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    quoted = "alpha bravo charlie delta echo foxtrot golf"  # 7 tokens
    long_doc = (
        "zero one two three four five six seven eight nine "
        + quoted
        + " ten eleven twelve thirteen fourteen fifteen sixteen"
    )
    rows = [
        (1, quoted),
        (2, long_doc),
        (3, "totally different words with no shared runs at all here"),
        (4, "too short"),  # < k tokens: no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fps = winnowing_fingerprints(df, "doc_id", "text").collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc"], set()).add(r["fingerprint"])
    assert 4 not in by_doc  # sub-k doc emits nothing
    # the 7-token shared run guarantees a shared fingerprint
    assert by_doc[1] & by_doc[2]
    # fingerprints are a SUBSET of the full 4-gram hash universe
    # (winnowing sparsifies, never invents)
    from financial_data_ingestion_canonical_snowflake_spark.functions import (
        scalars,
        text as tx,
    )

    full = {
        r["h"]
        for r in df.filter(F.col("doc_id") == 2)
        .select(
            F.explode(
                F.transform(
                    tx.shingles_from_tokens(tx.tokens(F.col("text")), 4),
                    lambda s: scalars.md5_long(s, modulus=tx.MERSENNE31),
                )
            ).alias("h")
        )
        .collect()
    }
    assert by_doc[2] <= full and len(by_doc[2]) < len(full)

    got = {
        (r["id_a"], r["id_b"]): r
        for r in winnowing_pairs(
            df, "doc_id", "text", min_shared=1, max_fp_freq=None
        ).collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    # every fingerprint of the quoted doc appears in the long doc
    assert r["n_shared"] == r["n_fp_a"] and r["containment"] == 1.0
    assert (1, 3) not in got and (2, 3) not in got


def _py_winnow(text: str, k: int, window: int) -> set[int]:
    """Pure-Python winnowing reference (fingerprint SET semantics)."""
    import hashlib

    toks = text.lower().split(" ")
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % ((1 << 31) - 1)
        for g in grams
    ]
    if len(hs) < window:
        return {min(hs)}
    return {
        min(hs[i : i + window]) for i in range(len(hs) - window + 1)
    }


@_H
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    window=st.integers(2, 4),
)
def test_winnowing_fingerprints_match_python_reference(spark, docs, window):
    """The HOF sliding-min fingerprint set == a naive Python winnower on
    arbitrary token streams (empty docs, sub-k docs, repeated tokens)."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        winnowing_fingerprints,
    )

    k = 2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(df, "doc_id", "text", k=k, window=window).collect():
        got.setdefault(r["doc"], set()).add(r["fingerprint"])
    for i, doc in enumerate(docs):
        want = _py_winnow(doc, k, window)
        assert got.get(i, set()) == want, (i, doc)


def test_cdc_chunking_insertion_robustness(spark):
    """The CDC property: prepending a sentence changes only the chunks up
    to the first boundary after the insertion — every later chunk
    reappears verbatim (fixed windows would shift wholesale and share
    almost nothing). Also: chunks partition the token stream exactly."""
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        cdc_chunk_documents,
    )

    base = " ".join(f"tok{i}" for i in range(160))
    edited = "inserted words up front " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunk_documents(df, "doc_id", "text", divisor=8).collect()
    chunks = {1: [], 2: []}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        chunks[r["doc_id"]].append(r["chunk_text"])
    # partition property: concatenating chunks reproduces the token stream
    assert " ".join(chunks[1]) == base
    assert " ".join(chunks[2]) == edited
    # robustness: the vast majority of the original doc's chunks survive
    # the insertion verbatim (only the prefix up to the first boundary
    # after the edit differs)
    shared = set(chunks[1]) & set(chunks[2])
    assert len(shared) >= len(chunks[1]) - 2, (
        len(shared),
        len(chunks[1]),
    )
    # ~160/8 = ~20 expected chunks: the divisor actually splits
    assert len(chunks[1]) >= 10


def _py_cdc_chunks(text: str, divisor: int) -> list[str]:
    """Pure-Python reference of cdc_chunk_documents' boundary rule:
    a boundary falls AFTER any token whose LOWERCASED md5-prefix hash is
    0 mod divisor (chunk text itself keeps source case); a boundary on
    the last token yields no empty chunk."""
    import hashlib

    toks = text.split(" ")
    bpos = [
        i + 1
        for i, t in enumerate(toks)
        if int(hashlib.md5(t.lower().encode()).hexdigest()[:15], 16) % divisor
        == 0
    ]
    starts = [1] + [p + 1 for p in bpos]
    ends = bpos + [len(toks)]
    return [
        " ".join(toks[s - 1 : e]) for s, e in zip(starts, ends) if e >= s
    ]


@_H
@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    divisor=st.sampled_from([2, 4, 8]),
)
def test_cdc_chunk_documents_matches_python_reference(spark, docs, divisor):
    """The HOF chunker == a naive Python CDC reference on arbitrary token
    streams (empty docs, boundary-on-last-token, all-boundary tokens,
    repeated tokens) — chunk texts, order, and token counts all match."""
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        cdc_chunk_documents,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got: dict[int, list] = {}
    for r in cdc_chunk_documents(df, "doc_id", "text", divisor=divisor).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        )
    for i, doc in enumerate(docs):
        want = _py_cdc_chunks(doc, divisor)
        rows = sorted(got.get(i, []))
        assert [t for _, t, _n in rows] == want, (i, doc)
        assert [ix for ix, _, _n in rows] == list(range(len(want)))
        assert [n for _, _, n in rows] == [len(c.split(" ")) for c in want]


def test_remove_shared_spans_matches_python_rederivation(spark):
    """remove_shared_spans == an independent Python replay of its own
    contract over the chunk frame: drop chunks whose content appears in
    >max_doc_freq distinct docs, rejoin survivors in order. Also pins the
    no-op case (max_doc_freq >= n_docs reproduces the token stream — the
    reassembly-partition property)."""
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        cdc_chunk_documents,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        remove_shared_spans,
    )

    boiler = " ".join(f"boiler{i}" for i in range(60))
    docs = [
        (1, boiler + " " + " ".join(f"alpha{i}" for i in range(40))),
        (2, boiler + " " + " ".join(f"beta{i}" for i in range(40))),
        (3, " ".join(f"gamma{i}" for i in range(40)) + " " + boiler),
        (4, boiler),  # entirely boilerplate -> cleaned_text ''
        (5, " ".join(f"solo{i}" for i in range(50))),  # untouched
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # Python replay from the (already certified) chunk frame
    chunks: dict[int, list[tuple[int, str, int]]] = {}
    for r in cdc_chunk_documents(df, "doc_id", "text", divisor=8).collect():
        chunks.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        )
    doc_freq: dict[str, set] = {}
    for d, ch in chunks.items():
        for _, t, _n in ch:
            doc_freq.setdefault(t, set()).add(d)

    got = {
        r["doc_id"]: r
        for r in remove_shared_spans(
            df, "doc_id", "text", divisor=8, max_doc_freq=1
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    for d, ch in chunks.items():
        ordered = sorted(ch)
        keep = [t for _, t, _n in ordered if len(doc_freq[t]) <= 1]
        removed = sum(n for _, t, n in ordered if len(doc_freq[t]) > 1)
        assert got[d]["cleaned_text"] == " ".join(keep), d
        assert got[d]["n_chunks"] == len(ordered)
        assert got[d]["n_kept_chunks"] == len(keep)
        assert got[d]["n_tokens_removed"] == removed
    # the interesting shape actually occurred: boilerplate scrubbed from
    # carriers, the all-boilerplate doc emptied, the unique doc untouched
    assert got[4]["cleaned_text"] == "" and got[4]["n_kept_chunks"] == 0
    assert got[5]["cleaned_text"] == docs[4][1]
    assert 0 < got[1]["n_tokens_removed"] < 60 + 40
    assert "alpha20" in got[1]["cleaned_text"]
    assert "boiler30" not in got[1]["cleaned_text"]

    # no-op bound: with max_doc_freq >= n_docs nothing drops and the
    # reassembly partitions the token stream exactly
    full = {
        r["doc_id"]: r["cleaned_text"]
        for r in remove_shared_spans(
            df, "doc_id", "text", divisor=8, max_doc_freq=len(docs)
        ).collect()
    }
    assert full == {d: t for d, t in docs}


def test_remove_shared_spans_edit_locality(spark):
    """Editing one token in a near-dup copy never protects or drops an
    UNRELATED chunk: the shared remainder of both copies is scrubbed from
    each, the chunk containing the edit survives in both, and a third
    unrelated document is untouched."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        remove_shared_spans,
    )

    base_toks = [f"tok{i}" for i in range(160)]
    edited_toks = list(base_toks)
    edited_toks[80] = "EDITED"
    docs = [
        (1, " ".join(base_toks)),
        (2, " ".join(edited_toks)),
        (3, " ".join(f"other{i}" for i in range(80))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in remove_shared_spans(
            df, "doc_id", "text", divisor=8, max_doc_freq=1
        ).collect()
    }
    # shared remainder scrubbed from both copies...
    assert got[1]["n_tokens_removed"] > 100
    assert got[2]["n_tokens_removed"] > 100
    # ...but the divergent chunk (the edit site) survives in each
    assert "tok80" in got[1]["cleaned_text"]
    # kept spans preserve SOURCE case — the edit survives verbatim
    assert "EDITED" in got[2]["cleaned_text"]
    assert "edited" not in got[2]["cleaned_text"]
    # and the unrelated doc is byte-identical
    assert got[3]["cleaned_text"] == docs[2][1]
    assert got[3]["n_tokens_removed"] == 0


def test_remove_shared_spans_case_insensitive_detection_case_preserving_output(
    spark,
):
    """Span DETECTION is case-insensitive (a boilerplate paragraph that
    differs only in casing is still scrubbed from both carriers) while
    kept spans preserve their source case — the fidelity contract."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        remove_shared_spans,
    )

    boiler = " ".join(f"boiler{i}" for i in range(60))
    docs = [
        (1, boiler.upper() + " " + " ".join(f"Alpha{i}" for i in range(40))),
        (2, boiler + " " + " ".join(f"Beta{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in remove_shared_spans(
            df, "doc_id", "text", divisor=8, max_doc_freq=1
        ).collect()
    }
    # the case-variant boilerplate was detected as shared and scrubbed
    assert got[1]["n_tokens_removed"] > 40
    assert got[2]["n_tokens_removed"] > 40
    assert "BOILER30" not in got[1]["cleaned_text"]
    assert "boiler30" not in got[2]["cleaned_text"]
    # kept unique prose survives with its ORIGINAL mixed case
    assert "Alpha20" in got[1]["cleaned_text"]
    assert "Beta20" in got[2]["cleaned_text"]
    assert "alpha20" not in got[1]["cleaned_text"]


def test_chunk_dedup_cdc_survives_injected_edit_fixed_does_not(spark):
    """The reason ns_chunk_dedup_cdc exists: after an insertion at the top
    of a copied document, CDC chunk hashes still collapse the shared
    remainder (dup_cnt=2 for nearly every original chunk) while
    fixed-window chunks shift wholesale and share almost nothing."""
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        cdc_chunk_documents,
        chunk_documents,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        exact_dedup,
    )
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i}" for i in range(160))
    edited = "inserted words up front " + base
    df = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")

    def dup_rows(chunks_df):
        d = exact_dedup(
            chunks_df.select(
                (F.col("doc_id") * 100000 + F.col("chunk_idx")).alias("chunk_id"),
                "chunk_text",
            ),
            "chunk_id",
            "chunk_text",
        )
        return d.filter(F.col("dup_cnt") >= 2).count(), d.count()

    cdc_dups, cdc_total = dup_rows(cdc_chunk_documents(df, "doc_id", "text", divisor=8))
    fixed_dups, _ = dup_rows(
        chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=0)
    )
    n_base_chunks = cdc_chunk_documents(
        df.filter(F.col("doc_id") == 1), "doc_id", "text", divisor=8
    ).count()
    # CDC: all but the perturbed prefix chunk(s) collapse across the copies
    assert cdc_dups >= n_base_chunks - 2, (cdc_dups, n_base_chunks)
    # fixed windows: the insertion shifts every window -> (almost) nothing
    assert fixed_dups <= 1, fixed_dups
    assert cdc_dups > 5 * max(fixed_dups, 1)


def test_remove_shared_spans_accepts_prechunked_frame(spark):
    """The single-pass path: feeding a persisted cdc_chunk_documents frame
    via ``chunks=`` must reproduce the inline two-pass result exactly —
    chunk once, reuse for chunk-level dedup AND span removal."""
    from financial_data_ingestion_canonical_snowflake_spark.functions.text import (
        cdc_chunk_documents,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        remove_shared_spans,
    )

    boiler = " ".join(f"boiler{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, boiler + " " + " ".join(f"alpha{i}" for i in range(30))),
            (2, " ".join(f"beta{i}" for i in range(30)) + " " + boiler),
            (3, " ".join(f"solo{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    pre = cdc_chunk_documents(df, "doc_id", "text", divisor=8).persist()
    try:
        inline = {
            r["doc_id"]: r.asDict()
            for r in remove_shared_spans(df, "doc_id", "text", divisor=8).collect()
        }
        fed = {
            r["doc_id"]: r.asDict()
            for r in remove_shared_spans(
                df, "doc_id", "text", divisor=8, chunks=pre
            ).collect()
        }
        assert fed == inline
        assert fed[3]["n_tokens_removed"] == 0 and fed[1]["n_tokens_removed"] > 0
    finally:
        pre.unpersist()


def test_adaptive_max_shingle_freq_boundaries(spark):
    """Integer-exact corpus-scaled cap (max(8, ceil(n/1000))) and the
    'adaptive' default routing through it — boundaries match the DuckDB
    mirror GREATEST(8, (n + 999) // 1000) by construction."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        adaptive_max_shingle_freq,
        ngram_jaccard_pairs,
    )

    assert adaptive_max_shingle_freq(1) == 8
    assert adaptive_max_shingle_freq(8000) == 8
    assert adaptive_max_shingle_freq(8001) == 9
    assert adaptive_max_shingle_freq(50_000) == 50
    assert adaptive_max_shingle_freq(1_000_000) == 1000
    # ceil boundaries
    assert adaptive_max_shingle_freq(9000) == 9
    assert adaptive_max_shingle_freq(9001) == 10

    # the adaptive default == the explicit derived cap on a real frame
    docs = [
        (i, " ".join(f"w{i}x{j}" for j in range(10)) + " shared trigram here")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    auto = ngram_jaccard_pairs(df, "doc_id", "text").collect()
    pinned = ngram_jaccard_pairs(
        df, "doc_id", "text", max_shingle_freq=adaptive_max_shingle_freq(30)
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pinned))


def test_hot_key_guard_cap_shapes_identical(spark):
    """r16 (VERDICT r15 #2): the skew-proof cap shape (map-side-reduced
    pre-count -> broadcast anti-join BEFORE the posting shuffle) must be
    result-identical to the window-count shape on a deliberately skewed
    fixture — one boilerplate shingle/fingerprint shared by every doc
    (over the cap -> dropped), plus legitimate near-dup pairs that must
    survive with identical scores either way."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
        winnowing_pairs,
    )

    boiler = "common boilerplate header trigram"
    docs = [
        # 3 near-dup clusters of 4 + unique tails; every doc carries the
        # boilerplate prefix, making its shingles corpus-wide hot keys
        (
            c * 10 + i,
            boiler
            + f" cluster {c} body text alpha beta gamma delta tail{c}_{i}",
        )
        for c in range(3)
        for i in range(4)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for fn, kw in (
        (ngram_jaccard_pairs, dict(max_shingle_freq=5, min_jaccard=0.3)),
        (winnowing_pairs, dict(max_fp_freq=5, min_shared=1)),
    ):
        window_shape = fn(df, "doc_id", "text", hot_key_guard=False, **kw)
        guarded = fn(df, "doc_id", "text", hot_key_guard=True, **kw)
        got_w = sorted(map(tuple, window_shape.collect()))
        got_g = sorted(map(tuple, guarded.collect()))
        assert got_w == got_g and len(got_g) > 0, fn.__name__
        # the guard's physical promise: hot postings are dropped by a
        # broadcast anti-join before any data shuffle (no window over the
        # posting key anywhere in the guarded plan)
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:800]
    spark.catalog.clearCache()


def test_capped_postings_shapes_agree_on_null_keys(spark):
    """Both cap shapes treat NULL posting keys as one key: kept at the
    cap, dropped above it. The guarded shape's anti-join used to be a
    plain equi-join, which never matched a hot NULL key and kept it."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        _capped_postings,
    )

    cap = 3
    for n_null, want_null in ((cap, cap), (cap + 2, 0)):
        rows = [(None, i) for i in range(n_null)] + [("k", 1), ("k", 2)]
        rows += [("hot", i) for i in range(cap + 1)]
        postings = spark.createDataFrame(rows, "key string, doc long")
        shapes = [
            sorted(
                map(repr, _capped_postings(postings, "key", cap, guard).collect())
            )
            for guard in (False, True)
        ]
        assert shapes[0] == shapes[1]
        got = _capped_postings(postings, "key", cap, True).collect()
        assert sum(r.key is None for r in got) == want_null
        assert {r.key for r in got} - {None} == {"k"}
    spark.catalog.clearCache()


def test_adaptive_prefix_bits_boundaries():
    """Integer-exact corpus-scaled simhash prefix (smallest b in [8,24]
    with 256*2^b >= n) — matches the oracle threshold CASE by construction."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        adaptive_prefix_bits,
    )

    assert adaptive_prefix_bits(1) == 8
    assert adaptive_prefix_bits(65_536) == 8     # 256 << 8
    assert adaptive_prefix_bits(65_537) == 9
    assert adaptive_prefix_bits(131_072) == 9
    assert adaptive_prefix_bits(131_073) == 10
    assert adaptive_prefix_bits(500_000) == 11
    assert adaptive_prefix_bits(10**12) == 24    # clamp ceiling
