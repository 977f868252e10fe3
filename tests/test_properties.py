"""Property-based tests (hypothesis) for the engine's core invariants
(SURVEY.md §5 test plan item 3).

Hypothesis drives randomized row sets through the real Spark operators; a
shared session-scoped SparkSession keeps example turnaround fast (each
example is a small createDataFrame, not a file read). ``deadline=None``
because Spark job latency is environment-noise, not a property failure.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.functions import scalars, text
from financial_data_ingestion_canonical_snowflake_spark.operators.dedupe import (
    latest_by_key,
    rank_duplicates,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.merge import merge_upsert

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_key = st.one_of(st.none(), st.integers(min_value=0, max_value=5).map(str))
_row = st.tuples(
    _key,  # business key (None models NULL source_txn_id)
    st.integers(min_value=0, max_value=10**6),  # ingest order
    st.text(min_size=0, max_size=12),  # payload
)


@SETTINGS
@given(rows=st.lists(_row, min_size=1, max_size=40))
def test_dedupe_exactly_one_survivor_per_key(spark, rows):
    """W1 invariant: rank_duplicates yields exactly one rn=1 per key
    partition (NULL keys form ONE partition, reference semantics), and the
    survivor is the latest by ingest order with deterministic tiebreak."""
    df = spark.createDataFrame(
        [(k, i, p) for k, i, p in rows], "key string, ingest_seq long, payload string"
    )
    ranked = rank_duplicates(
        df, keys=["key"], order_by=[F.col("ingest_seq").desc(), F.col("payload")]
    )
    survivors = ranked.filter("rn = 1")
    n_keys = df.select("key").distinct().count()
    assert survivors.count() == n_keys

    # survivor carries the max ingest_seq of its partition
    mx = df.groupBy("key").agg(F.max("ingest_seq").alias("mx"))
    bad = survivors.join(mx, ["key"], "left").filter(F.col("ingest_seq") != F.col("mx"))
    assert bad.count() == 0

    # dup_cnt matches the real partition sizes everywhere
    sizes = df.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    mism = ranked.join(sizes, ["key"]).filter(F.col("dup_cnt") != F.col("n"))
    assert mism.count() == 0


@SETTINGS
@given(rows=st.lists(_row, min_size=1, max_size=30))
def test_latest_by_key_equals_manual_argmax(spark, rows):
    df = spark.createDataFrame(
        [(k, i, p) for k, i, p in rows], "key string, ingest_seq long, payload string"
    )
    got = latest_by_key(
        df, keys=["key"], order_by=[F.col("ingest_seq").desc(), F.col("payload")]
    )
    by_key: dict = {}
    for k, i, p in rows:  # Spark asc ordering: NULL sorts first
        sk = lambda r: (-r[1], r[2] is not None, r[2] or "")
        cur = by_key.get(k)
        if cur is None or sk((k, i, p)) < sk(cur):
            by_key[k] = (k, i, p)
    want = sorted(by_key.values(), key=lambda r: (r[0] or "",))
    assert sorted(map(tuple, got.collect()), key=lambda r: (r[0] or "",)) == want


@SETTINGS
@given(
    strs=st.lists(
        st.one_of(
            st.text(max_size=10),
            st.integers(-10**12, 10**12).map(str),
            st.floats(allow_nan=False, allow_infinity=False).map(str),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_try_casts_never_throw(spark, strs):
    """F3/F4: try_to_number / try_to_timestamp return NULL or a value, never
    raise — on arbitrary junk input."""
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    out = df.select(
        scalars.try_to_number(F.col("s")).alias("n"),
        scalars.try_to_timestamp(F.col("s")).alias("ts"),
    )
    # evaluate engine-side only: some valid Spark timestamps (year -1000)
    # aren't representable as Python datetimes, so don't collect them raw
    flags = out.select(F.isnull("n").alias("n_null"), F.isnull("ts").alias("t_null"))
    rows = flags.collect()  # the property IS "this does not raise"
    assert len(rows) == len(strs)


@SETTINGS
@given(
    tgt=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 100)), max_size=15),
    src=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 100)), max_size=15),
)
def test_merge_upsert_key_algebra(spark, tgt, src):
    """M1 invariants: result keys = target ∪ source keys; source wins on
    matched keys; merge is idempotent (re-merging the same source is a
    no-op)."""
    tgt = list({k: v for k, v in tgt}.items())
    src = list({k: v for k, v in src}.items())
    target = spark.createDataFrame(tgt or [(999, 0)], "k long, v long")
    source = spark.createDataFrame(src or [(998, 0)], "k long, v long")
    merged = merge_upsert(target, source, keys=["k"])

    got = {r.k: r.v for r in merged.collect()}
    want = dict(tgt or [(999, 0)])
    want.update(dict(src or [(998, 0)]))
    assert got == want

    again = merge_upsert(merged, source, keys=["k"])
    assert {r.k: r.v for r in again.collect()} == want


@SETTINGS
@given(s=st.text(alphabet=st.characters(codec="utf-8"), max_size=60))
def test_text_primitives_total(spark, s):
    """Text primitives are total: shingles of short texts are empty (never
    negative-length), token counts are consistent, quality ratios finite."""
    df = spark.createDataFrame([(s,)], "text string")
    row = df.select(
        text.shingles(F.col("text"), 3).alias("sh"),
        F.size(text.tokens(F.col("text"))).alias("n_tok"),
        text.bpe_ish_token_count(F.col("text")).alias("bpe"),
        text.fingerprint(F.col("text")).alias("fp"),
    ).first()
    n_tok = row.n_tok
    assert len(row.sh) == max(0, n_tok - 2)
    assert row.bpe >= 0
    assert 0 <= row.fp < text.FP_PRIME


@SETTINGS
@given(
    amts=st.lists(
        st.one_of(st.none(), st.decimals(min_value=-1000, max_value=1000, places=2)),
        min_size=1,
        max_size=20,
    )
)
def test_anomaly_codes_match_predicates(spark, amts):
    """§2.11: the anomaly-code array contains MISSING_REQUIRED iff amount is
    NULL, NEGATIVE_AMOUNT iff amount < 0 — and is_valid == (array empty)."""
    df = spark.createDataFrame([(a,) for a in amts], "amt decimal(18,6)")
    codes = scalars.array_compact_of(
        F.when(F.col("amt").isNull(), "MISSING_REQUIRED"),
        F.when(F.col("amt") < 0, "NEGATIVE_AMOUNT"),
    )
    out = df.select("amt", codes.alias("codes"), (F.size(codes) == 0).alias("is_valid"))
    for r in out.collect():
        want = []
        if r.amt is None:
            want.append("MISSING_REQUIRED")
        if r.amt is not None and r.amt < 0:
            want.append("NEGATIVE_AMOUNT")
        assert list(r.codes) == want
        assert r.is_valid == (not want)


@SETTINGS
@given(
    base=st.lists(_row, min_size=0, max_size=25),
    delta=st.lists(_row, min_size=1, max_size=15),
)
def test_scoped_merge_equals_full_merge_property(spark, tmp_path_factory, base, delta):
    """merge_upsert_scoped over a hash-bucketed table must be extensionally
    identical to the plain full-outer merge_upsert for ANY base/delta —
    including NULL keys (one fixed bucket), duplicate source keys (dedupe
    guard), and empty bases (first-batch short-circuit)."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
        PART_COL,
        dedupe_source,
        merge_upsert_scoped,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import ParquetTable
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ingest_seq", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    tbl = ParquetTable(
        str(tmp_path_factory.mktemp("scoped")) + "/t", schema, [PART_COL], n_buckets=4
    )
    order = [F.col("ingest_seq").desc(), F.col("payload")]
    base_df = spark.createDataFrame([tuple(r) for r in base], schema)
    delta_df = spark.createDataFrame([tuple(r) for r in delta], schema)
    if base:
        merge_upsert_scoped(spark, tbl, base_df, keys=["key"], dedupe_order=order)
    merge_upsert_scoped(spark, tbl, delta_df, keys=["key"], dedupe_order=order)

    expect = merge_upsert(
        dedupe_source(base_df, ["key"], order) if base else base_df,
        delta_df,
        keys=["key"],
        dedupe_order=order,
    )
    def canon(df):
        # NULLs sort against strings fine via repr; content equality is all
        # we assert
        return sorted(repr(tuple(r)) for r in df.collect())

    assert canon(tbl.read(spark)) == canon(expect)


_funnel_event = st.tuples(
    st.integers(min_value=0, max_value=3),          # user
    st.sampled_from(["a", "b", "c"]),               # event type
    st.integers(min_value=0, max_value=5),          # ts seconds (ties likely)
)


def _funnel_reference(rows, steps):
    """Independent greedy reference: per user, walk events sorted by
    (ts, order); advance the pointer when the event matches the next step."""
    per_user: dict = {}
    for order, (u, typ, sec) in enumerate(rows):
        per_user.setdefault(u, []).append((sec, order, typ))
    reached_counts = [0] * len(steps)
    for seq in per_user.values():
        ptr = 0
        for _sec, _order, typ in sorted(seq):
            if ptr < len(steps) and typ == steps[ptr]:
                ptr += 1
        for k in range(ptr):
            reached_counts[k] += 1
    return {
        (k + 1, steps[k]): reached_counts[k]
        for k in range(len(steps))
    }


@SETTINGS
@given(rows=st.lists(_funnel_event, min_size=1, max_size=30))
def test_funnel_fold_matches_greedy_reference(spark, rows):
    """funnel_counts == an independent pure-Python greedy walk, for random
    event sets with heavy ts ties (the order column breaks them)."""
    import datetime as dt

    from financial_data_ingestion_canonical_snowflake_spark.operators.funnel import (
        funnel_counts,
    )

    steps = ["a", "b", "a"]
    data = [
        (u, typ, dt.datetime(2026, 1, 1, 0, 0, sec), order)
        for order, (u, typ, sec) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, ["user_id", "event_type", "ts", "event_id"])
    got = {
        (r["step_idx"], r["step"]): r["users_reached"]
        for r in funnel_counts(
            ev, "user_id", "event_type", "ts", "event_id", steps
        ).collect()
    }
    assert got == _funnel_reference(rows, steps)


_doc_text = st.lists(
    st.sampled_from(["spark", "join", "scan", "fast", "zz"]), min_size=1, max_size=8
).map(" ".join)


def _bm25_reference(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.split(" ") for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        score = 0.0
        for t in terms:
            tf = v.count(t)
            odds = (n - df[t] + 0.5) / (df[t] + 0.5)
            score += (odds * (tf * (k1 + 1.0))) / (
                tf + (k1 * ((1.0 - b) + (b * (len(v) / avgdl))))
            )
        out[i] = score
    return out


@SETTINGS
@given(texts=st.lists(_doc_text, min_size=1, max_size=12))
def test_bm25_matches_python_reference(spark, texts):
    """bm25_topk scores == a pure-Python reference on random corpora
    (same odds-idf, same association order)."""
    import pytest as _pytest

    from financial_data_ingestion_canonical_snowflake_spark.operators.scoring import (
        bm25_topk,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["id"]: r["score"]
        for r in bm25_topk(df, "doc_id", "text", ["spark", "zz"], k=len(docs)).collect()
    }
    ref = _bm25_reference(docs, ["spark", "zz"])
    assert set(got) == set(ref)
    for i in got:
        assert got[i] == _pytest.approx(ref[i], rel=1e-12)


_edge = st.tuples(
    st.integers(min_value=0, max_value=6), st.integers(min_value=0, max_value=6)
)


@SETTINGS
@given(edges=st.lists(_edge, min_size=0, max_size=20))
def test_graph_stats_matches_bruteforce(spark, edges):
    """graph_stats == brute-force reference over random small graphs
    (duplicates, reversals, self-loops included)."""
    from itertools import combinations

    from financial_data_ingestion_canonical_snowflake_spark.operators.components import (
        graph_stats,
    )

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], ["src", "dst"]
    )
    row = graph_stats(df).collect()[0]
    nodes = {n for e in canon for n in e}
    deg = {n: sum(1 for e in canon if n in e) for n in nodes}
    tris = sum(
        1
        for trio in combinations(sorted(nodes), 3)
        if all(
            (min(x, y), max(x, y)) in canon
            for x, y in combinations(trio, 2)
        )
    )
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(canon)
    assert (row["max_degree"] or 0) == (max(deg.values()) if deg else 0)
    assert (row["n_wedges"] or 0) == sum(d * (d - 1) // 2 for d in deg.values())
    assert (row["n_triangles"] or 0) == tris


_line = st.sampled_from(
    ["footer", "menu", "alpha", "beta gamma", "  Footer ", "", None]
)
_doc_lines = st.lists(_line, min_size=0, max_size=6)


@SETTINGS
@given(docs=st.lists(_doc_lines, min_size=1, max_size=10),
       cap=st.integers(min_value=0, max_value=5))
def test_frequent_line_removal_matches_python_reference(spark, docs, cap):
    """frequent_line_removal == a pure-Python doc-frequency reference on
    random corpora (normalization collisions, empty lines, all-dropped
    docs included)."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
        frequent_line_removal,
    )

    rows = [(i, lines) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {
        r["doc_id"]: r
        for r in frequent_line_removal(df, "doc_id", "lines", max_doc_freq=cap).collect()
    }

    # NULL elements normalize to "" in the operator contract
    norm = lambda s: ("" if s is None else s).strip().lower()  # noqa: E731
    doc_freq: dict[str, set[int]] = {}
    for i, lines in rows:
        for ln in lines:
            doc_freq.setdefault(norm(ln), set()).add(i)
    dropped = {k for k, v in doc_freq.items() if len(v) > cap}

    assert set(got) == {i for i, _ in rows}
    for i, lines in rows:
        kept = [("" if ln is None else ln) for ln in lines if norm(ln) not in dropped]
        assert got[i]["n_lines"] == len(lines)
        assert got[i]["n_kept"] == len(kept)
        assert got[i]["n_dropped"] == len(lines) - len(kept)
        assert got[i]["kept_text"] == "\n".join(kept)


_ev = st.tuples(
    st.integers(min_value=0, max_value=3),          # user
    st.integers(min_value=0, max_value=50),         # ts offset (seconds)
    st.sampled_from(["a", "b", "c"]),               # state
)


@SETTINGS
@given(events=st.lists(_ev, min_size=1, max_size=30))
def test_scd2_matches_python_reference(spark, events):
    """The SHIPPED SCD2 operator (operators/scd.py scd2_build — the same
    code ns_scd2_dimension registers) == a pure-Python fold over random
    change streams, including duplicate timestamps (the seq column breaks
    ties deterministically) and the is_current flag."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.scd import scd2_build

    # tz-aware instants: naive datetimes would convert through the HOST
    # timezone in .timestamp() but the SESSION timezone in Spark — aware
    # datetimes are unambiguous on both paths
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (eid, u, base + dt.timedelta(seconds=s), state)
        for eid, (u, s, state) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, state string"
    )
    got = {
        (r["user_id"], r["version_n"]): (
            r["state"], r["eff_from_us"], r["eff_to_us"], r["is_current"]
        )
        for r in scd2_build(df, "user_id", "state", "ts", "event_id").collect()
    }

    # python reference: sort by (ts, event_id) per user, collapse runs
    expect = {}
    byu: dict[int, list] = {}
    for eid, u, ts, state in rows:
        byu.setdefault(u, []).append((ts, eid, state))
    for u, evs in byu.items():
        evs.sort()
        versions = []
        for ts, _eid, state in evs:
            if not versions or versions[-1][0] != state:
                versions.append((state, ts))
        for i, (state, ts) in enumerate(versions):
            last = i + 1 == len(versions)
            eff_to = (
                None if last else int(versions[i + 1][1].timestamp() * 1_000_000)
            )
            expect[(u, i + 1)] = (
                state, int(ts.timestamp() * 1_000_000), eff_to, 1 if last else 0
            )
    assert got == expect


_fold_key = st.one_of(st.none(), st.integers(min_value=0, max_value=4).map(str))
_fold_batch = st.tuples(
    st.booleans(),  # fresh: non-NULL keys unique to this batch (insert-only)
    st.lists(
        st.tuples(
            _fold_key,
            st.integers(min_value=0, max_value=3),
            st.sampled_from(["p", "q", ""]),
        ),
        min_size=1,
        max_size=8,
    ),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    replace=st.booleans(),
    batches=st.lists(_fold_batch, min_size=2, max_size=3),
)
def test_append_or_rewrite_fold_equals_plain_merge_fold(
    spark, tmp_path_factory, replace, batches
):
    """Random sequences of insert-only and mixed batches folded through
    merge_upsert_scoped — whose buckets append or rewrite — read the same
    on ParquetTable and ManifestTable as a plain merge_upsert fold, and no
    bucket ever holds more than MAX_BUCKET_FILES files. Upsert folds carry
    NULL keys, duplicate source keys under dedupe_order, preserve and
    set_on_insert; replace_keys folds carry NULL and duplicate scope keys
    (several versions per key, the SCD2 shape) with a source that is the
    complete state of its scope keys."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
        MAX_BUCKET_FILES,
        PART_COL,
        merge_upsert_scoped,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
    )

    root = str(tmp_path_factory.mktemp("fold"))
    tables = [
        cls(f"{root}/{cls.__name__}", None, [PART_COL], n_buckets=2)
        for cls in (ParquetTable, ManifestTable)
    ]
    if replace:
        schema = "key string, ver long, payload string"
        keys = ["key", "ver"]
        kwargs = lambda i, src: {"replace_keys": src.select("key")}  # noqa: E731
    else:
        schema = "key string, seq long, payload string, created long"
        keys = ["key"]
        kwargs = lambda i, src: {  # noqa: E731
            "preserve": ["created"],
            "dedupe_order": [F.col("seq").desc(), F.col("payload")],
            "set_on_insert": {"created": F.lit(i).cast("long")},
        }
    oracle = spark.createDataFrame([], schema)
    n_versions: dict = {}
    for i, (fresh, rows) in enumerate(batches):
        rows = [
            (f"b{i}:{k}" if fresh and k is not None else k, n, p)
            for k, n, p in rows
        ]
        if replace:
            # complete state per scope key: every stored version is re-sent
            first = {}
            for k, n, p in rows:
                first.setdefault(k, (n, p))
            src_rows = []
            for k, (n, p) in first.items():
                n_versions[k] = max(n + 1, n_versions.get(k, 0))
                src_rows += [(k, v, p) for v in range(n_versions[k])]
        else:
            src_rows = [(k, n, p, None) for k, n, p in rows]
        src = spark.createDataFrame(src_rows, schema)
        for t in tables:
            merge_upsert_scoped(spark, t, src, keys, **kwargs(i, src))
        plain = {
            k: v for k, v in kwargs(i, src).items() if k != "replace_keys"
        }
        oracle = merge_upsert(oracle, src, keys, **plain)
    want = sorted(repr(tuple(r)) for r in oracle.collect())
    for t in tables:
        got = sorted(repr(tuple(r)) for r in t.read(spark).collect())
        assert got == want, type(t).__name__
        for p in range(2):
            assert len(t.data_files(f"{PART_COL}={p}")) <= MAX_BUCKET_FILES


_delta_op = st.one_of(
    # upsert: rows of (key, seq, payload); dedupe=False lets duplicate
    # source keys pair with every stored copy, as a MERGE does
    st.tuples(
        st.just("upsert"),
        st.lists(
            st.tuples(
                _fold_key,
                st.integers(min_value=0, max_value=3),
                st.sampled_from(["p", "q", ""]),
            ),
            min_size=1,
            max_size=6,
        ),
        st.booleans(),
    ),
    st.tuples(st.just("replay")),
    st.tuples(st.just("split")),
)


@settings(
    # ~60 s on 4 cores; each suite run draws fresh sequences
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    replace=st.booleans(),
    ops=st.lists(_delta_op, min_size=3, max_size=9),
)
def test_delta_files_read_as_copy_on_write(spark, tmp_path_factory, replace, ops):
    """Random sequences of upserts and restatements (NULL and duplicate
    keys, duplicate source keys with and without ``dedupe_order``), or of
    ``replace_keys`` folds (keys re-sent and keys dropped), with replays
    of the last batch and bucket splits (``rebucket``), folded into a
    table on ParquetTable and ManifestTable: its buckets take appended,
    delta and rewritten files and compact at the file bound, and after
    every step a read equals a copy-on-write ``merge_upsert`` fold."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
        MAX_BUCKET_FILES,
        PART_COL,
        merge_upsert_scoped,
        rebucket,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
    )

    root = str(tmp_path_factory.mktemp("deltafold"))
    tables = [
        cls(f"{root}/{cls.__name__}", None, [PART_COL], n_buckets=1)
        for cls in (ParquetTable, ManifestTable)
    ]
    if replace:
        schema = "key string, ver long, payload string"
        keys = ["key", "ver"]
    else:
        schema = "key string, seq long, payload string, created long"
        keys = ["key"]

    def fold(oracle, src, kwargs):
        if "replace_keys" not in kwargs:
            return merge_upsert(oracle, src, keys, **kwargs)
        scope = kwargs["replace_keys"]
        kept = oracle.join(scope, oracle["key"].eqNullSafe(scope["key"]), "left_anti")
        return kept.unionByName(src)

    oracle = spark.createDataFrame([], schema)
    n, last = 1, None
    for i, op in enumerate(ops):
        if op[0] == "split":
            if tables[0].exists() and n < 4:
                n *= 2
                for t in tables:
                    rebucket(spark, t, n)
            continue
        if op[0] == "replay":
            if last is None:
                continue
            src, kwargs = last
        elif replace:
            # the complete state of each re-sent scope key: its new
            # versions; stored versions above the new count are dropped,
            # and a key sent with count 0 is dropped outright
            first = {}
            for k, c, p in op[1]:
                first.setdefault(k, (c, p))
            rows = [(k, v, p) for k, (c, p) in first.items() for v in range(c)]
            src = spark.createDataFrame(rows, schema)
            scope = spark.createDataFrame([(k,) for k in first], "key string")
            kwargs = {"replace_keys": scope}
        else:
            src = spark.createDataFrame([(k, c, p, None) for k, c, p in op[1]], schema)
            kwargs = {
                "preserve": ["created"],
                "set_on_insert": {"created": F.lit(i).cast("long")},
            }
            if op[2]:
                kwargs["dedupe_order"] = [F.col("seq").desc(), F.col("payload")]
        last = (src, kwargs)
        oracle = spark.createDataFrame(fold(oracle, src, kwargs).collect(), schema)
        # replace_keys may drop keys the source does not re-send: every
        # bucket is in scope
        parts = list(range(n)) if replace else None
        for t in tables:
            merge_upsert_scoped(spark, t, src, keys, parts=parts, **kwargs)
        want = sorted(repr(tuple(r)) for r in oracle.collect())
        for t in tables:
            # a first batch that sends no rows leaves no table
            rows = t.read(spark).collect() if t.exists() else []
            got = sorted(repr(tuple(r)) for r in rows)
            assert got == want, (type(t).__name__, i, op)
            for p in range(n):
                assert len(t.data_files(f"{PART_COL}={p}")) <= MAX_BUCKET_FILES


_ledger_op = st.one_of(
    # a new batch of (key, count) rows, keys distinct within the batch
    st.tuples(
        st.just("fold"),
        st.dictionaries(
            _fold_key, st.integers(min_value=1, max_value=3), min_size=1, max_size=5
        ),
    ),
    # a replay of one of the batches already applied (index mod their count)
    st.tuples(st.just("replay"), st.integers(min_value=0, max_value=20)),
    st.tuples(st.just("split")),
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_ledger_op, min_size=3, max_size=6))
# nine folds into one bucket: seven deltas, then a compaction at the bound
@example(ops=[("fold", {"0": 1, None: 2})] * 9 + [("replay", 3)])
def test_ledgered_delta_files_read_as_copy_on_write(spark, tmp_path_factory, ops):
    """Random sequences of additive folds (``merge_exprs`` plus a
    ``LedgerSpec``) with NULL keys, replays of applied batch ids and
    bucket splits (``rebucket``), on ParquetTable and ManifestTable: each
    bucket's new ledger row lands in the file written for it (appended,
    delta or, at the file bound, rewritten), and after every step a read
    equals the copy-on-write ``merge_upsert`` fold of the distinct
    batches, with one ledger row per bucket."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
        MAX_BUCKET_FILES,
        PART_COL,
        LedgerSpec,
        merge_upsert_scoped,
        rebucket,
    )
    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
    )

    from .helpers import snapshot

    root = str(tmp_path_factory.mktemp("ledgerfold"))
    tables = [
        cls(f"{root}/{cls.__name__}", None, [PART_COL], n_buckets=1)
        for cls in (ParquetTable, ManifestTable)
    ]
    schema = "k string, v long"
    add = {
        "v": lambda t, s: (F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))).cast(
            "long"
        )
    }
    ledger = LedgerSpec("__led__", "v")
    is_led = F.col("k").eqNullSafe(F.lit(ledger.sentinel))
    oracle = spark.createDataFrame([], schema)
    applied: list = []  # (batch_id, source) of every distinct batch
    n = 1
    for i, op in enumerate(ops):
        if op[0] == "split":
            if tables[0].exists() and n < 4:
                n *= 2
                for t in tables:
                    rebucket(spark, t, n)
            continue
        if op[0] == "replay":
            if not applied:
                continue
            batch_id, src = applied[op[1] % len(applied)]
        else:
            batch_id = len(applied)
            src = spark.createDataFrame(list(op[1].items()), schema)
            applied.append((batch_id, src))
            oracle = spark.createDataFrame(
                merge_upsert(oracle, src, ["k"], merge_exprs=add).collect(), schema
            )
        for t in tables:
            before = snapshot(t.path)
            merge_upsert_scoped(
                spark, t, src, ["k"], merge_exprs=add, ledger=ledger, batch_id=batch_id
            )
            new = [rel for rel, h in snapshot(t.path).items() if before.get(rel) != h]
            if op[0] == "replay":
                assert new == [], (type(t).__name__, i, op)
            # at most one new file per bucket: its rows and its ledger row
            buckets = [next(c for c in rel.split(os.sep) if c.startswith(PART_COL)) for rel in new]
            assert len(buckets) == len(set(buckets)), (type(t).__name__, i, op)
        want = sorted(repr(tuple(r)) for r in oracle.collect())
        for t in tables:
            got = sorted(repr(tuple(r)) for r in t.read(spark).filter(~is_led).collect())
            assert got == want, (type(t).__name__, i, op)
            per_bucket = t.scan(spark).filter(is_led).groupBy(PART_COL).count()
            assert per_bucket.filter(F.col("count") != 1).count() == 0
            for p in range(n):
                assert len(t.data_files(f"{PART_COL}={p}")) <= MAX_BUCKET_FILES
