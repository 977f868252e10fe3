"""Streaming schema evolution through the scoped-merge path (VERDICT r12
next-step #5): a mid-stream column addition widens a bucketed state table
IN PLACE — no state rebuild.

Mechanism: only the touched buckets rewrite with the evolved schema; the
union schema is recorded in the table metadata (``schema_json``) and every
subsequent read supplies it explicitly, so untouched buckets' old files
(bit-identical, old physical schema) read the added columns as typed
NULLs — the plain-parquet analog of a metadata-only ADD COLUMN. Proven
here at three layers: the scoped merge itself (ledger included), the
exact-dedup sink growing survivor payload columns across a RESTART of a
real stream, and the SCD2 sink folding against an operator-widened
version table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
    LedgerSpec,
    merge_upsert_scoped,
    rebucket,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.scd import (
    scd2_build,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.text_dedup import (
    exact_dedup,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
    ExactDedupSink,
    stream_exact_dedup,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.scd2_stream import (
    Scd2Sink,
)


from .helpers import bucketed_table as _bucketed
from .helpers import snapshot as _snapshot


def test_scoped_merge_evolves_in_place_with_ledger(spark, tmp_path):
    table = _bucketed(tmp_path, "t", n_buckets=8)
    ledger = LedgerSpec("__led__", "v")
    add = {"v": lambda t, s: (F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))).cast("long")}
    b0 = spark.createDataFrame(
        [(f"k{i}", i) for i in range(40)], "k string, v long"
    )
    merge_upsert_scoped(
        spark, table, b0, keys=["k"], merge_exprs=add,
        ledger=ledger, batch_id=0,
    )
    before = _snapshot(table.path)

    # batch 1 touches ONE key and carries a NEW column
    b1 = spark.createDataFrame(
        [("k7", 7, "fresh")], "k string, v long, tag string"
    )
    merge_upsert_scoped(
        spark, table, b1, keys=["k"], merge_exprs=add,
        ledger=ledger, batch_id=1, evolve_schema=True,
    )

    # untouched buckets: files byte-identical (old physical schema stays)
    after = _snapshot(table.path)
    changed_buckets = {
        p.split(os.sep, 1)[0]
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    assert len(changed_buckets) == 1

    # the union schema is recorded and drives every read: old rows read
    # the new column as typed NULL, the touched row carries its value
    assert table.stored_schema() is not None
    data = table.read(spark).filter(F.col("k") != "__led__")
    got = {r["k"]: (r["v"], r["tag"]) for r in data.collect()}
    assert len(got) == 40
    assert got["k7"] == (14, "fresh")  # additive fold + new payload
    assert all(tag is None for k, (_v, tag) in got.items() if k != "k7")

    # replay of the evolving batch is still a per-bucket-ledger no-op
    state = _snapshot(table.path)
    merge_upsert_scoped(
        spark, table, b1, keys=["k"], merge_exprs=add,
        ledger=ledger, batch_id=1, evolve_schema=True,
    )
    assert _snapshot(table.path) == state

    # a later non-evolving fold keeps working over the mixed layout, and
    # unspoken columns are preserved (not nulled) on matched rows
    b2 = spark.createDataFrame(
        [("k7", 100, None), ("k9", 9, "late")],
        "k string, v long, tag string",
    )
    merge_upsert_scoped(
        spark, table, b2, keys=["k"],
        merge_exprs={**add, "tag": lambda t, s: F.coalesce(s, t)},
        ledger=ledger, batch_id=2, evolve_schema=True,
    )
    data = table.read(spark).filter(F.col("k") != "__led__")
    got = {r["k"]: (r["v"], r["tag"]) for r in data.collect()}
    assert got["k7"] == (114, "fresh") and got["k9"] == (18, "late")

    # maintenance still works over the evolved (mixed-file) layout
    rebucket(spark, table, 16)
    data = table.read(spark).filter(F.col("k") != "__led__")
    got2 = {r["k"]: (r["v"], r["tag"]) for r in data.collect()}
    assert got2 == got and table.read_meta()["n_buckets"] == 16


def test_exact_dedup_payload_evolution_across_stream_restart(spark, tmp_path):
    """Phase A streams without payload; phase B RESTARTS the sink with
    ``payload_cols`` — the state widens in place mid-stream and the fold
    matches batch ``exact_dedup`` semantics (pre-evolution survivors keep
    NULL payload unless a smaller id backfills them)."""
    src = str(tmp_path / "src")
    rows_a = [(10, "alpha text", "en"), (11, "beta text", "de")]
    rows_b = [
        (3, "alpha text", "fr"),   # smaller id for an EXISTING hash ->
                                   # survivor and payload backfill
        (20, "gamma text", "es"),  # brand-new hash
    ]
    cols = ["doc_id", "text", "lang"]
    spark.createDataFrame(rows_a, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    table = _bucketed(tmp_path, "survivors")
    q = stream_exact_dedup(
        spark, src, table, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert q.awaitTermination(120)
    assert "lang" not in table.read(spark).columns

    # restart, now tracking the payload — no rebuild, same checkpoint
    spark.createDataFrame(rows_b, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    table_b = ParquetTable(
        str(tmp_path / "survivors"), partition_by=[PART_COL], n_buckets=8
    )
    q2 = stream_exact_dedup(
        spark,
        src,
        table_b,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        payload_cols=["lang"],
    )
    assert q2.awaitTermination(120)

    sink = ExactDedupSink(table_b, "doc_id", "text", payload_cols=["lang"])
    got = {
        r["content_hash"]: (r["survivor_id"], r["dup_cnt"], r["lang"])
        for r in sink.survivors(spark).collect()
    }
    union = spark.createDataFrame(rows_a + rows_b, cols)
    want = {
        r["content_hash"]: (r["survivor_id"], r["dup_cnt"], r["lang"])
        for r in exact_dedup(union, "doc_id", "text", ["lang"]).collect()
    }
    # non-payload columns equal the batch operator EVERYWHERE
    assert {h: v[:2] for h, v in got.items()} == {
        h: v[:2] for h, v in want.items()
    }
    by_sid = {v[0]: (h, v) for h, v in got.items()}
    # backfilled hash: smaller id arrived post-evolution -> payload real
    assert by_sid[3][1][2] == "fr" == want[by_sid[3][0]][2]
    # new hash post-evolution -> payload real
    assert by_sid[20][1][2] == "es"
    # pre-evolution survivor never touched by a smaller id -> NULL payload
    # (the documented mergeSchema old-rows semantics; batch twin says "de")
    assert by_sid[11][1][2] is None and want[by_sid[11][0]][2] == "de"

    # replay protection still holds over the evolved state
    state = _snapshot(table.path)
    sink(spark.createDataFrame(rows_b, cols), 1)
    assert _snapshot(table.path) == state


def test_scd2_sink_folds_against_widened_version_table(spark, tmp_path):
    """An operator widens the version table (evolve merge adds a column);
    the SCD2 sink with ``evolve_schema=True`` keeps folding — widened
    values are PRESERVED on re-collapsed versions, never nulled, and the
    core version history still equals the batch build."""
    from pyspark.sql import Row

    def ev(uid, state, sec, seq):
        return Row(
            user_id=uid,
            event_type=state,
            ts=f"2024-01-01 00:00:{sec:02d}",
            event_id=seq,
        )

    def frame(rows):
        return spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    table = _bucketed(tmp_path, "versions")
    sink = Scd2Sink(
        table, "user_id", "event_type", "ts", "event_id", evolve_schema=True
    )
    batch1 = [ev(1, "a", 1, 1), ev(1, "b", 2, 2), ev(2, "x", 1, 3)]
    sink(frame(batch1), 0)

    # widen: annotate one existing version row via an evolving merge
    note = (
        table.read(spark)
        .filter((F.col("user_id") == 1) & (F.col("version_n") == 1))
        .withColumn("note", F.lit("audited"))
    )
    merge_upsert_scoped(
        spark,
        table,
        note,
        keys=["user_id", "version_n"],
        evolve_schema=True,
    )
    assert "note" in table.read(spark).columns

    # keep streaming: key 1 gains a version, key 3 appears
    batch2 = [ev(1, "c", 3, 4), ev(3, "y", 1, 5)]
    sink(frame(batch2), 1)

    versions = sink.versions(spark)
    want = scd2_build(
        frame(batch1 + batch2), "user_id", "event_type", "ts", "event_id"
    )
    core = [c for c in want.columns]
    assert sorted(
        tuple(r) for r in versions.select(*core).collect()
    ) == sorted(tuple(r) for r in want.collect())
    # the annotation survived the re-collapse of key 1's history
    notes = {
        (r["user_id"], r["version_n"]): r["note"]
        for r in versions.collect()
    }
    assert notes[(1, 1)] == "audited"
    assert all(
        v is None for k, v in notes.items() if k != (1, 1)
    )


def test_exact_dedup_payload_downgrade_preserves_stored_payload(
    spark, tmp_path
):
    """The REVERSE restart (payload_cols dropped — config rollback) must
    neither crash the fold nor erase stored payload values: the unspoken
    column is preserved on matched survivors, and every core column still
    equals the batch operator over the whole ingested union."""
    rows = [(10, "alpha text", "en"), (11, "beta text", "de")]
    more = [(12, "alpha text", "fr"), (20, "gamma text", "es")]
    cols = ["doc_id", "text", "lang"]
    up = ExactDedupSink(
        _bucketed(tmp_path, "surv"), "doc_id", "text", payload_cols=["lang"]
    )
    up(spark.createDataFrame(rows, cols), 0)

    # rollback restart: fresh table object, NO payload tracking
    t2 = _bucketed(tmp_path, "surv")
    down = ExactDedupSink(t2, "doc_id", "text")
    down(spark.createDataFrame(more, cols), 1)

    full = ExactDedupSink(t2, "doc_id", "text", payload_cols=["lang"])
    survivors = full.survivors(spark).collect()
    got = {r["survivor_id"]: (r["dup_cnt"], r["lang"]) for r in survivors}
    # folds applied, stored payload preserved (not nulled/erased); the
    # downgraded software simply didn't speak to the column
    assert got[10] == (2, "en")   # alpha: dup from doc 12 counted
    assert got[11] == (1, "de")   # untouched survivor keeps payload
    assert got[20][0] == 1        # new hash inserted by the downgrade
    core = ("content_hash", "survivor_id", "dup_cnt")
    union = spark.createDataFrame(rows + more, cols)
    assert sorted(tuple(r[c] for c in core) for r in survivors) == sorted(
        tuple(r[c] for c in core)
        for r in exact_dedup(union, "doc_id", "text").collect()
    )


def test_payload_downgrade_with_declared_core_schema(spark, tmp_path):
    """The sharpest form of the rollback: the restart declares the CORE
    SURVIVOR_SCHEMA explicitly over a payload-widened table. The declared
    schema must stay a read-surface narrowing — the fold merges against
    the full physical schema, so the stored payload survives the fold."""
    from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (
        SURVIVOR_SCHEMA,
    )

    cols = ["doc_id", "text", "lang"]
    rows = [(10, "alpha", "en"), (11, "beta", "de")]
    more = [(20, "gamma", "es")]
    up = ExactDedupSink(
        _bucketed(tmp_path, "surv_decl"), "doc_id", "text", payload_cols=["lang"]
    )
    up(spark.createDataFrame(rows, cols), 0)

    t2 = ParquetTable(
        str(tmp_path / "surv_decl"), SURVIVOR_SCHEMA, [PART_COL], n_buckets=8
    )
    down = ExactDedupSink(t2, "doc_id", "text")
    down(spark.createDataFrame(more, cols), 1)

    full = ExactDedupSink(
        _bucketed(tmp_path, "surv_decl"), "doc_id", "text", payload_cols=["lang"]
    )
    survivors = full.survivors(spark).collect()
    assert {r["survivor_id"]: r["lang"] for r in survivors} == {
        10: "en",
        11: "de",
        20: None,
    }
    core = ("content_hash", "survivor_id", "dup_cnt")
    union = spark.createDataFrame(rows + more, cols)
    assert sorted(tuple(r[c] for c in core) for r in survivors) == sorted(
        tuple(r[c] for c in core)
        for r in exact_dedup(union, "doc_id", "text").collect()
    )
