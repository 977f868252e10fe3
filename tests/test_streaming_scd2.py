"""Streaming SCD2 maintenance == batch scd2_build over everything ingested
(streaming/scd2_stream.py), across micro-batch boundaries and a checkpoint
restart."""

from __future__ import annotations

import datetime as dt

from financial_data_ingestion_canonical_snowflake_spark.operators.scd import scd2_build
from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.scd2_stream import (
    Scd2Sink,
    rebuild_scd2,
    stream_scd2,
)

from .helpers import bucketed_table

_T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _ev(eid, user, secs, state):
    return (eid, user, _T0 + dt.timedelta(seconds=secs), state)


# in-order per key; state runs collapse within AND across batches
_BATCH_1 = [_ev(0, 1, 0, "a"), _ev(1, 1, 10, "a"), _ev(2, 2, 5, "x")]
_BATCH_2 = [_ev(3, 1, 20, "b"), _ev(4, 2, 15, "x"), _ev(5, 3, 7, "q")]
_BATCH_3 = [_ev(6, 1, 30, "b"), _ev(7, 2, 25, "y"), _ev(8, 1, 40, "a")]

_SCHEMA = "event_id long, user_id long, ts timestamp, event_type string"


def _write_batch(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _sorted_rows(df):
    cols = ["user_id", "version_n", "state", "eff_from_us", "eff_to_us", "is_current"]
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_stream_scd2_matches_batch_and_survives_restart(spark, tmp_path):
    src = str(tmp_path / "events_src")
    table = bucketed_table(tmp_path, "scd2")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, _BATCH_1)
    _write_batch(spark, src, _BATCH_2)
    q = stream_scd2(spark, src, table, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    sink = Scd2Sink(table, "user_id", "event_type", "ts", "event_id")
    batch_now = scd2_build(
        spark.createDataFrame(_BATCH_1 + _BATCH_2, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_now)

    # restart from the same checkpoint with a late file: only batch 3 folds
    _write_batch(spark, src, _BATCH_3)
    q2 = stream_scd2(spark, src, table, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    batch_all = scd2_build(
        spark.createDataFrame(_BATCH_1 + _BATCH_2 + _BATCH_3, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_all)

    # exactly one open version per key; cross-batch run (1,'b') collapsed
    rows = {(r["user_id"], r["version_n"]): r for r in sink.versions(spark).collect()}
    open_by_key = {}
    for (u, _v), r in rows.items():
        open_by_key[u] = open_by_key.get(u, 0) + r["is_current"]
    assert set(open_by_key.values()) == {1}
    assert rows[(1, 2)]["state"] == "b" and rows[(1, 3)]["state"] == "a"


def test_stream_scd2_rebuild_repairs_late_data_coarsening(spark, tmp_path):
    """The documented late-data caveat, exercised then repaired: an event
    older than an already-collapsed run folds in coarsened (the interior
    repeat that ended the run is gone), and rebuild_scd2 over the retained
    event log restores the exact batch scd2_build history."""
    src = str(tmp_path / "events_src")
    table = bucketed_table(tmp_path, "scd2")
    sink = Scd2Sink(table, "user_id", "event_type", "ts", "event_id")

    # batch 1 collapses user 1 to ONE 'a' run [0, inf); batch 2 then lands
    # t=10 'b' INSIDE that collapsed run, out of order
    early = [_ev(0, 1, 0, "a"), _ev(1, 1, 20, "a")]
    late = [_ev(2, 1, 10, "b")]
    sink(spark.createDataFrame(early, _SCHEMA), 0)
    sink(spark.createDataFrame(late, _SCHEMA), 1)

    batch_truth = scd2_build(
        spark.createDataFrame(early + late, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    # the incremental fold COARSENED history: a[0,10) b[10,inf) — the
    # return to 'a' at t=20 was collapsed away before the late event hit
    assert _sorted_rows(sink.versions(spark)) != _sorted_rows(batch_truth)
    assert sink.versions(spark).count() == 2
    assert batch_truth.count() == 3

    # periodic rebuild from the retained log restores batch semantics
    _write_batch(spark, src, early)
    _write_batch(spark, src, late)
    rebuild_scd2(spark, src, table)
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_truth)

    # rebuild is idempotent and leaves further incremental folds working
    rebuild_scd2(spark, src, table)
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_truth)
    more = [_ev(3, 1, 30, "c")]
    sink(spark.createDataFrame(more, _SCHEMA), 2)
    batch_more = scd2_build(
        spark.createDataFrame(early + late + more, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_more)


def test_stream_scd2_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-applying a micro-batch over the already-folded table (the
    at-least-once crash window) recomputes identical versions."""
    src = str(tmp_path / "events_src")
    table = bucketed_table(tmp_path, "scd2")
    sink = Scd2Sink(table, "user_id", "event_type", "ts", "event_id")

    b1 = spark.createDataFrame(_BATCH_1, _SCHEMA)
    b2 = spark.createDataFrame(_BATCH_2, _SCHEMA)
    sink(b1, 0)
    sink(b2, 1)
    first = _sorted_rows(sink.versions(spark))
    sink(b2, 1)  # replay
    assert _sorted_rows(sink.versions(spark)) == first


def test_rebuild_policy_auto_repairs_late_data(spark, tmp_path):
    """VERDICT r13 next-step #5: with a RebuildPolicy attached, a late
    (out-of-order) event triggers the rebuild path INSIDE its own
    trigger — stream state equals the batch scd2_build immediately, no
    manual rebuild_scd2 call — while in-order triggers never pay for a
    rebuild (cadence None, no false-positive detection)."""
    from financial_data_ingestion_canonical_snowflake_spark.streaming.scd2_stream import (
        RebuildPolicy,
    )

    src = str(tmp_path / "events_src")
    table = bucketed_table(tmp_path, "scd2")
    ckpt = str(tmp_path / "ckpt")
    pol = RebuildPolicy(source_dir=src)

    # in-order drain first: detection must NOT fire (rebuild counter
    # observable via the sink only in direct mode — assert via cost-free
    # equality instead: in-order incremental fold is already exact)
    early = [_ev(0, 1, 0, "a"), _ev(1, 1, 20, "a")]
    _write_batch(spark, src, early)
    q = stream_scd2(spark, src, table, ckpt, rebuild_policy=pol)
    q.awaitTermination(120)

    # late event INSIDE the collapsed 'a' run: without the policy this
    # coarsens (proven by test_stream_scd2_rebuild_repairs_late_data_
    # coarsening); with it, the same trigger detects and rebuilds
    late = [_ev(2, 1, 10, "b")]
    _write_batch(spark, src, late)
    q2 = stream_scd2(spark, src, table, ckpt, rebuild_policy=pol)
    q2.awaitTermination(120)

    sink = Scd2Sink(table, "user_id", "event_type", "ts", "event_id")
    batch_truth = scd2_build(
        spark.createDataFrame(early + late, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert batch_truth.count() == 3  # a[0,10) b[10,20) a[20,inf)
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_truth)

    # further in-order folds keep working on the rebuilt table
    more = [_ev(3, 1, 30, "c")]
    _write_batch(spark, src, more)
    q3 = stream_scd2(spark, src, table, ckpt, rebuild_policy=pol)
    q3.awaitTermination(120)
    batch_more = scd2_build(
        spark.createDataFrame(early + late + more, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_more)


def test_rebuild_policy_cadence_bound(spark, tmp_path):
    """every_n_triggers: the unconditional cadence rebuild fires on the
    Nth fold and repairs coarsening the boundary probe cannot see when
    detection is disabled."""
    from financial_data_ingestion_canonical_snowflake_spark.streaming.scd2_stream import (
        RebuildPolicy,
    )

    src = str(tmp_path / "events_src")
    table = bucketed_table(tmp_path, "scd2")
    pol = RebuildPolicy(
        source_dir=src, every_n_triggers=2, on_late_events=False
    )
    sink = Scd2Sink(
        table, "user_id", "event_type", "ts", "event_id", rebuild_policy=pol
    )

    early = [_ev(0, 1, 0, "a"), _ev(1, 1, 20, "a")]
    late = [_ev(2, 1, 10, "b")]
    _write_batch(spark, src, early)
    sink(spark.createDataFrame(early, _SCHEMA), 0)  # trigger 1: no rebuild
    _write_batch(spark, src, late)
    sink(spark.createDataFrame(late, _SCHEMA), 1)   # trigger 2: cadence hits

    batch_truth = scd2_build(
        spark.createDataFrame(early + late, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_truth)
    assert sink._triggers_since_rebuild == 0  # the cadence rebuild ran


def test_rebuild_policy_works_under_declared_schema(spark, tmp_path):
    """A user-declared version-table schema (the public SCD2 columns, no
    internal hwm marks) must not disable late-event detection: the sink's
    target read goes through the PHYSICAL scan seam, so the persisted
    hwm_us/hwm_seq survive even though table.read() projects them away."""
    from pyspark.sql import types as T

    from financial_data_ingestion_canonical_snowflake_spark.streaming.scd2_stream import (
        RebuildPolicy,
    )

    src = str(tmp_path / "events_src")
    declared = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("version_n", T.LongType()),
            T.StructField("state", T.StringType()),
            T.StructField("eff_from_us", T.LongType()),
            T.StructField("eff_to_us", T.LongType()),
            T.StructField("is_current", T.IntegerType()),
            T.StructField("eff_from_seq", T.LongType()),
        ]
    )
    table = ParquetTable(
        str(tmp_path / "scd2"), declared, [PART_COL], n_buckets=8
    )
    pol = RebuildPolicy(source_dir=src)
    sink = Scd2Sink(
        table, "user_id", "event_type", "ts", "event_id", rebuild_policy=pol
    )

    early = [_ev(0, 1, 0, "a"), _ev(1, 1, 20, "a")]
    late = [_ev(2, 1, 10, "b")]
    _write_batch(spark, src, early)
    sink(spark.createDataFrame(early, _SCHEMA), 0)
    _write_batch(spark, src, late)
    sink(spark.createDataFrame(late, _SCHEMA), 1)

    batch_truth = scd2_build(
        spark.createDataFrame(early + late, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    # pre-fix: read() dropped the hwm columns every trigger, has_hwm never
    # became True, the late event was undetected, and history stayed
    # coarsened at 2 rows (batch truth is 3: a[0,10) b[10,20) a[20,inf))
    assert batch_truth.count() == 3
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_truth)


def test_scd2_sink_on_manifest_table(spark, tmp_path):
    """The scoped SCD2 sink runs on the manifest (object-store) commit
    protocol: bucket-pruned target reads resolve the manifest's live
    leaves (a raw path read would scan unreferenced generations), folds
    land via manifest PUTs, and replay stays idempotent."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )
    table = ManifestTable(
        str(tmp_path / "scd2_m"), partition_by=[PART_COL], n_buckets=4
    )
    sink = Scd2Sink(table, "user_id", "event_type", "ts", "event_id")
    b1 = spark.createDataFrame(_BATCH_1, _SCHEMA)
    b2 = spark.createDataFrame(_BATCH_2, _SCHEMA)
    sink(b1, 0)
    sink(b2, 1)
    batch_truth = scd2_build(
        spark.createDataFrame(_BATCH_1 + _BATCH_2, _SCHEMA),
        "user_id", "event_type", "ts", "event_id",
    )
    assert _sorted_rows(sink.versions(spark)) == _sorted_rows(batch_truth)
    first = _sorted_rows(sink.versions(spark))
    sink(b2, 1)  # replay (at-least-once crash window)
    assert _sorted_rows(sink.versions(spark)) == first
