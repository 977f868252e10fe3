"""Streaming HLL maintenance == batch sketch of everything ingested
(streaming/sketch_stream.py), register-exact, across a restart."""

from __future__ import annotations

from financial_data_ingestion_canonical_snowflake_spark.operators.sketches import (
    hll_ndv,
    hll_state,
)
from financial_data_ingestion_canonical_snowflake_spark.plans.registry import table
from financial_data_ingestion_canonical_snowflake_spark.streaming.sketch_stream import (
    HllSink,
    stream_hll_ndv,
)

from .conftest import SF_SMOKE
from .helpers import bucketed_table


def _registers(df):
    return sorted((r["event_type"], r["bucket"], r["r"]) for r in df.collect())


def test_stream_hll_equals_batch_and_survives_restart(spark, tmp_path):
    src = str(tmp_path / "events_src")
    events = table(spark, SF_SMOKE, "events")
    # three arrival waves with overlapping users (the sketch must agree
    # with the batch union, not the sum of parts)
    events.filter("event_id % 3 = 0").coalesce(1).write.mode("append").parquet(src)
    events.filter("event_id % 3 = 1").coalesce(1).write.mode("append").parquet(src)

    t = bucketed_table(tmp_path, "hll")
    ckpt = str(tmp_path / "ckpt")
    q = stream_hll_ndv(spark, src, t, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    drained = spark.read.parquet(src)
    assert _registers(t.read(spark)) == _registers(
        hll_state(drained, ["event_type"], "user_id")
    )

    # restart with a late wave: only the new file folds; registers stay
    # exactly the batch state of the full union
    events.filter("event_id % 3 = 2").coalesce(1).write.mode("append").parquet(src)
    q2 = stream_hll_ndv(spark, src, t, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    full = spark.read.parquet(src)
    assert _registers(t.read(spark)) == _registers(
        hll_state(full, ["event_type"], "user_id")
    )

    # and the estimate read off the persisted registers equals the batch
    # one-call estimate exactly (same registers -> same arithmetic)
    sink = HllSink(t, ["event_type"], "user_id")
    got = {r["event_type"]: r["approx_ndv"] for r in sink.estimate(spark).collect()}
    want = {
        r["event_type"]: r["approx_ndv"]
        for r in hll_ndv(full, ["event_type"], "user_id").collect()
    }
    assert got == want


def test_stream_hll_replay_idempotent(spark, tmp_path):
    """Re-applying a micro-batch (the at-least-once crash window) cannot
    change the registers — max-merge is idempotent."""
    events = table(spark, SF_SMOKE, "events").filter("event_id < 500")
    t = bucketed_table(tmp_path, "hll")
    sink = HllSink(t, ["event_type"], "user_id")
    sink(events, 0)
    first = _registers(t.read(spark))
    sink(events, 0)  # replay
    assert _registers(t.read(spark)) == first
