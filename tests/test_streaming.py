"""Structured-Streaming tests: file-source ingestion, watermarked windows,
streaming dedupe, and the foreachBatch merge sink (SURVEY.md §2.12).

Each test streams a fixture directory with ``availableNow`` (drain-and-stop)
and checks the result against the equivalent batch computation — streaming
and batch must agree on the same inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import PART_COL
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import ParquetTable
from financial_data_ingestion_canonical_snowflake_spark.plans.registry import table
from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
    MergeSink,
    file_stream,
    start_merge_stream,
    streaming_dedupe,
    watermarked_window_agg,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events rewritten as multiple proper-timestamp parquet files (the
    driver's file is TIMESTAMP(NANOS), unreadable by a streaming scan)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def _drain(stream_df, tmp_path, mode="append"):
    name = f"mem_{abs(hash(tmp_path)) % 10**8}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return stream_df.sparkSession.table(name)


def test_file_stream_reads_all_rows(spark, events_dir, tmp_path):
    stream = file_stream(spark, events_dir, max_files_per_trigger=2)
    got = _drain(stream, tmp_path).count()
    want = spark.read.parquet(events_dir).count()
    assert got == want


def test_watermarked_window_agg_matches_batch(spark, events_dir, tmp_path):
    stream = file_stream(spark, events_dir)
    agg = watermarked_window_agg(
        stream,
        "ts",
        window="1 hour",
        watermark="1 hour",
        group_cols=("event_type",),
        aggs={"event_cnt": F.count(F.lit(1)), "total_value": F.sum("value")},
    )
    # complete mode emits every window regardless of watermark progress, so
    # the drained result is directly comparable to batch
    got = _drain(agg, tmp_path, mode="complete")

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_cnt"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "event_cnt",
            "total_value",
        )
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, batch.collect()))
    assert got_rows == want_rows


def test_streaming_dedupe_one_survivor_per_key(spark, events_dir, tmp_path):
    base = spark.read.parquet(events_dir)
    dup_dir = f"{tmp_path}/dup_events"
    base.unionByName(base).repartition(3).write.parquet(dup_dir)  # every row twice

    stream = file_stream(spark, dup_dir)
    deduped = streaming_dedupe(stream, keys=["event_id"], ts_col="ts", watermark="1 hour")
    got = _drain(stream_df=deduped, tmp_path=f"{tmp_path}/d")
    n_keys = base.select("event_id").distinct().count()
    assert got.count() == n_keys
    assert got.select("event_id").distinct().count() == n_keys


def test_foreach_batch_merge_upserts_incrementally(spark, events_dir, tmp_path):
    """Two micro-batches touching the same keys -> merged table equals the
    latest-state batch answer, and reruns are idempotent."""
    src = spark.read.parquet(events_dir).select("event_id", "event_type", "value", "ts")

    # batch 1: all rows; batch 2: re-deliver half with updated value
    b1_dir, b2_dir = f"{tmp_path}/in/b1", f"{tmp_path}/in/b2"
    src.write.parquet(b1_dir)
    updated = src.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.col("value") + 1000.0
    )
    updated.write.parquet(b2_dir)

    target = ParquetTable(f"{tmp_path}/tbl", src.schema, [PART_COL], 8)
    sink = MergeSink(target, keys=["event_id"], dedupe_order=[F.col("ts").desc()])
    stream = file_stream(
        spark, f"{tmp_path}/in/*", schema=src.schema, max_files_per_trigger=1
    )
    q = start_merge_stream(stream, sink, f"{tmp_path}/ckpt", available_now=True)
    q.awaitTermination(180)

    result = target.read(spark)
    assert result.count() == src.count()
    # every even key carries the updated value, odd keys the original
    merged = result.alias("r").join(updated.alias("u"), "event_id").filter(
        F.col("r.value") != F.col("u.value")
    )
    assert merged.count() == 0

    # idempotency: re-merging batch 2 changes nothing (snapshot rows first —
    # the swap invalidates DataFrames planned against the old file set)
    before = sorted(map(tuple, result.collect()))
    sink(spark.read.parquet(b2_dir), batch_id=99)
    after = sorted(map(tuple, target.read(spark).collect()))
    assert after == before


def test_stream_raw_to_canonical_matches_batch(spark, tmp_path):
    """Streaming the raw JSON bronze dir through the header transform +
    merge (stages 03+05a incremental) produces the same CAN_TXN rows as the
    batch pipeline, file-by-file micro-batches included."""
    import datetime as dt
    import os

    from financial_data_ingestion_canonical_snowflake_spark import schemas
    from financial_data_ingestion_canonical_snowflake_spark.examples import write_fixtures
    from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
        Pipeline,
        PipelineConfig,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming.pipeline_stream import (
        stream_raw_to_canonical,
    )

    batch_ts = dt.datetime(2026, 2, 1)
    ingest_root = write_fixtures(os.path.join(tmp_path, "ingest"))
    cfg = PipelineConfig(
        ingest_root=ingest_root,
        warehouse=os.path.join(tmp_path, "wh"),
        batch_ts=batch_ts,
    )
    pipe = Pipeline(spark, cfg)
    pipe.run_batch()

    want = sorted(
        map(
            tuple,
            pipe.can_txn.read(spark)
            .filter(F.col("source_system") == "JSON")
            .collect(),
        )
    )

    # one micro-batch == batch pipeline exactly (incl. DUPLICATE_TXN flags)
    target = ParquetTable(
        f"{tmp_path}/stream_can_txn", schemas.CAN_TXN, [PART_COL], 8
    )
    q = stream_raw_to_canonical(
        spark,
        pipe.raw_tables["JSON"].path,
        target,
        checkpoint_dir=f"{tmp_path}/ckpt",
        source_system="JSON",
        batch_ts=batch_ts,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, target.read(spark).collect()))
    assert got == want

    # file-by-file micro-batches: same key set, same rows — except keys whose
    # duplicates arrived in different micro-batches (documented divergence:
    # merge dedupes them latest-wins but can't re-flag across batches)
    dup_ids = {
        r.canonical_txn_id
        for r in pipe.can_txn.read(spark)
        .filter((F.col("source_system") == "JSON") & (F.col("is_valid") == False))  # noqa: E712
        .filter(F.array_contains("anomaly_codes", "DUPLICATE_TXN"))
        .collect()
    }
    target2 = ParquetTable(
        f"{tmp_path}/stream_can_txn2", schemas.CAN_TXN, [PART_COL], 8
    )
    q2 = stream_raw_to_canonical(
        spark,
        pipe.raw_tables["JSON"].path,
        target2,
        checkpoint_dir=f"{tmp_path}/ckpt2",
        source_system="JSON",
        batch_ts=batch_ts,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(180)
    got2 = target2.read(spark)
    assert {r.canonical_txn_id for r in got2.collect()} == {r[0] for r in want}
    stable = sorted(
        map(tuple, got2.filter(~F.col("canonical_txn_id").isin(dup_ids)).collect())
    )
    want_stable = [r for r in want if r[0] not in dup_ids]
    assert stable == want_stable
    assert len(dup_ids) > 0  # the fixtures do exercise the divergence


def test_observed_audit_lands_per_batch(spark, events_dir, tmp_path):
    """S11 streaming variant: df.observe metrics + listener append one audit
    row per non-empty micro-batch, totals matching the input row count."""
    import time

    from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
        AuditListener,
        with_observed_metrics,
    )

    audit = ParquetTable(f"{tmp_path}/audit")
    listener = AuditListener(spark, audit).register()
    try:
        stream = with_observed_metrics(
            file_stream(spark, events_dir, max_files_per_trigger=2)
        )
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", f"{tmp_path}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async; poll until the appends land (reads
        # can transiently race an in-flight append -> retry, don't fail)
        deadline = time.time() + 60
        want = spark.read.parquet(events_dir).count()
        rows = []
        while time.time() < deadline:
            try:
                if audit.exists():
                    rows = spark.read.parquet(audit.path).collect()
                    if sum(r.rows_parsed for r in rows) >= want:
                        break
            except Exception:
                pass
            time.sleep(1)
        assert sum(r.rows_parsed for r in rows) == want
        assert all(r.load_status == "LOADED" for r in rows)
        assert len(rows) >= 2  # maxFilesPerTrigger=2 over 4 files
    finally:
        listener.unregister()


def test_stream_raw_csv_to_canonical_matches_batch(spark, tmp_path):
    """Same incremental canonicalization check for the CSV raw table —
    positional array payloads flow through the streaming transform too."""
    import datetime as dt
    import os

    from financial_data_ingestion_canonical_snowflake_spark import schemas
    from financial_data_ingestion_canonical_snowflake_spark.examples import write_fixtures
    from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
        Pipeline,
        PipelineConfig,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming.pipeline_stream import (
        stream_raw_to_canonical,
    )

    batch_ts = dt.datetime(2026, 2, 1)
    root = write_fixtures(os.path.join(tmp_path, "ingest"))
    pipe = Pipeline(
        spark,
        PipelineConfig(root, os.path.join(tmp_path, "wh"), batch_ts=batch_ts),
    )
    pipe.run_batch()
    want = sorted(
        map(
            tuple,
            pipe.can_txn.read(spark).filter(F.col("source_system") == "CSV").collect(),
        )
    )

    target = ParquetTable(f"{tmp_path}/stream_csv", schemas.CAN_TXN, [PART_COL], 8)
    q = stream_raw_to_canonical(
        spark,
        pipe.raw_tables["CSV"].path,
        target,
        checkpoint_dir=f"{tmp_path}/ckpt_csv",
        source_system="CSV",
        batch_ts=batch_ts,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, target.read(spark).collect()))
    assert got == want and len(got) > 0


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Watermarked stream-stream join (errors <- clicks within the prior
    hour) drains to exactly the rows the identical batch join produces —
    the state-bounded attribution join of §2.12."""
    from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    def frames(reader):
        ev = reader
        errors = ev.filter(F.col("event_type") == "error").select(
            "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
        )
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
        )
        return errors, clicks

    kw = dict(
        on=["user_id"],
        left_ts="err_ts",
        right_ts="click_ts",
        lower="INTERVAL 1 HOUR",
        upper="INTERVAL 0 SECONDS",
        watermark="2 hours",
    )
    # batch oracle: same operator over batch frames (watermark no-ops)
    b_err, b_click = frames(spark.read.parquet(events_dir))
    want = sorted(
        map(tuple, stream_stream_interval_join(b_err, b_click, **kw).collect())
    )
    assert len(want) > 0  # fixture must actually exercise the band

    s_err, s_click = frames(file_stream(spark, events_dir, max_files_per_trigger=2))
    got = sorted(
        map(
            tuple,
            _drain(
                stream_stream_interval_join(s_err, s_click, **kw), str(tmp_path)
            ).collect(),
        )
    )
    assert got == want


def test_stream_stream_interval_join_rejects_ambiguity(spark, events_dir, tmp_path):
    from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    ev = spark.read.parquet(events_dir)
    with pytest.raises(ValueError, match="ambiguous"):
        stream_stream_interval_join(
            ev, ev, on=["user_id"], left_ts="ts", right_ts="ts"
        )


def test_stream_xml_ingest_matches_batch(spark, tmp_path):
    """Streaming XML COPY == batch read_raw_xml on the same fixture files:
    same payload VARIANTs, same lineage, same per-document error capture."""
    from financial_data_ingestion_canonical_snowflake_spark.examples import (
        write_fixtures,
    )
    from financial_data_ingestion_canonical_snowflake_spark.sources.readers import (
        CopySpec,
        read_raw_xml,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
        xml_file_stream,
    )

    root = write_fixtures(str(tmp_path / "ingest"))
    spec = CopySpec(
        file_type="XML", path=f"{root}/client_a/xml/", client_id="ClientA"
    )

    streamed = _drain(
        xml_file_stream(spark, spec, root, max_files_per_trigger=2),
        str(tmp_path / "xml_stream"),
    )
    batch = read_raw_xml(spark, spec, root, None)

    def canon(df):
        return sorted(
            (
                r["client_id"],
                r["src_file"].rsplit("/", 1)[-1],
                r["src_row_number"],
                str(r["payload"]),
                r["_load_error"],
            )
            for r in df.collect()
        )

    got, want = canon(streamed), canon(batch)
    assert got == want
    assert len(got) > 0
    # multiple micro-batches actually happened (maxFilesPerTrigger=2 over
    # 5 fixture files) and every document still converted exactly once
    assert len({g[1] for g in got}) == 5


def test_stream_full_canonical_chain_matches_batch(spark, tmp_path):
    """Streaming the raw JSON bronze dir through the FULL canonical chain
    (03 -> 05a -> 04 -> 05b -> 06) in one availableNow drain produces the
    same CAN_TXN, CAN_TXN_LINE, and CAN_TXN_ANOMALY rows as the batch
    pipeline, and a replayed micro-batch changes nothing."""
    import datetime as dt
    import os

    from financial_data_ingestion_canonical_snowflake_spark import schemas
    from financial_data_ingestion_canonical_snowflake_spark.examples import write_fixtures
    from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
        Pipeline,
        PipelineConfig,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming.pipeline_stream import (
        FullCanonicalSink,
        stream_raw_to_full_canonical,
    )

    batch_ts = dt.datetime(2026, 2, 1)
    ingest_root = write_fixtures(os.path.join(tmp_path, "ingest"))
    cfg = PipelineConfig(
        ingest_root=ingest_root,
        warehouse=os.path.join(tmp_path, "wh"),
        batch_ts=batch_ts,
    )
    pipe = Pipeline(spark, cfg)
    pipe.run_batch()

    def _json_rows(table, src_col="source_system"):
        df = table.read(spark)
        if src_col in df.columns:
            df = df.filter(F.col(src_col) == "JSON")
        return sorted(map(tuple, df.collect()))

    want_txn = _json_rows(pipe.can_txn)
    json_ids = {r[0] for r in want_txn}
    # CAN_TXN_LINE has no source_system column — restrict via JSON header ids
    want_line = sorted(
        map(
            tuple,
            pipe.can_txn_line.read(spark)
            .filter(F.col("canonical_txn_id").isin(json_ids))
            .collect(),
        )
    )
    want_anom = _json_rows(pipe.can_txn_anomaly)
    assert want_anom, "fixtures must exercise anomalies"

    txn = ParquetTable(f"{tmp_path}/s_can_txn", schemas.CAN_TXN, [PART_COL], 8)
    line = ParquetTable(
        f"{tmp_path}/s_can_line", schemas.CAN_TXN_LINE, [PART_COL], 8
    )
    anom = ParquetTable(
        f"{tmp_path}/s_can_anom", schemas.CAN_TXN_ANOMALY, [PART_COL], 8
    )
    q = stream_raw_to_full_canonical(
        spark,
        pipe.raw_tables["JSON"].path,
        txn, line, anom,
        checkpoint_dir=f"{tmp_path}/ckpt_full",
        source_system="JSON",
        batch_ts=batch_ts,
    )
    assert q.awaitTermination(240), "stream did not drain within 240s"

    assert sorted(map(tuple, txn.read(spark).collect())) == want_txn
    assert sorted(map(tuple, line.read(spark).collect())) == want_line
    assert sorted(map(tuple, anom.read(spark).collect())) == want_anom

    # replay idempotency: re-running the whole raw dir as one batch through
    # the sink changes none of the three tables
    sink = FullCanonicalSink(txn, line, anom, source_system="JSON", batch_ts=batch_ts)
    sink(spark.read.parquet(pipe.raw_tables["JSON"].path), batch_id=99)
    assert sorted(map(tuple, txn.read(spark).collect())) == want_txn
    assert sorted(map(tuple, line.read(spark).collect())) == want_line
    assert sorted(map(tuple, anom.read(spark).collect())) == want_anom


def test_streaming_session_window_matches_batch(spark, events_dir, tmp_path):
    """The SAME session_window aggregate runs unchanged under a real
    readStream (state-store session merging) and equals the batch result —
    the claim ns_session_window_native's docstring makes, proven on a
    complete-mode drain."""
    def session_agg(df):
        return (
            df.filter(F.col("user_id").isNotNull())
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
            )
            .select(
                "user_id", F.col("w.start").alias("ws"), F.col("w.end").alias("we"),
                "n_events", "total_value",
            )
        )

    stream = file_stream(spark, events_dir, max_files_per_trigger=2).withWatermark(
        "ts", "2 hours"
    )
    got = _drain(session_agg(stream), tmp_path, mode="complete")
    want = session_agg(spark.read.parquet(events_dir))
    as_rows = lambda df: sorted(  # noqa: E731
        (r["user_id"], r["ws"], r["we"], r["n_events"], str(r["total_value"]))
        for r in df.collect()
    )
    assert as_rows(got) == as_rows(want)


def test_session_window_exact_gap_boundary(spark):
    """Two events exactly `gap` apart MERGE into one session (inclusive
    boundary — the rule the ns_session_window_native oracle mirrors with
    its `> gap` new-session predicate)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [(1, t0, 1), (1, t0 + dt.timedelta(minutes=30), 2)],
        "user_id long, ts timestamp, event_id long",
    )
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(out) == 1 and out[0]["n"] == 2
