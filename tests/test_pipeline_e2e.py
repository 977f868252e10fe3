"""End-to-end pipeline tests over the FIXTURES.md source files.

Covers the invariants listed at FIXTURES.md §A4: every row lands, exactly one
survivor per business key, is_valid == (anomaly_codes empty), one-code-per-row
line anomalies, NULL-business-key collapse, payload-hash fallback IDs,
STRIP_OUTER_ARRAY, currency fallbacks, audit capture of malformed files,
merge idempotency, and incremental loads.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
    Pipeline,
    PipelineConfig,
)

from financial_data_ingestion_canonical_snowflake_spark.examples import write_fixtures

TS1 = dt.datetime(2026, 2, 1, 0, 0, 0)
TS2 = dt.datetime(2026, 2, 2, 0, 0, 0)


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    return write_fixtures(str(tmp_path_factory.mktemp("ingest")))


@pytest.fixture(scope="module")
def ran(spark, fixture_root, tmp_path_factory):
    """Run the faithful-mode pipeline once; share across assertions."""
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cfg = PipelineConfig(ingest_root=fixture_root, warehouse=wh, batch_ts=TS1)
    pipe = Pipeline(spark, cfg)
    result = pipe.run_batch()
    return pipe, result


@pytest.fixture(scope="module")
def ran_row_mode(spark, fixture_root, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse_row"))
    cfg = PipelineConfig(
        ingest_root=fixture_root, warehouse=wh, batch_ts=TS1, join_mode="row"
    )
    pipe = Pipeline(spark, cfg)
    result = pipe.run_batch()
    return pipe, result


def _txn(pipe, spark):
    return pipe.can_txn.read(spark)


def test_all_transactions_land(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    assert txn.count() == 16
    # one row per canonical id (merge-key uniqueness)
    assert txn.select("canonical_txn_id").distinct().count() == 16


def test_counts_per_client_source(spark, ran):
    pipe, _ = ran
    got = {
        (r.client_id, r.source_system): (r.txn_count, r.valid_txn_count, r.invalid_txn_count)
        for r in ran[1]["views"]["vw_canon_counts"].collect()
    }
    assert got == {
        ("ClientA", "XML"): (4, 1, 3),
        ("ClientA", "CSV"): (4, 1, 3),
        ("ClientC", "JSON"): (6, 4, 2),
        ("ClientC", "CSV"): (2, 1, 1),
    }


def test_survivorship_one_per_business_key(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    # TXN-2002 appeared in two files; exactly one canonical row
    assert txn.filter(F.col("source_txn_id") == "TXN-2002").count() == 1
    assert txn.filter(F.col("source_txn_id") == "TXN-1005").count() == 1
    # the duplicated business keys are flagged
    anom = pipe.can_txn_anomaly.read(spark)
    dup_ids = {r.source_txn_id for r in txn.join(
        anom.filter(F.col("anomaly_code") == "DUPLICATE_TXN"), "canonical_txn_id"
    ).select(txn.source_txn_id).collect()}
    assert dup_ids == {"TXN-2002", "TXN-3001", "TXN-1005"}


def test_null_business_key_hash_fallback(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    # JSON txn_1004 has no id: source_txn_id becomes the payload hash
    r = txn.filter(F.col("src_file").endswith("txn_1004.json")).collect()
    assert len(r) == 1
    assert len(r[0].source_txn_id) == 64  # sha-256 hex
    assert r[0].canonical_txn_id is not None
    assert "MISSING_REQUIRED" in r[0].anomaly_codes  # amount absent


def test_strip_outer_array(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    rows = txn.filter(F.col("src_file").endswith("txn_1003.json"))
    got = {r.source_txn_id for r in rows.collect()}
    assert got == {"TXN-1003a", "TXN-1003b"}
    # per-file row numbers live in the RAW layer (METADATA$FILE_ROW_NUMBER)
    raw = pipe.raw_tables["JSON"].read(spark)
    raw_rows = raw.filter(F.col("src_file").endswith("txn_1003.json"))
    assert {r.src_row_number for r in raw_rows.collect()} == {1, 2}


def test_is_valid_matches_anomaly_codes(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    bad = txn.filter(F.col("is_valid") != (F.size("anomaly_codes") == 0)).count()
    assert bad == 0


def test_header_anomaly_codes(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    codes = {
        r.source_txn_id: sorted(r.anomaly_codes)
        for r in txn.filter(F.col("source_txn_id").startswith("TXN-")).collect()
    }
    assert codes["TXN-2001"] == ["NEGATIVE_AMOUNT"]
    assert codes["TXN-2002"] == ["DUPLICATE_TXN"]
    assert codes["TXN-2003"] == ["MISSING_REQUIRED"]  # missing timestamp
    assert codes["TXN-2005"] == []
    assert codes["TXN-3002"] == ["NEGATIVE_AMOUNT"]
    assert codes["TXN-3003"] == ["MISSING_REQUIRED"]  # unparsable timestamp
    assert codes["TXN-3005"] == ["MISSING_REQUIRED"]  # unparsable amount
    assert codes["TXN-1001"] == []


def test_line_anomaly_one_code_per_row(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    anom = pipe.can_txn_anomaly.read(spark)
    joined = anom.join(txn.select("canonical_txn_id", "source_txn_id"), "canonical_txn_id")
    # TXN-2001's line has BOTH negative qty and negative amount -> only
    # NEGATIVE_QTY (reference sql/06_anomaly_detection.sql:19)
    line_codes = {
        r.anomaly_code
        for r in joined.filter(
            (F.col("source_txn_id") == "TXN-2001") & F.col("line_number").isNotNull()
        ).collect()
    }
    assert line_codes == {"NEGATIVE_QTY"}


def test_key_precedence_and_drift(spark, ran):
    pipe, _ = ran
    txn = _txn(pipe, spark)
    r = {row.source_txn_id: row for row in txn.collect()}
    # drifted keys (txn_id/transaction_time/ccy/amount/customerId/payee)
    t2 = r["TXN-1002"]
    assert t2.currency == "EUR"
    assert float(t2.total_amount) == 42.0
    assert t2.customer_id == "CUST-3"
    assert t2.merchant == "Umbrella"
    assert t2.txn_timestamp == dt.datetime(2026, 1, 15, 14, 0, 0)
    # XML attribute id + nested customer/merchant
    t1 = r["TXN-2001"]
    assert t1.customer_id == "CUST-2"
    assert t1.merchant == "Globex"
    assert float(t1.total_amount) == -50.0
    # drift retention: unexpected field survives in attributes
    assert "unexpected_field" in r["TXN-1001"].attributes
    assert "kept-in-attributes" in r["TXN-1001"].attributes


def test_lines_faithful_counts(spark, ran):
    pipe, _ = ran
    lines = pipe.can_txn_line.read(spark)
    # XML 5 (2001:1, 2002:2, 2003:1, 2005:1) + JSON 3 (1001:2, 1002:1)
    # + CSV 6 (file-granular fan-out collapses to one line per header:
    #   client_a 4 headers, client_c 2 headers)
    assert lines.count() == 14
    assert lines.select("canonical_txn_id", "line_number").distinct().count() == 14


def test_lines_row_mode_values(spark, ran_row_mode):
    pipe, _ = ran_row_mode
    txn = _txn(pipe, spark)
    lines = pipe.can_txn_line.read(spark).join(
        txn.select("canonical_txn_id", "source_txn_id"), "canonical_txn_id"
    )
    assert lines.count() == 13  # CSV lines are row-granular: 3 + 2
    by_key = {
        (r.source_txn_id, r.line_number): r
        for r in lines.collect()
    }
    # JSON line_number fallback: second item had no line_number -> index+1
    assert ("TXN-1001", 2) in by_key
    cog = by_key[("TXN-1001", 2)]
    assert cog.item_id == "SKU-2"
    # line currency fallback to header currency
    assert cog.currency == "USD"
    # CSV col-12 currency override when header currency is empty
    web = by_key[("TXN-3006", 1)]
    assert web.item_id == "SKU-11"
    assert web.currency == "CAD"
    # XML single-object line wrap + header ccy fallback
    xml3 = by_key[("TXN-2003", 1)]
    assert xml3.item_id == "SKU-5"
    assert xml3.currency == "GBP"
    # CSV positional mapping
    gizmo = by_key[("TXN-3001", 1)]
    assert gizmo.description == "Gizmo"
    assert float(gizmo.quantity) == 3.0


def test_load_audit(spark, ran):
    pipe, _ = ran
    audit = pipe.raw_load_audit.read(spark)
    rows = {(r.file_type, r.load_status): (r.batch_count, r.total_errors_seen)
            for r in ran[1]["views"]["vw_load_audit_summary"].collect()}
    assert rows[("XML", "LOADED")][0] == 5
    assert rows[("JSON", "LOADED")][0] == 6
    assert rows[("JSON", "LOAD_FAILED")] == (1, 1)
    # client_c CSV loads clean; client_a CSV carries the ragged fixture row
    # -> ON_ERROR='CONTINUE' partial load with the error captured (S9)
    assert rows[("CSV", "LOADED")][0] == 1
    assert rows[("CSV", "PARTIALLY_LOADED")] == (1, 1)
    partial = audit.filter(F.col("load_status") == "PARTIALLY_LOADED").collect()
    assert len(partial) == 1
    assert partial[0].src_file.endswith("client_a/csv/transactions.csv")
    assert (partial[0].rows_parsed, partial[0].rows_loaded) == (6, 5)
    assert "expected 13" in partial[0].first_error
    bad = audit.filter(F.col("load_status") == "LOAD_FAILED").collect()
    assert len(bad) == 1
    assert bad[0].src_file.endswith("txn_bad.json")
    assert bad[0].first_error is not None and "TXN-BAD" in bad[0].first_error


def test_smoke_counts(ran):
    _, result = ran
    counts = {r.table_name: r.row_cnt for r in result["smoke_counts"].collect()}
    assert counts["CAN_TXN"] == 16
    assert counts["CAN_TXN_LINE"] == 14
    assert counts["CAN_TXN_ANOMALY"] > 0


def _canon_files(pipe, suffix: str = "") -> dict[str, tuple[int, float]]:
    """(size, mtime) of every file (ending in ``suffix``) under the three
    canonical tables."""
    import os

    out = {}
    for t in (pipe.can_txn, pipe.can_txn_line, pipe.can_txn_anomaly):
        for root, _dirs, files in os.walk(t.path):
            for f in (f for f in files if f.endswith(suffix)):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime)
    return out


def test_idempotency_and_incremental(
    spark, fixture_root, tmp_path_factory, monkeypatch
):
    import os

    from financial_data_ingestion_canonical_snowflake_spark.plans import pipeline

    wh = str(tmp_path_factory.mktemp("warehouse_idem"))
    cfg1 = PipelineConfig(ingest_root=fixture_root, warehouse=wh, batch_ts=TS1)
    pipe = Pipeline(spark, cfg1)
    pipe.run_batch()
    assert not os.path.exists(pipe.pending)  # a finished run leaves no marker
    txn1 = {r.canonical_txn_id: r for r in pipe.can_txn.read(spark).collect()}

    merges = []
    merge = pipeline.merge_upsert_scoped
    monkeypatch.setattr(
        pipeline,
        "merge_upsert_scoped",
        lambda *a, **k: merges.append(a[1].path) or merge(*a, **k),
    )

    # Re-run with a later batch_ts: no new files -> canonical values stable,
    # created_ts preserved (reference sql/05_merge_canonical.sql:22-29);
    # nothing was loaded, so no merge runs and every canonical file is
    # left byte-identical, mtime included
    before = _canon_files(pipe)
    cfg2 = PipelineConfig(ingest_root=fixture_root, warehouse=wh, batch_ts=TS2)
    pipe2 = Pipeline(spark, cfg2)
    pipe2.run_batch()
    assert merges == []
    assert _canon_files(pipe2) == before
    txn2 = {r.canonical_txn_id: r for r in pipe2.can_txn.read(spark).collect()}
    assert set(txn1) == set(txn2)
    for cid, row1 in txn1.items():
        row2 = txn2[cid]
        assert row2.created_ts == row1.created_ts == TS1
        assert row2.total_amount == row1.total_amount
        assert row2.anomaly_codes == row1.anomaly_codes
    line_count = pipe2.can_txn_line.read(spark).count()
    anom_count = pipe2.can_txn_anomaly.read(spark).count()

    # Incremental: drop in one new JSON file, rerun -> exactly one new txn,
    # existing rows untouched (COPY load-history emulation skips old files)
    with open(f"{fixture_root}/client_c/json/txn_1006.json", "w") as f:
        f.write(
            '{"transaction_id": "TXN-1006", "transaction_ts": "2026-02-01T00:00:00",'
            ' "currency": "usd", "total_amount": "9.99", "customer_id": "CUST-1"}\n'
        )
    stored = _canon_files(pipe2, ".parquet")
    try:
        pipe3 = Pipeline(
            spark,
            PipelineConfig(ingest_root=fixture_root, warehouse=wh, batch_ts=TS2),
        )
        pipe3.run_batch()
        # the new key's bucket appends: every stored data file survives,
        # and the one new file is CAN_TXN's
        after = _canon_files(pipe3, ".parquet")
        assert {p: after.get(p) for p in stored} == stored
        added = set(after) - set(stored)
        assert len(added) == 1 and added.pop().startswith(pipe3.can_txn.path)
        txn3 = {r.canonical_txn_id: r for r in pipe3.can_txn.read(spark).collect()}
        assert len(txn3) == len(txn2) + 1
        new = [r for cid, r in txn3.items() if cid not in txn2]
        assert new[0].source_txn_id == "TXN-1006"
        for cid, row2 in txn2.items():
            assert txn3[cid].created_ts == row2.created_ts
        assert pipe3.can_txn_line.read(spark).count() == line_count
        assert pipe3.can_txn_anomaly.read(spark).count() == anom_count
    finally:
        os.remove(f"{fixture_root}/client_c/json/txn_1006.json")


def test_vacuum_removes_crash_stranded_swap_dirs(spark, fixture_root, tmp_path_factory):
    """A crash mid-swap strands a `.tmp-*` (half-written candidate) or
    `.old-*` (displaced version) directory next to the table root. With
    cfg.vacuum_min_age_seconds set, the NEXT run_batch sweeps them before
    ingesting — the wired-in maintenance analog of Delta VACUUM — and the
    batch's results are unaffected."""
    import os

    wh = str(tmp_path_factory.mktemp("warehouse_vac"))
    cfg = PipelineConfig(
        ingest_root=fixture_root, warehouse=wh, batch_ts=TS1,
        vacuum_min_age_seconds=0.0,
    )
    pipe = Pipeline(spark, cfg)
    r1 = pipe.run_batch()
    assert r1["vacuumed"] == []  # nothing stranded on a fresh warehouse
    n_txn = pipe.can_txn.read(spark).count()

    # simulate a crashed swap: stranded candidate + displaced-version dirs
    stray_tmp = pipe.can_txn.path + ".tmp-deadbeef"
    stray_old = pipe.can_txn_line.path + ".old-cafef00d"
    for d in (stray_tmp, stray_old):
        os.makedirs(d)
        with open(os.path.join(d, "part-orphan.parquet"), "w") as f:
            f.write("x")
    # age past the gate (min_age 0 still requires mtime strictly in the past)
    past = 1_000_000_000
    for d in (stray_tmp, stray_old):
        os.utime(d, (past, past))

    pipe2 = Pipeline(
        spark,
        PipelineConfig(
            ingest_root=fixture_root, warehouse=wh, batch_ts=TS2,
            vacuum_min_age_seconds=0.0,
        ),
    )
    r2 = pipe2.run_batch()
    assert sorted(r2["vacuumed"]) == sorted([stray_tmp, stray_old])
    assert not os.path.exists(stray_tmp) and not os.path.exists(stray_old)
    assert pipe2.can_txn.read(spark).count() == n_txn  # results unaffected

    # default config leaves maintenance off: stray survives a plain run
    os.makedirs(stray_tmp)
    os.utime(stray_tmp, (past, past))
    pipe3 = Pipeline(
        spark,
        PipelineConfig(ingest_root=fixture_root, warehouse=wh, batch_ts=TS2),
    )
    r3 = pipe3.run_batch()
    assert r3["vacuumed"] == [] and os.path.exists(stray_tmp)


def test_every_run_batch_job_is_described_by_its_stage(
    spark, fixture_root, tmp_path
):
    """Every Spark job one ``run_batch`` starts — on the driver thread or
    on the ingest and merge pool threads — carries its stage's job
    description in the driver's status API, over a first load and a
    re-load that restates every key; the caller's description is back
    afterwards."""
    import json
    import urllib.request

    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(base + "/jobs", timeout=30) as r:
            return json.load(r)

    seen = max((j["jobId"] for j in jobs()), default=-1)
    wh = str(tmp_path / "wh")
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        for reload in (False, True):
            cfg = PipelineConfig(
                ingest_root=fixture_root,
                warehouse=wh,
                batch_ts=TS2 if reload else TS1,
                skip_loaded_files=not reload,
            )
            Pipeline(spark, cfg).run_batch()
            assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    described = {j["jobId"]: j.get("description") for j in jobs() if j["jobId"] > seen}
    stages = {
        "run_batch 01 ingest",
        "run_batch 03-06 merge_canonical",
        "run_batch 07 views",
    }
    assert {d for d in described.values() if d not in stages} == set(), described
    assert set(described.values()) == stages
