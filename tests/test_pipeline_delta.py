"""Delta-scoped ``run_batch`` ≡ full-history ``run_batch``.

``run_batch`` transforms and merges only the key closure of the rows its
ingest loaded (``plans.pipeline.key_closure``). The oracle is the same
pipeline with the closure widened to all of RAW — the full-history chain
the pipeline ran before it became delta-scoped. Every pipeline of a test
reads one RAW layer, ingested once per drop, so a drop is parsed once.

After every drop the two must agree:

* with one pinned ``batch_ts`` for every run: every column of the three
  canonical tables and the ops views;
* with a distinct ``batch_ts`` per run: every column except
  ``updated_ts``/``detected_ts``. Those may be older on the delta side —
  a row outside a run's closure keeps the stamp of the last run that
  merged it — but a row the oracle merged in this run whose rank group
  is in this run's drop must carry this run's stamp on both sides.

Drops are tiny tri-client JSON/CSV feeds: restatements across drops,
in-file re-sends, NULL ``source_txn_id`` rows, NULL ``client_id`` rows of
two rank groups (a path whose client cannot be derived), malformed
(LOAD_FAILED) JSON files, ragged-row (PARTIALLY_LOADED) CSV files and an
empty drop. Fixed sequences pin a faithful-mode line input, a run that
dies mid-merge, two NULL-client rank groups, their anomaly rows across
re-runs, and the durable views after a restatement.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.plans import pipeline
from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
    Pipeline,
    PipelineConfig,
)
from financial_data_ingestion_canonical_snowflake_spark.sources import readers
from financial_data_ingestion_canonical_snowflake_spark.sources.readers import CopySpec

TS0 = dt.datetime(2026, 3, 1)
TS_COLS = ("updated_ts", "detected_ts")
TABLES = ("can_txn", "can_txn_line", "can_txn_anomaly")
MODES = ("row", "faithful")
_DOOMED: list = []  # tables whose merge raises under crash_line_merges
SIDS = ("T0", "T1", "T2", "T3")
NULL_CLIENT_SID = "N-1"  # a NULL-client rank group
# JSON for ClientC; CSV for every client directory (client from the path)
SPECS = (
    CopySpec(file_type="JSON", path="client_c/json/", client_id="ClientC"),
    CopySpec(file_type="CSV", path="*/csv"),
)
CSV_HEADER = (
    "source_txn_id,txn_timestamp,currency,total_amount,customer_id,account_id,"
    "merchant,item_id,description,quantity,unit_price,line_amount,line_currency"
)
# kind -> (directory, client_id the reader derives)
KINDS = {
    "json": ("client_c/json", "ClientC"),
    "csv_a": ("client_a/csv", "ClientA"),
    "csv_c": ("client_c/csv", "ClientC"),
    "anon": ("anon/csv", None),
}


class Replay(Pipeline):
    """A pipeline over a shared RAW layer whose ingest returns what the
    layer's own ingest returned this run; ``full=True`` widens stages
    03-06 to all of RAW on every run — the full-history oracle."""

    def __init__(self, spark, cfg, feed: Pipeline, ingested, full: bool):
        super().__init__(spark, cfg)
        self.raw_tables, self.raw_load_audit = feed.raw_tables, feed.raw_load_audit
        self.ingested, self.full = ingested, full

    def ingest(self):
        return self.ingested

    def _scope(self, raw, landed, recover):
        return super()._scope(raw, landed, recover or self.full)


@pytest.fixture
def null_client_dir(monkeypatch):
    """Rows under ``anon/`` get a NULL client_id: no client can be derived
    from that path."""
    derive = readers._client_from_path
    monkeypatch.setattr(
        readers,
        "_client_from_path",
        lambda rel: F.when(rel.ilike("anon/%"), F.lit(None).cast("string")).otherwise(
            derive(rel)
        ),
    )


@pytest.fixture
def crash_line_merges(monkeypatch):
    """``pipeline.merge_upsert_scoped`` raises for the tables in
    ``_DOOMED``, before writing anything."""
    merge = pipeline.merge_upsert_scoped

    def flaky(spark, table, *a, **k):
        if any(table is t for t in _DOOMED):
            raise RuntimeError("injected crash")
        return merge(spark, table, *a, **k)

    monkeypatch.setattr(pipeline, "merge_upsert_scoped", flaky)
    yield
    _DOOMED.clear()


# (source id or None, amount, first line's quantity, has a timestamp)
_txn = st.tuples(
    st.sampled_from(SIDS + (None,)),
    st.sampled_from(["12.50", "-3.00", None]),
    st.sampled_from([2, -1]),
    st.booleans(),
)


def _drop(min_size: int = 0):
    """A drop's files; the JSON file is never empty, so every drop after
    the first re-sends or restates some rank group (from the pool of 5
    source ids) even in Hypothesis' simplest examples."""
    return st.fixed_dictionaries(
        {
            "files": st.fixed_dictionaries(
                {
                    k: st.lists(
                        _txn, min_size=max(min_size, k == "json"), max_size=3
                    )
                    for k in KINDS
                }
            ),
            "bad_json": st.booleans(),
            "ragged": st.booleans(),
            # NULL-client rows of two rank groups share the NULL id
            "null_sid": st.sampled_from([NULL_CLIENT_SID, "N-2"]),
        }
    )


def _json_obj(t, merchant: str) -> dict:
    sid, amount, qty, has_ts = t
    o = {
        "transaction_id": sid,
        "transaction_ts": "2026-01-05T10:00:00" if has_ts else None,
        "currency": "usd",
        "total_amount": amount,
        "merchant": merchant,
        "line_items": [
            {"line_number": 1, "quantity": str(qty), "unit_price": "2.00",
             "line_amount": "4.00"},
            {"line_number": 2, "quantity": "1", "unit_price": "1.00",
             "line_amount": "-1.00" if amount is None else "1.00"},
        ],
    }
    return {k: v for k, v in o.items() if v is not None}


def _csv_row(t, merchant: str, sid_override: str | None = None) -> str:
    sid, amount, qty, has_ts = t
    sid = sid_override or sid or "T0"  # a CSV row always carries an id
    vals = [sid, "2026-01-05T10:00:00" if has_ts else "not-a-time", "eur",
            amount or "", "CUST-1", "ACC-1", merchant, "SKU-1", "item",
            str(qty), "2.00", "4.00", ""]
    return ",".join(vals)


def _write_drop(root: str, k: int, drop: dict) -> list[tuple]:
    """Write drop ``k``'s files; return the closure classes of its rows:
    (client_id, original source id), with one class for NULL clients."""
    classes = []
    merchant = drop.get("merchant", f"m{k}")  # no payload repeats across drops
    for kind, txns in drop["files"].items():
        d, client = KINDS[kind]
        os.makedirs(os.path.join(root, d), exist_ok=True)
        if not txns:
            continue
        if kind == "json":
            body = json.dumps([_json_obj(t, merchant) for t in txns]) + "\n"
            name = f"d{k}.json"
        else:
            override = drop.get("null_sid", NULL_CLIENT_SID) if client is None else None
            rows = [_csv_row(t, merchant, override) for t in txns]
            if drop["ragged"] and kind == "csv_a":
                rows.append(f"RAGGED-{k},2026-01-15T16:00:00,gbp")
            body = "\n".join([CSV_HEADER, *rows]) + "\n"
            name = f"d{k}.csv"
        with open(os.path.join(root, d, name), "w") as f:
            f.write(body)
        for t in txns:
            if client is None:
                classes.append((None,))
            elif kind == "json":
                classes.append((client, t[0]))
            else:
                classes.append((client, t[0] or "T0"))
    if drop["bad_json"]:
        with open(os.path.join(root, "client_c/json", f"d{k}_bad.json"), "w") as f:
            f.write('{"transaction_id": "BAD", unquoted: oops\n')
    return classes


def _row_class(client_id, source_txn_id) -> tuple:
    if client_id is None:
        return (None,)
    return (client_id, source_txn_id if source_txn_id in SIDS else None)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _split(df):
    """(non-timestamp columns' repr, run stamp, canonical_txn_id) per
    row, sorted."""
    ts = [c for c in TS_COLS if c in df.columns][0]
    rest = [c for c in df.columns if c != ts]
    return sorted(
        (repr(tuple(r[c] for c in rest)), r[ts], r["canonical_txn_id"])
        for r in df.collect()
    )


def _assert_same_views(res_d, res_o):
    frames = [(n, res_d["views"][n], v) for n, v in res_o["views"].items()]
    frames.append(("smoke_counts", res_d["smoke_counts"], res_o["smoke_counts"]))
    for name, got, want in frames:
        assert _rows(got) == _rows(want), name


def _assert_same(spark, delta, oracle, pinned, run_ts, classes):
    txn_class = {
        r.canonical_txn_id: _row_class(r.client_id, r.source_txn_id)
        for r in oracle.can_txn.read(spark).collect()
    }
    for attr in TABLES:
        got = _split(getattr(delta, attr).read(spark))
        want = _split(getattr(oracle, attr).read(spark))
        if pinned:
            assert got == want, attr
            continue
        assert [g[0] for g in got] == [w[0] for w in want], attr
        for (row, d_ts, cid), (_, o_ts, _) in zip(got, want):
            # never newer than the oracle's stamp; this run's stamp on
            # every row the oracle merged now from a group of this drop
            assert d_ts <= o_ts, (attr, row)
            if o_ts == run_ts and txn_class.get(cid, (None,)) in classes:
                assert d_ts == run_ts, (attr, row)


def _run_sequence(spark, root, drops, pinned, crash_at=None):
    """Run ``drops`` through a delta and a full-history pipeline per join
    mode, all over one RAW layer, comparing the three canonical tables of
    each pair after every drop (and the ops views after the last). At
    drop ``crash_at`` the delta pipelines die inside their
    CAN_TXN_LINE merge (needs the ``crash_line_merges`` fixture); that drop
    is not compared."""
    ingest = os.path.join(root, "ingest")
    os.makedirs(ingest)
    for k, drop in enumerate(drops):
        classes = set(_write_drop(ingest, k, drop))
        run_ts = TS0 if pinned else TS0 + dt.timedelta(hours=k)

        def cfg(wh, join_mode="row"):
            return PipelineConfig(
                ingest_root=ingest, warehouse=os.path.join(root, wh),
                copy_specs=SPECS, join_mode=join_mode, batch_ts=run_ts,
                merge_buckets=4)

        feed = Pipeline(spark, cfg("raw"))
        ingested = feed.ingest()
        pipes = {
            (mode, full): Replay(
                spark, cfg(f"{mode}_{full}", mode), feed, ingested, full
            )
            for mode in MODES
            for full in (False, True)
        }
        if k == crash_at:
            _DOOMED[:] = [pipes[mode, False].can_txn_line for mode in MODES]
        # the four pipelines write disjoint tables and only read RAW, so
        # they run concurrently (tiny inputs: the time is per-job latency)
        with ThreadPoolExecutor(len(pipes)) as ex:
            futures = {key: ex.submit(p.run_batch) for key, p in pipes.items()}
        _DOOMED.clear()
        if k == crash_at:
            for mode in MODES:
                with pytest.raises(RuntimeError, match="injected crash"):
                    futures[mode, False].result()
                futures[mode, True].result()
            continue
        res = {key: f.result() for key, f in futures.items()}
        for mode in MODES:
            delta, oracle = pipes[mode, False], pipes[mode, True]
            _assert_same(spark, delta, oracle, pinned, run_ts, classes)
            # the views read the tables just compared
            if k == len(drops) - 1:
                _assert_same_views(res[mode, False], res[mode, True])


_EMPTY = {"files": {k: [] for k in KINDS}, "bad_json": False, "ragged": False}


@settings(
    # 30-45 s per 3-5-drop sequence on 4 cores; each suite run draws
    # fresh ones
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    first=_drop(min_size=1),  # every directory exists from the first run
    rest=st.lists(_drop(), min_size=1, max_size=3),
    empty_at=st.integers(min_value=1, max_value=4),
    pinned=st.booleans(),
)
def test_delta_run_batch_equals_full_history(
    spark, tmp_path_factory, null_client_dir, first, rest, empty_at, pinned
):
    """Random 3-5-drop sequences, both join modes: delta run_batch ≡ the
    full-history oracle after every drop (see the module docstring for
    what may differ)."""
    drops = [first, *rest]
    drops.insert(min(empty_at, len(drops)), _EMPTY)
    _run_sequence(spark, str(tmp_path_factory.mktemp("delta")), drops, pinned)


def test_faithful_lines_read_the_old_file_of_a_surviving_header(
    spark, tmp_path_factory
):
    """Pinned ``batch_ts``: a restated group's OLD row can keep winning
    (the payload-hash tiebreak), so its surviving header stays in an old
    multi-row file. Faithful mode pairs that header with every row of the
    file — including T0's, whose group the drop does not touch and whose
    line wins the line dedupe — so the delta's line input must reach past
    the closure into that file (fails if it reads the closure only)."""
    t = lambda sid: (sid, "12.50", 2, True)  # noqa: E731
    drops = [
        {"files": {"json": [t("T0")], "csv_a": [], "anon": [],
                   "csv_c": [t(s) for s in SIDS]},
         "bad_json": False, "ragged": False},
        # with this merchant T2's old row keeps winning the tiebreak
        {"files": {"json": [], "csv_a": [], "anon": [],
                   "csv_c": [t(s) for s in SIDS[1:]]},
         "bad_json": False, "ragged": False, "merchant": "my"},
    ]
    _run_sequence(spark, str(tmp_path_factory.mktemp("faithful")), drops, True)


def test_run_that_died_mid_merge_is_rederived(
    spark, tmp_path_factory, crash_line_merges
):
    """A run dies after its ingest landed RAW and the load audit, in its
    CAN_TXN_LINE merge stage, so none of its three merges commits. Its
    files are in the load history, so no later ingest loads them again;
    the next run finds the run's pending marker and re-derives all of
    RAW, even though it loads nothing itself. Every table then equals the
    oracle's (fails if the marker is ignored: the canonical tables miss
    the dead run's rows)."""
    t = lambda sid: (sid, "12.50", 2, True)  # noqa: E731
    none = {"bad_json": False, "ragged": False}
    drops = [
        {"files": {"json": [t("T0"), t("T1")], "csv_a": [], "anon": [],
                   "csv_c": [t("T2")]}, **none},
        # the run that dies: restates T1, adds T3
        {"files": {"json": [t("T1"), t("T3")], "csv_a": [t("T0")], "anon": [],
                   "csv_c": []}, **none},
        _EMPTY,
    ]
    _run_sequence(
        spark, str(tmp_path_factory.mktemp("crash")), drops, True, crash_at=1
    )


def test_null_client_rank_groups_share_one_closure(
    spark, tmp_path_factory, null_client_dir
):
    """Two NULL-client rank groups, in separate drops: both rows get the
    NULL ``canonical_txn_id``, so they compete for one CAN_TXN (and
    CAN_TXN_LINE) merge key and, at a pinned ``batch_ts``, the first
    drop's row wins the ``src_file`` tiebreak. The second drop's closure
    must therefore hold the first drop's row too (fails if the closure
    keys NULL-client rows by their source id). CAN_TXN_ANOMALY and the
    ops views are compared too: both groups' anomaly rows share the NULL
    merge key."""
    t = lambda sid: (sid, "12.50", 2, True)  # noqa: E731
    none = {"bad_json": False, "ragged": False}
    drops = [
        {"files": {"json": [t("T0")], "csv_a": [], "anon": [t(None)],
                   "csv_c": []}, **none},
        {"files": {"json": [], "csv_a": [], "anon": [t(None)], "csv_c": []},
         "null_sid": "N-2", **none},
    ]
    _run_sequence(spark, str(tmp_path_factory.mktemp("nullc")), drops, True)


def test_null_client_anomalies_replace_their_stored_copies(
    spark, tmp_path_factory, null_client_dir
):
    """Shrunk regression: two NULL-client rank groups in separate files,
    both MISSING_REQUIRED (no amount). Their anomaly rows share one merge
    key (the NULL canonical id), and every full-history run re-stages
    both; they must replace the two stored rows one for one. The merge
    used to pair each staged row with every stored copy: 1, 2, then 4
    and 8 rows."""
    t = (None, None, 2, True)
    none = {"bad_json": False, "ragged": False}
    drops = [
        {"files": {"json": [("T0", "12.50", 2, True)], "csv_a": [],
                   "anon": [t], "csv_c": []}, **none},
        {"files": {"json": [], "csv_a": [], "anon": [t], "csv_c": []},
         "null_sid": "N-2", **none},
        _EMPTY,
        _EMPTY,
    ]
    root = str(tmp_path_factory.mktemp("nullanom"))
    ingest = os.path.join(root, "ingest")
    os.makedirs(ingest)
    counts = []
    for k, drop in enumerate(drops):
        _write_drop(ingest, k, drop)

        def cfg(wh):
            return PipelineConfig(
                ingest_root=ingest, warehouse=os.path.join(root, wh),
                copy_specs=SPECS, batch_ts=TS0, merge_buckets=4)

        feed = Pipeline(spark, cfg("raw"))
        oracle = Replay(spark, cfg("full"), feed, feed.ingest(), full=True)
        oracle.run_batch()
        counts.append(
            oracle.can_txn_anomaly.read(spark)
            .filter(F.col("canonical_txn_id").isNull())
            .filter(F.col("anomaly_code") == "MISSING_REQUIRED")
            .count()
        )
    assert counts == [1, 2, 2, 2]


def test_durable_views_equal_session_views_after_a_restatement(
    spark, tmp_path_factory
):
    """A run that restates a transaction leaves a delta file in CAN_TXN
    (stored rows the delta shadows). Each durable view reads the table
    files directly; it must apply the newest-file rule and equal its
    session view."""
    t = lambda sid, amount: (sid, amount, -1, True)  # noqa: E731
    none = {"bad_json": False, "ragged": False}
    drops = [
        {"files": {"json": [t("T0", "12.50"), t("T1", "-3.00")], "csv_a": [],
                   "anon": [], "csv_c": [t("T2", "12.50")]}, **none},
        {"files": {"json": [t("T1", "12.50"), t("T3", "12.50")], "csv_a": [],
                   "anon": [], "csv_c": []}, **none},
    ]
    root = str(tmp_path_factory.mktemp("durable"))
    ingest = os.path.join(root, "ingest")
    os.makedirs(ingest)
    for k, drop in enumerate(drops):
        _write_drop(ingest, k, drop)
        pipe = Pipeline(spark, PipelineConfig(
            ingest_root=ingest, warehouse=os.path.join(root, "wh"),
            copy_specs=SPECS, batch_ts=TS0 + dt.timedelta(hours=k),
            merge_buckets=4, durable_views=True))
        res = pipe.run_batch()
    txn = pipe.can_txn
    assert txn.read_meta().get("delta_parts")
    assert txn.files(spark).count() > txn.read(spark).count()
    for name, session in res["views"].items():
        durable = spark.sql(f"SELECT * FROM default.{name}")
        assert _rows(durable) == _rows(session), name
