"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from perfbench import gen
from perfbench.checks import check_batch, check_corpus

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(d, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    gen.write_all(5, str(tmp_path / "a"), n_ops=3)
    gen.write_all(5, str(tmp_path / "b"), n_ops=3)
    gen.write_all(6, str(tmp_path / "c"), n_ops=3)
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_truth_is_a_function_of_the_seed():
    assert gen.batch_drops(3, 3) == gen.batch_drops(3, 3)
    assert gen.doc_shards(3, 2) == gen.doc_shards(3, 2)


# -- the checkers accept the truth and reject a corrupted output -------------

@pytest.fixture(scope="module")
def drop():
    return gen.batch_drops(9, 3)[-1]


def test_batch_check_catches_corruption(drop):
    keys = list(drop.keys)
    anomalies = dict(drop.anomalies)
    audit = dict(drop.audit)
    assert check_batch(drop, keys, anomalies, audit) == []
    assert check_batch(drop, keys[1:], anomalies, audit)  # a lost row
    assert check_batch(drop, keys + keys[:1], anomalies, audit)  # a duplicate
    code = next(iter(anomalies))
    assert check_batch(drop, keys, {**anomalies, code: anomalies[code] + 1}, audit)
    bad = next(f for f, (s, _n) in audit.items() if s == "LOAD_FAILED")
    assert check_batch(drop, keys, anomalies, {**audit, bad: ("LOADED", 1)})


def test_corpus_check_catches_corruption():
    shard = gen.doc_shards(9, 2)[1]
    report = {"input_docs": len(shard.ids), "after_dedup": shard.distinct_in_shard}
    top1 = {q: -1 for q in shard.queries}
    top1.update({t: o for o, t in shard.twins})
    pairs = set(shard.twins)
    args = (shard, shard.distinct_total, shard.docs_total)
    assert check_corpus(*args, pairs, report, top1) == []
    assert check_corpus(shard, shard.distinct_total + 1, shard.docs_total,
                        pairs, report, top1)
    assert check_corpus(*args, set(list(pairs)[:2]), report, top1)  # recall 2/16
    assert check_corpus(*args, pairs, {**report, "after_dedup": 1}, top1)
    o, t = shard.twins[0]
    assert check_corpus(*args, pairs, report, {**top1, t: o + 1})


def test_injected_defects_are_in_the_truth(drop):
    assert set(drop.anomalies) == {
        "DUPLICATE_TXN", "MISSING_REQUIRED", "NEGATIVE_AMOUNT",
        "NEGATIVE_QTY", "NEGATIVE_AMOUNT_LINE"}
    statuses = {s for s, _n in drop.audit.values()}
    assert statuses == {"LOADED", "PARTIALLY_LOADED", "LOAD_FAILED"}
    shard = gen.doc_shards(9, 1)[0]
    assert shard.distinct_in_shard < len(shard.ids)  # exact duplicates
    assert len(shard.twins) == gen.SHARD_TWINS


# -- every printed metric is declared, with its unit ---------------------------

def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_are_declared():
    from perfbench.run import END_TO_END_UNITS

    declared = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert END_TO_END_UNITS == declared


def test_per_layer_metrics_are_declared():
    from perfbench import run, trace

    tr = trace.Tracer()
    tr.op = 0
    with tr.span("merge", "merge_upsert_scoped"):
        with tr.span("storage", "ParquetTable.commit_replace_partitions"):
            pass
    tr.op = -1
    stamp = dt.datetime.fromtimestamp(tr.spans[1].start, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:23] + "GMT"  # the REST API's format
    ot = trace.OpTrace(
        op=0, t0=0.0, t1=1.0, records=10,
        jobs=[{"jobId": 1, "stageIds": [1], "submissionTime": stamp,
               "completionTime": stamp}],
        stages={1: {"numCompleteTasks": 2, "executorRunTime": 10,
                    "shuffleWriteBytes": 5, "memoryBytesSpilled": 0,
                    "diskBytesSpilled": 0, "outputBytes": 7, "outputRecords": 3}},
        progress=[{"numInputRows": 4, "durationMs": {"addBatch": 9}}])
    declared = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    produced = trace.layer_metrics(tr, ot)
    assert set(produced) <= set(declared)
    metrics = run._per_layer(tr, [ot], [{}], [3], [1.0], 2.0, 1e-4)
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    assert metrics["merge.rows_rewritten_per_source_row"]["value"] == pytest.approx(0.3)
    assert metrics["streaming.add_batch_s"]["value"] == pytest.approx(0.009)


def test_declared_workloads_exist():
    from perfbench.run import main  # noqa: F401  (the entry point imports)
    from perfbench.workloads import WORKLOADS

    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
