"""Per-op output checks. Each takes the program's output as small Python
values (collected after the op, outside its timer) plus the generator's
truth, and returns a list of failure messages; an empty list means the op
produced exactly what the inputs imply."""

from __future__ import annotations

from .gen import NEAR_DUP_RECALL_FLOOR, DocShard, Drop


def check_batch(drop: Drop, keys: list[tuple[str, str]],
                anomalies: dict[str, int],
                audit: dict[str, tuple[str, int]]) -> list[str]:
    """``keys``: (client_id, source_txn_id) of every CAN_TXN row;
    ``anomalies``: CAN_TXN_ANOMALY rows by code; ``audit``: RAW_LOAD_AUDIT
    rows of this drop's files, by file name -> (status, rows_loaded)."""
    out = []
    if len(keys) != len(set(keys)):
        out.append(f"CAN_TXN holds {len(keys) - len(set(keys))} duplicate keys")
    if sorted(set(keys)) != drop.keys:
        missing = len(set(drop.keys) - set(keys))
        extra = len(set(keys) - set(drop.keys))
        out.append(f"CAN_TXN keys differ: {missing} missing, {extra} unexpected")
    if anomalies != drop.anomalies:
        out.append(f"anomaly counts {anomalies} != expected {drop.anomalies}")
    if audit != drop.audit:
        out.append(f"audit {audit} != expected {drop.audit}")
    return out


def check_corpus(shard: DocShard, survivors: int, dup_total: int,
                 found_pairs: set[tuple[int, int]], report: dict[str, int],
                 top1: dict[int, int]) -> list[str]:
    """``survivors``/``dup_total``: exact-dedup table rows and their summed
    duplicate counts; ``found_pairs``: the shard's injected (original, twin)
    pairs present in the MinHash pair table; ``report``: curate_and_export's
    funnel report for the shard; ``top1``: query id -> rank-1 neighbour."""
    out = []
    if survivors != shard.distinct_total:
        out.append(f"{survivors} exact survivors, expected {shard.distinct_total}")
    if dup_total != shard.docs_total:
        out.append(f"duplicate counts sum to {dup_total}, expected {shard.docs_total}")
    recall = len(found_pairs & set(shard.twins)) / len(shard.twins)
    if recall < NEAR_DUP_RECALL_FLOOR:
        out.append(f"near-duplicate recall {recall:.2f} < {NEAR_DUP_RECALL_FLOOR}")
    if report.get("input_docs") != len(shard.ids):
        out.append(f"curation saw {report.get('input_docs')} docs, expected {len(shard.ids)}")
    if report.get("after_dedup") != shard.distinct_in_shard:
        out.append(f"curation kept {report.get('after_dedup')}, "
                   f"expected {shard.distinct_in_shard}")
    if set(top1) != set(shard.queries):
        out.append(f"{len(set(shard.queries) - set(top1))} queries returned nothing")
    bad = [t for o, t in shard.twins if top1.get(t) != o]
    if bad:
        out.append(f"{len(bad)} twins do not rank their original first, e.g. {bad[:3]}")
    return out
