"""Measure per-run table write I/O of ``Pipeline.run_batch`` on the
benchmark's feed drops.

Lands ``perfbench.gen.iter_drops(seed)`` drops one at a time into an ingest
root (the ``batch_load`` workload's layout: the reference's XML and JSON
COPYs plus one CSV COPY over both clients' CSV directories) and runs
``run_batch`` after each. For every run and every table it reports, from
parquet file listings taken before and after the run:

* ``written``: bytes of the files the run created or changed, split into
  APPENDED buckets (every stored file survived; the run added a file of
  new keys), DELTA buckets (every stored file survived; the run added a
  delta file, ``delta-<seq>-*``, that shadows stored rows of its keys)
  and REWRITTEN buckets (some stored file was replaced). Unpartitioned
  tables (RAW, the load audit) only ever append;
* ``stored``: the table's bytes after the run, split the same way, plus
  the bytes of the buckets the run left untouched;
* ``shadowed_rows``: per canonical table, the stored rows a newer delta
  file shadows (rows in the files minus rows a read returns);
* ``run_s`` (the run's wall time) and, per canonical table, ``read_s``
  (the wall time of one full read after the run, resolving delta files).

Ratios are per input byte (the drop's file bytes), the unit of perfbench's
``written_bytes_per_input_byte``. perfbench's trace counts every bucket a
commit touched as rewritten; read the bucket modes from this split.

Run:  python tools/measure_pipeline_io.py [--seed 11] [--drops 4]
                                          [--join-mode row|faithful]
Prints one JSON object per run, then a summary line. Works in a temporary
directory, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from measure_sink_io import _files  # noqa: E402

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (  # noqa: E402
    PART_COL,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (  # noqa: E402
    DELTA_FILE,
)
from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (  # noqa: E402
    DEFAULT_COPY_SPECS,
    Pipeline,
    PipelineConfig,
)
from financial_data_ingestion_canonical_snowflake_spark.session import (  # noqa: E402
    get_spark,
)
from financial_data_ingestion_canonical_snowflake_spark.sources.readers import (  # noqa: E402
    CopySpec,
)
from perfbench import gen  # noqa: E402


def _bucket(rel: str) -> str:
    return next((c for c in rel.split(os.sep) if c.startswith(f"{PART_COL}=")), "")


def split_io(before: dict, after: dict) -> dict[str, int]:
    """Written and stored bytes of one table over one run, by bucket mode."""
    changed: dict[str, int] = {}
    deltas = set()
    for p, sig in after.items():
        if before.get(p) != sig:
            changed[_bucket(p)] = changed.get(_bucket(p), 0) + sig[0]
            if DELTA_FILE.match(os.path.basename(p)):
                deltas.add(_bucket(p))
    replaced = {_bucket(p) for p, sig in before.items() if after.get(p) != sig}
    stored: dict[str, int] = {}
    for p, (size, _mtime) in after.items():
        stored[_bucket(p)] = stored.get(_bucket(p), 0) + size
    modes = ("appended", "delta", "rewritten")
    out = dict.fromkeys(
        [f"{k}_{m}" for k in ("written", "stored", "buckets") for m in modes]
        + ["stored_untouched"], 0)
    for b, size in stored.items():
        if b not in changed:
            out["stored_untouched"] += size
            continue
        mode = (
            "rewritten" if b in replaced
            else "delta" if b in deltas
            else "appended"
        )
        out[f"written_{mode}"] += changed[b]
        out[f"stored_{mode}"] += size
        out[f"buckets_{mode}"] += 1 if b else 0
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--drops", type=int, default=4)
    ap.add_argument("--join-mode", default="row", choices=("row", "faithful"))
    args = ap.parse_args()

    spark = get_spark(app_name="measure-pipeline-io")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="pipeline_io_")
    feed = os.path.join(work, "feed")
    for sub in ("client_a/xml", "client_a/csv", "client_c/json", "client_c/csv"):
        os.makedirs(os.path.join(feed, sub), exist_ok=True)
    specs = (*DEFAULT_COPY_SPECS[:2], CopySpec(file_type="CSV", path="*/csv"))
    pipe = Pipeline(spark, PipelineConfig(
        ingest_root=feed, warehouse=os.path.join(work, "wh"),
        copy_specs=specs, join_mode=args.join_mode))
    tables = {
        **{f"raw_{k.lower()}": t for k, t in pipe.raw_tables.items()},
        "raw_load_audit": pipe.raw_load_audit,
        "can_txn": pipe.can_txn,
        "can_txn_line": pipe.can_txn_line,
        "can_txn_anomaly": pipe.can_txn_anomaly,
    }

    def listing() -> dict[str, dict]:
        return {n: _files(t.path) if os.path.isdir(t.path) else {}
                for n, t in tables.items()}

    totals: dict[str, float] = {}
    try:
        for k, drop in zip(range(args.drops), gen.iter_drops(args.seed)):
            for rel, data in drop.files.items():
                with open(os.path.join(feed, rel), "wb") as f:
                    f.write(data)
            before = listing()
            t0 = time.perf_counter()
            pipe.run_batch()
            run_s = time.perf_counter() - t0
            after = listing()
            per_table = {n: split_io(before[n], after[n]) for n in tables}
            for n in ("can_txn", "can_txn_line", "can_txn_anomaly"):
                t = tables[n]
                per_table[n]["shadowed_rows"] = (
                    t.files(spark).count() - t.read(spark).count()
                    if t.exists() else 0
                )
                t0 = time.perf_counter()
                t.read(spark).write.format("noop").mode("overwrite").save()
                per_table[n]["read_s"] = round(time.perf_counter() - t0, 3)
            written = sum(v[f"written_{m}"] for v in per_table.values()
                          for m in ("appended", "delta", "rewritten"))
            stored = sum(v[f"stored_{m}"] for v in per_table.values()
                         for m in ("appended", "delta", "rewritten", "untouched"))
            row = {
                "op": k,
                "run_s": round(run_s, 3),
                "input_bytes": drop.nbytes,
                "written_per_input_byte": round(written / drop.nbytes, 3),
                "stored_per_input_byte": round(stored / drop.nbytes, 3),
                "tables": per_table,
            }
            print(json.dumps(row), flush=True)
            totals[f"op{k}_written_per_input_byte"] = row["written_per_input_byte"]
            totals[f"op{k}_written_rewritten"] = sum(
                v["written_rewritten"] for v in per_table.values())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"seed": args.seed, "join_mode": args.join_mode, **totals}))


if __name__ == "__main__":
    main()
