"""Measure per-trigger state-table write I/O of the bucket-scoped sinks.

Drives ExactDedupSink (additive fold, ledger-guarded), MinHashLshDedupSink
(signature and pair folds) and IvfIndexSink (keyed fold) over the same
batches and reports, per trigger, the bytes of parquet files that were
created or changed under the state-table roots, split three ways: DELTA
bytes (new ``delta-`` files, which shadow stored rows of their keys on
read), APPENDED bytes (other new files in a bucket whose stored files all
survived — an insert-only bucket) and REWRITTEN bytes (every other
bucket). A fold of new keys appends; a fold that updates stored keys,
and the ledgered exact-dedup fold once a bucket stores its ledger row,
writes a delta; a bucket is rewritten when it loses rows, widens or
reaches the file bound. On ``ManifestTable`` (``--protocol``) delta files
carry no name mark and count as appended.

The regime matters. A micro-batch touches one bucket per distinct key
hash, so with B batch keys and N buckets the expected rewrite is
``N * (1 - exp(-B/N))`` buckets ≈ ``min(B, N)`` — equal slices of the
whole corpus (B >> N) touch EVERY bucket and measure only layout
overhead. The regime the scoped fold exists for is steady-state
streaming: a large accumulated state taking small incremental triggers
(B << N), where per-trigger I/O is ~``B * state/N`` instead of
``state``. This script therefore seeds the state with most of the
corpus, then applies small increments and reports the increment
triggers' written bytes. Bucket count must scale with state (fixed
target bucket size) for the economics to hold at 100 TB — that is the
``n_buckets`` knob being swept here.

Run:  python tools/measure_sink_io.py [sf_dir] [n_incr] [inc_rows] [n_buckets]

Growth mode (``--growth``): the r12 verdict's open question — does
per-trigger I/O stay FLAT as state grows 10x? With a FIXED modulus it
cannot (trigger cost = touched_buckets x mean_bucket_size, and mean
bucket size grows with state); with ``rebucket_target_bytes`` set the
sink auto-splits to hold mean bucket size at the target, so probe-trigger
I/O stays ~touched_buckets x target. This mode grows the exact-dedup
state through 4 phases (~10x end to end), interleaving 3 small fixed-size
probe batches per phase, and reports per-phase probe write bytes (split
as above) for the fixed layout vs the auto-rebucketing layout side by
side. Each probe bucket takes one delta file of its new rows and ledger
row, so probe writes stay flat as state grows on either layout, up to
the rewrite of a bucket that reaches the file bound.

Run:  python tools/measure_sink_io.py --growth [sf_dir] [probe_rows] [target_kb]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (  # noqa: E402
    PART_COL,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (  # noqa: E402
    DELTA_PREFIX,
    ParquetTable,
)
from financial_data_ingestion_canonical_snowflake_spark.session import (  # noqa: E402
    get_spark,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.dedup_stream import (  # noqa: E402
    ExactDedupSink,
    MinHashLshDedupSink,
)
from financial_data_ingestion_canonical_snowflake_spark.streaming.ivf_stream import (  # noqa: E402
    IvfIndexSink,
)


def _files(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime)
    return out


def _written_split(before: dict, after: dict) -> tuple[int, int, int]:
    """(appended, delta, rewritten) bytes of the parquet files created or
    changed between two ``_files`` listings: a new ``delta-`` file is a
    delta; otherwise, by bucket, a bucket whose stored files all survived
    unchanged was appended to, any other bucket with new files was
    rewritten. Buckets are the ``txn_part=`` path component, so this reads
    both the rename layout and the manifest's generation directories."""

    def bucket(p: str) -> str:
        return next(
            (c for c in p.split(os.sep) if c.startswith(f"{PART_COL}=")), ""
        )

    new: dict[str, int] = {}
    delta = 0
    for p, sig in after.items():
        if before.get(p) == sig:
            continue
        if os.path.basename(p).startswith(DELTA_PREFIX):
            delta += sig[0]
        else:
            new[bucket(p)] = new.get(bucket(p), 0) + sig[0]
    kept = {b: True for b in new}
    for p, sig in before.items():
        if bucket(p) in kept and after.get(p) != sig:
            kept[bucket(p)] = False
    appended = sum(n for b, n in new.items() if b and kept[b])
    return appended, delta, sum(new.values()) - appended


def run_sink(mk_tables, mk_sink, batches) -> list[tuple[int, int, int]]:
    """Per trigger, (appended, delta, rewritten) parquet bytes summed over
    the sink's state tables."""
    tables = mk_tables()
    sink = mk_sink(*tables)

    def listing():
        return [_files(t.path) if os.path.isdir(t.path) else {} for t in tables]

    written = []
    for i, b in enumerate(batches):
        before = listing()
        sink(b, i)
        split = [_written_split(*ba) for ba in zip(before, listing())]
        written.append(tuple(sum(col) for col in zip(*split)))
    return written


def _seed_plus_increments(df, id_col, n, n_incr, inc_rows):
    """[seed batch of everything above the increment range] + n_incr
    small batches of inc_rows distinct keys each — the steady-state
    streaming regime (large state, small triggers)."""
    lo = n_incr * inc_rows
    seed = df.filter(F.col(id_col) >= lo)
    return [seed] + [
        df.filter(
            (F.col(id_col) >= i * inc_rows)
            & (F.col(id_col) < (i + 1) * inc_rows)
        )
        for i in range(n_incr)
    ]


def growth_main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/testdata/sf1"
    probe_rows = int(args[1]) if len(args) > 1 else 20
    target_kb = int(args[2]) if len(args) > 2 else 16
    spark = get_spark(app_name="sink-io-growth", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import Row

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40_000)
        .persist()
    )
    # ~10x state growth end to end over the first (up to) 40,000 ids;
    # probes are NEW unique keys each time (inserts — the steady-state
    # small-trigger shape)
    top = docs.agg(F.max("doc_id")).first()[0] + 1
    cuts = [0, top // 10, top // 5, 2 * top // 5, top]
    phases = list(zip(cuts, cuts[1:]))

    def probe(pi: int, j: int):
        base = 10_000_000 + pi * 10_000 + j * 1_000
        return spark.createDataFrame(
            [
                Row(doc_id=base + i, text=f"probe document {base + i} body")
                for i in range(probe_rows)
            ]
        )

    work = tempfile.mkdtemp(prefix="sink_io_growth_")
    report = {}
    for layout, target in (
        ("fixed_32", None),
        (f"auto_{target_kb}KB", target_kb << 10),
    ):
        table = ParquetTable(
            f"{work}/{layout}", partition_by=[PART_COL], n_buckets=32
        )
        sink = ExactDedupSink(
            table, "doc_id", "text", rebucket_target_bytes=target
        )
        bid = 0
        phase_stats = []
        for pi, (lo, hi) in enumerate(phases):
            sink(
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                ),
                bid,
            )
            bid += 1
            probes = []
            for j in range(3):
                before = _files(table.path)
                sink(probe(pi, j), bid)
                bid += 1
                probes.append(_written_split(before, _files(table.path)))
            state_bytes = sum(sz for sz, _m in _files(table.path).values())
            n_buckets = table.read_meta()["n_buckets"]
            phase_stats.append(
                {
                    "state_mb": round(state_bytes / 1e6, 2),
                    "n_buckets": n_buckets,
                    "probe_mb": [round(sum(p) / 1e6, 3) for p in probes],
                    "probe_mean_mb": round(
                        sum(map(sum, probes)) / len(probes) / 1e6, 3
                    ),
                    # mean probe MB appended / delta / rewritten
                    "probe_split_mb": [
                        round(sum(col) / len(probes) / 1e6, 3)
                        for col in zip(*probes)
                    ],
                }
            )
        report[layout] = phase_stats
    print(json.dumps({
        "mode": "growth", "sf_dir": sf_dir, "probe_rows": probe_rows,
        "target_kb": target_kb, "phases": [h for _l, h in phases],
    }))
    for layout, stats in report.items():
        print(f"\n{layout}:")
        for i, s in enumerate(stats):
            print(
                f"  phase {i}: state {s['state_mb']:7.2f} MB  "
                f"buckets {s['n_buckets']:4d}  "
                f"probe-writes MB {s['probe_mb']}  "
                f"mean {s['probe_mean_mb']} "
                f"(appended/delta/rewritten {s['probe_split_mb']})"
            )
    f0 = report["fixed_32"]
    a0 = report[f"auto_{target_kb}KB"]
    print(
        f"\nprobe-write slope phase0 -> phase3: fixed "
        f"{f0[-1]['probe_mean_mb'] / max(f0[0]['probe_mean_mb'], 1e-9):.1f}x"
        f" vs auto "
        f"{a0[-1]['probe_mean_mb'] / max(a0[0]['probe_mean_mb'], 1e-9):.1f}x"
        f" (state grew "
        f"{a0[-1]['state_mb'] / max(a0[0]['state_mb'], 1e-9):.1f}x)"
    )
    spark.stop()


def _all_file_bytes(root: str, suffix: str) -> int:
    total = 0
    for r, _d, fs in os.walk(root):
        for f in fs:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(r, f))
    return total


def protocol_main() -> None:
    """``--protocol``: the rename commit (ParquetTable) vs the manifest PUT
    commit (ManifestTable) on the identical steady-state scoped workload —
    per-increment parquet write bytes, commit-metadata bytes, and wall
    seconds. Quantifies the round-14 claim that the object-store protocol
    costs nothing on the data path: parquet I/O should be identical
    (same scoped merge plan lands in both layouts) and the protocol delta
    should be confined to small JSON commit objects.

    Run:  python tools/measure_sink_io.py --protocol [sf_dir] [n_incr] [inc_rows] [n_buckets]
    """
    import time

    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/testdata/sf1"
    n_incr = int(args[1]) if len(args) > 1 else 6
    inc_rows = int(args[2]) if len(args) > 2 else 100
    n_buckets = int(args[3]) if len(args) > 3 else 64
    spark = get_spark(app_name="sink-io-protocol", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50_000)
        .persist()
    )
    n = docs.count()
    batches = _seed_plus_increments(docs, "doc_id", n, n_incr, inc_rows)
    work = tempfile.mkdtemp(prefix="sink_io_proto_")

    report = {}
    for proto, mk in (
        (
            "rename",
            lambda: ParquetTable(
                f"{work}/rn", partition_by=[PART_COL], n_buckets=n_buckets
            ),
        ),
        (
            "manifest",
            lambda: ManifestTable(
                f"{work}/mf", partition_by=[PART_COL], n_buckets=n_buckets
            ),
        ),
    ):
        table = mk()
        sink = ExactDedupSink(table, "doc_id", "text")
        rows = []
        for i, b in enumerate(batches):
            before = _files(table.path) if os.path.isdir(table.path) else {}
            meta_before = _all_file_bytes(table.path, ".json") if os.path.isdir(table.path) else 0
            t0 = time.perf_counter()
            sink(b, i)
            wall = time.perf_counter() - t0
            # the pointer object is REWRITTEN whole each commit — its full
            # size (not the growth delta) is the per-commit PUT volume,
            # and the number that scales with layout width (leaf count),
            # not with the trigger's delta. This is the dir-granular
            # manifest's scaling seam (VERDICT r14 next-step #4).
            mpath = os.path.join(table.path, "_MANIFEST.json")
            appended, delta, rewritten = _written_split(
                before, _files(table.path)
            )
            rows.append(
                {
                    "parquet_mb": round((appended + delta + rewritten) / 1e6, 3),
                    "appended_mb": round(appended / 1e6, 3),
                    "delta_mb": round(delta / 1e6, 3),
                    "rewritten_mb": round(rewritten / 1e6, 3),
                    "commit_json_b": _all_file_bytes(table.path, ".json")
                    - meta_before,
                    "manifest_obj_b": (
                        os.path.getsize(mpath) if os.path.isfile(mpath) else 0
                    ),
                    "wall_s": round(wall, 2),
                }
            )
        report[proto] = {
            "triggers": rows,
            "final_state_mb": round(
                sum(sz for sz, _m in _files(table.path).values()) / 1e6, 2
            ),
            "final_files": len(_files(table.path)),
        }
    print(json.dumps({
        "mode": "protocol", "sf_dir": sf_dir, "docs": n,
        "n_incr": n_incr, "inc_rows": inc_rows, "n_buckets": n_buckets,
        "report": report,
    }, indent=1))
    # headline: mean increment-trigger numbers (trigger 0 is the seed)
    for proto, r in report.items():
        inc = r["triggers"][1:]
        mean = lambda k: sum(t[k] for t in inc) / max(len(inc), 1)  # noqa: E731
        print(
            f"{proto:9s} mean increment: parquet {mean('parquet_mb'):.3f} MB, "
            f"commit-json {mean('commit_json_b'):.0f} B, "
            f"manifest-PUT {mean('manifest_obj_b'):.0f} B, "
            f"wall {mean('wall_s'):.2f} s; "
            f"final state {r['final_state_mb']} MB in {r['final_files']} files"
        )
    spark.stop()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata/sf1"
    n_incr = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    inc_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 1024
    spark = get_spark(app_name="sink-io", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .persist()
    )
    n = docs.count()
    doc_batches = _seed_plus_increments(docs, "doc_id", n, n_incr, inc_rows)
    emb = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .persist()
    )
    ne = emb.count()
    emb_batches = _seed_plus_increments(emb, "vec_id", ne, n_incr, inc_rows)
    work = tempfile.mkdtemp(prefix="sink_io_")
    cents = ParquetTable(work + "/cents")
    cents.overwrite_atomic(emb.orderBy("vec_id").limit(16))

    def mk(nm: str) -> ParquetTable:
        return ParquetTable(
            f"{work}/{nm}", partition_by=[PART_COL], n_buckets=n_buckets
        )

    results = {
        "exact_dedup": run_sink(
            lambda: [mk("dedup")],
            lambda t: ExactDedupSink(t, "doc_id", "text"),
            doc_batches,
        ),
        "minhash_dedup": run_sink(
            lambda: [mk("sigs"), mk("pairs")],
            lambda s, p: MinHashLshDedupSink(s, p, "doc_id", "text"),
            doc_batches,
        ),
        "ivf_index": run_sink(
            lambda: [mk("ivf")], lambda t: IvfIndexSink(t, cents), emb_batches
        ),
    }

    print(json.dumps({
        "sf_dir": sf_dir, "n_incr": n_incr, "inc_rows": inc_rows,
        "n_buckets": n_buckets, "docs": n, "vecs": ne,
    }))
    for k, w in results.items():
        app, dlt, rew = ([round(b / 1e6, 3) for b in col] for col in zip(*w))
        print(
            f"{k:16s} seed write {sum(w[0]) / 1e6:.3f} MB; per increment, "
            f"appended MB {app[1:]} delta MB {dlt[1:]} rewritten MB {rew[1:]}"
        )
    # headline: mean increment-trigger write vs the seeded state size
    for fam, w in results.items():
        app, dlt, rew = (sum(col) / n_incr / 1e6 for col in zip(*w[1:]))
        print(
            f"{fam}: mean increment write {app:.3f} MB appended + "
            f"{dlt:.3f} MB delta + {rew:.3f} MB rewritten "
            f"over a {sum(w[0]) / 1e6:.2f} MB seeded state"
        )
    spark.stop()


if __name__ == "__main__":
    if "--growth" in sys.argv:
        growth_main()
    elif "--protocol" in sys.argv:
        protocol_main()
    else:
        main()
