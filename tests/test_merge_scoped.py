"""Partition-scoped merge: delta-proportional I/O (VERDICT r1 next-step #3).

Reference MERGE cost is proportional to the delta
(reference sql/05_merge_canonical.sql:6-53); these tests prove the scoped
emulation shares that property: a batch touching one hash bucket rewrites
only that bucket's directory, leaves every other partition's files
byte-identical, and still produces exactly the same table a full-outer
merge would.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
    merge_upsert,
    merge_upsert_scoped,
    part_expr,
    stage_then_commit,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import ParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType()),
        T.StructField("created_from", T.StringType()),
    ]
)


from .helpers import snapshot as _snapshot


@pytest.fixture()
def table(tmp_path):
    return ParquetTable(str(tmp_path / "tbl"), SCHEMA, [PART_COL], n_buckets=8)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_scoped_merge_rewrites_only_touched_buckets(spark, table):
    base = _df(spark, [(f"k{i}", i, "base") for i in range(200)])
    merge_upsert_scoped(spark, table, base, keys=["k"])
    before = _snapshot(table.path)
    assert len(before) > 0

    # one-key delta -> exactly one bucket touched
    delta = _df(spark, [("k7", 777, "delta")])
    replaced = merge_upsert_scoped(spark, table, delta, keys=["k"], preserve=["created_from"])
    bucket = spark.range(1).select(part_expr_lit("k7", 8)).collect()[0][0]
    assert replaced == [f"{PART_COL}={bucket}"]

    after = _snapshot(table.path)
    changed = {p for p in set(before) | set(after) if before.get(p) != after.get(p)}
    untouched = {p for p in before if f"{PART_COL}={bucket}" not in p}
    # every untouched bucket's files are byte-identical
    assert all(before[p] == after.get(p) for p in untouched)
    # and something inside the touched bucket did change
    assert changed and all(f"{PART_COL}={bucket}" in p for p in changed)


def part_expr_lit(value: str, n: int):
    return F.pmod(F.xxhash64(F.lit(value)), F.lit(n)).cast("int")


def test_scoped_merge_equals_full_merge(spark, table):
    base = _df(spark, [(f"k{i}", i, "base") for i in range(100)])
    merge_upsert_scoped(spark, table, base, keys=["k"])
    delta = _df(
        spark,
        [("k3", 333, "delta"), ("k42", 4242, "delta"), ("new1", 1, "delta")],
    )
    merge_upsert_scoped(spark, table, delta, keys=["k"], preserve=["created_from"])

    expect = merge_upsert(base, delta, keys=["k"], preserve=["created_from"])
    got = sorted(tuple(r) for r in table.read(spark).collect())
    want = sorted(tuple(r) for r in expect.collect())
    assert got == want
    # preserve semantics: updated key kept its original created_from
    row = dict((r.k, r) for r in table.read(spark).collect())
    assert row["k3"].v == 333 and row["k3"].created_from == "base"
    assert row["new1"].created_from == "delta"


def test_scoped_merge_prunes_target_scan(spark, table):
    base = _df(spark, [(f"k{i}", i, "base") for i in range(200)])
    merge_upsert_scoped(spark, table, base, keys=["k"])
    # build the pruned target read exactly as merge_upsert_scoped does and
    # verify the partition filter reaches the file scan
    src = _df(spark, [("k7", 7, "d")]).withColumn(PART_COL, part_expr("k", 8))
    parts = [r[0] for r in src.select(PART_COL).distinct().collect()]
    tgt = spark.read.parquet(table.path).filter(F.col(PART_COL).isin(parts))
    plan = tgt._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and PART_COL in plan.split("PartitionFilters", 1)[1][:200]


def test_scoped_merge_first_batch_creates_table(spark, table):
    assert not table.exists()
    delta = _df(spark, [("a", 1, "x"), ("b", 2, "x")])
    merge_upsert_scoped(spark, table, delta, keys=["k"])
    assert table.exists()
    assert sorted(r.k for r in table.read(spark).collect()) == ["a", "b"]
    # read() never leaks the bucket column
    assert table.read(spark).columns == ["k", "v", "created_from"]


def test_exists_requires_parquet_data_file(tmp_path):
    p = tmp_path / "t"
    p.mkdir()
    t = ParquetTable(str(p), SCHEMA)
    assert not t.exists()
    (p / "_SUCCESS").touch()
    assert not t.exists()  # marker alone is not a table
    sub = p / f"{PART_COL}=3"
    sub.mkdir()
    (sub / "part-000.parquet").touch()
    assert t.exists()  # nested data file found recursively


def test_scoped_merge_rejects_changed_bucket_modulus(spark, table, tmp_path):
    """The bucket modulus is persisted in _fincan_meta.json on first scoped
    write. An EXPLICIT mismatching n_buckets argument must fail loudly
    instead of pruning to the wrong buckets and duplicating keys (ADVICE
    r2 medium). A table OBJECT constructed with a different seed value is
    NOT an error in default mode — the seed is a creation parameter and
    the stored modulus is the layout truth (an auto-rebucket grows it by
    design; a stream restart reconstructs the table with its original
    seed and must follow the table, r13)."""
    merge_upsert_scoped(spark, table, _df(spark, [("k1", 1, "a")]), keys=["k"])
    assert table.read_meta()["n_buckets"] == 8
    with pytest.raises(ValueError, match="n_buckets"):
        merge_upsert_scoped(
            spark, table, _df(spark, [("k1", 2, "b")]), keys=["k"], n_buckets=16
        )
    # a stale-seed table object ADOPTS the stored modulus in default mode:
    # the merge lands correctly and the layout stays at 8
    retuned = ParquetTable(table.path, SCHEMA, [PART_COL], n_buckets=16)
    merge_upsert_scoped(spark, retuned, _df(spark, [("k1", 2, "b")]), keys=["k"])
    assert retuned.n_buckets == 8 and table.read_meta()["n_buckets"] == 8
    # matching modulus still merges fine
    merge_upsert_scoped(spark, table, _df(spark, [("k1", 3, "c")]), keys=["k"])
    assert {(r.k, r.v) for r in table.read(spark).collect()} == {("k1", 3)}


def test_scoped_merge_legacy_table_directory_check(spark, table):
    """A table written before metadata existed: observed txn_part= dirs must
    fit the claimed modulus (weak check), then the table is stamped."""
    merge_upsert_scoped(spark, table, _df(spark, [(f"k{i}", i, "a") for i in range(64)]), keys=["k"])
    os.remove(os.path.join(table.path, "_fincan_meta.json"))
    too_small = ParquetTable(table.path, SCHEMA, [PART_COL], n_buckets=2)
    with pytest.raises(ValueError, match="exceeds claimed"):
        merge_upsert_scoped(spark, too_small, _df(spark, [("k1", 9, "b")]), keys=["k"])
    merge_upsert_scoped(spark, table, _df(spark, [("k1", 9, "b")]), keys=["k"])
    assert table.read_meta()["n_buckets"] == 8  # re-stamped


def test_replace_partitions_leaves_no_stray_dirs_in_root(spark, table):
    """Displaced old partition dirs are parked OUTSIDE the table root during
    the swap — a '<part>.old-*' name inside the root would be parsed by
    partition discovery as a partition VALUE (ADVICE r2)."""
    merge_upsert_scoped(spark, table, _df(spark, [(f"k{i}", i, "a") for i in range(64)]), keys=["k"])
    merge_upsert_scoped(spark, table, _df(spark, [(f"k{i}", -i, "b") for i in range(64)]), keys=["k"])
    strays = [
        d for d in os.listdir(table.path)
        if not d.startswith(f"{PART_COL}=") and d != "_fincan_meta.json" and not d.startswith("_")
    ]
    assert strays == []
    # partition column still reads back as a clean int bucket set
    vals = {r[0] for r in spark.read.parquet(table.path).select(PART_COL).distinct().collect()}
    assert all(isinstance(v, int) and 0 <= v < 8 for v in vals)


def test_ledger_survives_caller_parts_superset(spark, tmp_path):
    """ADVICE r13 (medium): caller-supplied ``parts`` is a documented
    SUPERSET of the source's touched buckets — a superset bucket with
    target rows and no source rows is not written, so its sentinel keeps
    its old applied value (losing it would drop the bucket's watermark,
    and a later replay would double-fold additive state)."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
        LedgerSpec,
    )

    from .helpers import bucketed_table

    table = bucketed_table(tmp_path, "t", n_buckets=8)
    ledger = LedgerSpec("__led__", "v")
    add = {
        "v": lambda t, s: (
            F.coalesce(t, F.lit(0)) + F.coalesce(s, F.lit(0))
        ).cast("long")
    }
    b0 = spark.createDataFrame(
        [(f"k{i}", 1) for i in range(40)], "k string, v long"
    )
    merge_upsert_scoped(
        spark, table, b0, keys=["k"], merge_exprs=add,
        ledger=ledger, batch_id=0,
    )

    # batch 1 touches ONE key but declares ALL buckets (a sink passing
    # the affected-key superset it already holds)
    b1 = spark.createDataFrame([("k7", 1)], "k string, v long")
    before = _snapshot(table.path)
    merge_upsert_scoped(
        spark, table, b1, keys=["k"], merge_exprs=add,
        ledger=ledger, batch_id=1, parts=list(range(8)),
    )

    # every bucket still reads exactly one sentinel; only k7's bucket
    # advanced to batch 1 (its new sentinel shadows the stored one), the
    # superset-only buckets kept applied=0 and their files
    raw = table.scan(spark)
    sent = {
        r[PART_COL]: r["v"]
        for r in raw.filter(F.col("k") == "__led__").collect()
    }
    assert len(sent) == 8 == raw.filter(F.col("k") == "__led__").count()
    k7_bucket = spark.createDataFrame([("k7",)], "k string").select(
        part_expr("k", 8).alias("p")
    ).collect()[0]["p"]
    assert sent[k7_bucket] == 1
    assert all(v == 0 for p, v in sent.items() if p != k7_bucket)
    changed = {
        rel.split(os.sep)[0]
        for rel, h in _snapshot(table.path).items()
        if before.get(rel) != h
    }
    assert changed == {f"{PART_COL}={k7_bucket}"}

    # replay of batch 0 must remain a per-bucket no-op EVERYWHERE — the
    # untouched sentinels are what makes the superset buckets skip it
    state = _snapshot(table.path)
    merge_upsert_scoped(
        spark, table, b0, keys=["k"], merge_exprs=add,
        ledger=ledger, batch_id=0,
    )
    assert _snapshot(table.path) == state
    got = {
        r["k"]: r["v"]
        for r in raw.filter(F.col("k") != "__led__").collect()
    }
    assert got["k7"] == 2 and all(
        v == 1 for k, v in got.items() if k != "k7"
    )


def test_exists_restores_orphaned_old_generation(spark, table):
    """ADVICE r13 (low): a crash between overwrite_atomic's two renames
    leaves the table path absent and the previous generation parked as
    an ``.old-*`` sibling — exists() must restore it (one-batch replay)
    instead of reporting a fresh table (full state + ledger loss)."""
    merge_upsert_scoped(
        spark, table, _df(spark, [("a", 1, "s1"), ("b", 2, "s1")]), keys=["k"]
    )
    assert table.exists()
    # simulate the crash instant: live dir renamed away, tmp never landed
    os.rename(table.path, f"{table.path}.old-deadbeef")
    assert not os.path.isdir(table.path)
    assert table.exists()  # restored, not absent
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == {"a": 1, "b": 2}
    # a genuinely fresh table (no orphan) still reads as absent
    fresh = ParquetTable(
        table.path + "_nope", SCHEMA, [PART_COL], n_buckets=8
    )
    assert not fresh.exists()


def test_staged_merge_abort_and_ordered_commit(spark, table, tmp_path):
    """r16: merge_upsert_scoped(stage_only=True) runs the write job but
    publishes NOTHING until commit(); abort() discards the staged files
    with the table bit-untouched — the invariants the multi-table sinks'
    overlapped staging + ordered commits are built on. Checked on both
    physical layouts (rename swap and manifest PUT)."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )

    for t in (
        table,
        ManifestTable(str(tmp_path / "mtbl"), SCHEMA, [PART_COL], n_buckets=8),
    ):
        merge_upsert_scoped(
            spark, t, _df(spark, [("a", 1, "s1"), ("b", 2, "s1")]), keys=["k"]
        )
        before = _snapshot(t.path)
        upd = _df(spark, [("a", 99, "s2"), ("c", 3, "s2")])
        # stage + abort: write job ran, table identical byte-for-byte
        staged = merge_upsert_scoped(spark, t, upd, keys=["k"], stage_only=True)
        staged.abort()
        assert _snapshot(t.path) == before
        assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {
            "a": 1,
            "b": 2,
        }
        # stage + commit == the inline merge
        staged = merge_upsert_scoped(spark, t, upd, keys=["k"], stage_only=True)
        staged.commit()
        assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {
            "a": 99,
            "b": 2,
            "c": 3,
        }


def test_stage_then_commit_aborts_every_stage_on_any_failure(
    spark, table, tmp_path
):
    """The multi-table fold protocol: one failing stage aborts every stage
    that succeeded (no staged files left, both tables bit-untouched), and
    when all stages succeed every table commits."""
    other = ParquetTable(str(tmp_path / "other"), SCHEMA, [PART_COL], n_buckets=8)
    for t in (table, other):
        merge_upsert_scoped(spark, t, _df(spark, [("a", 1, "s1")]), keys=["k"])
    before = {t.path: _snapshot(t.path) for t in (table, other)}
    upd = _df(spark, [("a", 2, "s2"), ("b", 3, "s2")])

    def stage(t):
        return lambda: merge_upsert_scoped(
            spark, t, upd, keys=["k"], stage_only=True
        )

    def boom():
        raise RuntimeError("stage failed")

    with pytest.raises(RuntimeError, match="stage failed"):
        stage_then_commit(stage(table), boom)
    for t in (table, other):
        assert _snapshot(t.path) == before[t.path]
    assert not [d for d in os.listdir(tmp_path) if ".tmp-" in d]

    stage_then_commit(stage(table), stage(other))
    for t in (table, other):
        assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {
            "a": 2,
            "b": 3,
        }


def test_manifest_commit_refuses_a_collected_staged_generation(spark, tmp_path):
    """A commit landing between stage and commit garbage-collects the
    still-unreferenced staged generation; the staged commit must then
    raise and leave the table as that other commit left it, instead of
    publishing a manifest that re-points nothing."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.manifest import (
        ManifestTable,
    )

    t = ManifestTable(str(tmp_path / "m"), SCHEMA, [PART_COL], n_buckets=8)
    merge_upsert_scoped(spark, t, _df(spark, [("a", 1, "s1")]), keys=["k"])
    staged = merge_upsert_scoped(
        spark, t, _df(spark, [("a", 2, "s2")]), keys=["k"], stage_only=True
    )
    t.append(
        _df(spark, [("b", 3, "s3")]).withColumn(PART_COL, part_expr("k", 8))
    )
    rows = sorted(map(tuple, t.read(spark).collect()))
    parts, meta = t._load_manifest()["parts"], t.read_meta()
    with pytest.raises(FileNotFoundError, match="no longer exists"):
        staged.commit()
    assert sorted(map(tuple, t.read(spark).collect())) == rows
    assert t._load_manifest()["parts"] == parts
    assert t.read_meta() == meta


def test_replace_keys_equals_merge(spark, table):
    """r16: the replace_keys fast path (broadcast anti-join + union) must
    equal the full-outer MERGE whenever the source is the complete state
    for its keys — here with the replace scope a PREFIX of the merge key
    (the SCD2 shape: all of a key's versions are replaced together)."""
    seed = [
        ("a", 1, "v1"), ("a", 2, "v1"), ("b", 1, "v1"), ("c", 1, "v1"),
        (None, 1, "v1"),
    ]
    upd = [
        ("a", 1, "v2"), ("a", 2, "v2"), ("a", 3, "v2"), ("c", 1, "v2"),
        (None, 1, "v2"),
    ]
    sch = "k string, version long, payload string"
    t_merge = ParquetTable(table.path + "_m", None, [PART_COL], n_buckets=8)
    t_repl = ParquetTable(table.path + "_r", None, [PART_COL], n_buckets=8)
    for t in (t_merge, t_repl):
        merge_upsert_scoped(
            spark, t, spark.createDataFrame(seed, sch), keys=["k", "version"]
        )
    src = spark.createDataFrame(upd, sch)
    merge_upsert_scoped(spark, t_merge, src, keys=["k", "version"])
    merge_upsert_scoped(
        spark,
        t_repl,
        src,
        keys=["k", "version"],
        replace_keys=src.select("k").distinct(),
    )
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731 — NULL-safe sort
    want = sorted(map(tuple, t_merge.read(spark).collect()), key=key)
    got = sorted(map(tuple, t_repl.read(spark).collect()), key=key)
    # a x3 (replaced), b x1 (kept), c x1, NULL x1 (replaced null-safely)
    assert got == want and len(got) == 6
    # matched-row semantics cannot ride along with a replacement
    with pytest.raises(AssertionError, match="whole-key replacement"):
        merge_upsert_scoped(
            spark,
            t_repl,
            src,
            keys=["k", "version"],
            preserve=["payload"],
            replace_keys=src.select("k").distinct(),
        )
