"""Merge-upsert operator (SURVEY.md §2.10, M1-M3).

Reimplements Snowflake ``MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
INSERT`` (reference sql/05_merge_canonical.sql:6-53,
sql/06_anomaly_detection.sql:30-50) without Delta Lake: a full-outer join
picks source values for matched/new keys and keeps ``preserve`` columns
(e.g. ``created_ts``) from the target on matched rows.

Scale notes (100 TB posture):
- The join shuffles both sides on the merge keys — exactly what a real MERGE
  does. If the target table is bucketed by the merge keys on disk, the scan
  side avoids its shuffle entirely; callers writing canonical tables should
  bucket by the merge key.
- The source is usually a small incremental batch: AQE converts the join to
  broadcast at runtime when it fits, so we don't hard-code a hint.
- Snowflake raises on nondeterministic merges (duplicate source keys); our
  operator dedupes the source first when ``dedupe_order`` is given (latest
  wins), matching the M2 semantics note in SURVEY.md.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..session import carry_job_description
from .storage import (
    APPEND,
    DELTA,
    MODE_COL,
    REWRITE,
    delta_parts,
)

_T_PRESENT = "__merge_t_present"
_S_PRESENT = "__merge_s_present"

#: prefixes of the target/source column aliases inside the merge join.
#: Public contract for ``merge_exprs`` combiners that need SIBLING columns
#: (e.g. a payload that follows whichever side holds the smaller
#: survivor_id): reference them as ``F.col(T_PREFIX + "survivor_id")`` /
#: ``F.col(S_PREFIX + "survivor_id")`` — the combiner evaluates over the
#: joined frame where every column of both sides is present under these
#: aliases.
T_PREFIX = "__t_"
S_PREFIX = "__s_"

#: per-column matched-row merge expression: (target_col, source_col) -> Column
MergeExpr = Callable[[Column, Column], Column]


@dataclass(frozen=True)
class LedgerSpec:
    """Per-bucket applied-batch ledger for NON-idempotent scoped folds.

    An additive merge expression (``dup_cnt``, ``doc_freq``, feature counts)
    double-counts a replayed at-least-once delivery; keyed/min/max folds
    don't. ``merge_upsert_scoped`` with a ledger stores, INSIDE each bucket
    partition, one sentinel row (``keys[0] == sentinel``; real keys never
    take the sentinel value) whose ``value_col`` holds the last applied
    ``batch_id`` for that bucket. A fold writes each bucket's new sentinel
    row into the one file it writes for the bucket (appended, delta or
    rewritten), and that file lands by one file publish or directory swap
    on ``ParquetTable``, or with every other bucket in one manifest PUT on
    ``ManifestTable``; a newer file's sentinel shadows the stored one on
    read, like any other key. So a bucket's data and its ledger move
    together — a crash mid-commit leaves every bucket either fully applied
    (ledger advanced) or fully unapplied (ledger stale), and the replay
    re-folds ONLY the unapplied buckets: the fold is exactly-once per
    bucket, even across a crash between the commit and the checkpoint
    commit.

    Readers must exclude sentinel rows (the sinks' accessor methods do).
    """

    sentinel: object
    value_col: str

#: hidden hash-bucket partition column for partition-scoped merges
PART_COL = "txn_part"

#: a bucket that already holds this many data files is rewritten
#: (compacted to one file) instead of gaining an appended or delta file, so
#: a bucket never holds more files than this
MAX_BUCKET_FILES = 8

#: per-row tag of a scoped merge's output: what the merge did to the row.
#: _REPLACED marks a stored row a replace_keys merge replaces with a
#: source row of the same merge key, _DROP one it removes outright. A
#: bucket holding a _DROP row is rewritten; one holding an _UPDATE or
#: _REPLACED row writes a delta file of its _INSERT and _UPDATE rows; one
#: of _KEEP and _INSERT rows only appends its _INSERT rows. _REPLACED and
#: _DROP rows are never written.
_ROW = "__merge_row"
_KEEP, _INSERT, _UPDATE, _REPLACED, _DROP = 0, 1, 2, 3, 4


@dataclass
class StagedScopedMerge:
    """A scoped merge whose Spark WRITE job has run but whose commit has
    not (``merge_upsert_scoped(..., stage_only=True)``). Lets a sink that
    maintains several tables per trigger run the expensive staging writes
    concurrently and then apply the COMMITS in the exact order its crash
    contract requires (:func:`stage_then_commit`). ``commit()`` is
    driver-side only (meta write + directory swaps and appended-file
    publishes / manifest PUT);
    ``abort()`` discards the staged files. A staged merge that is never
    committed leaves only invisible tmp/generation garbage for ``vacuum``
    — the same story as a crash mid-write.

    No other commit may land on the table between stage and commit: the
    staged merge was planned against the table as it stood at stage time,
    and on a :class:`~.manifest.ManifestTable` another commit's garbage
    collection deletes the still-unreferenced staged generation (the
    commit then raises instead of publishing). Sinks satisfy this by
    construction — foreachBatch serializes the triggers of one sink, and
    each state table belongs to one sink."""

    table: object
    staged: dict
    meta: dict

    def commit(self) -> list[str]:
        # the metadata lands BEFORE the publish: a crash in between leaves
        # the recorded schema wider than some files (explicit-schema reads
        # fill NULLs) and buckets listed as holding a delta that never
        # landed (read as they are) — both harmless; the reverse order
        # could leave mixed files with no recorded union schema, or a
        # delta file whose shadowed rows read too
        return self.table.commit_replace_partitions(self.staged, meta=self.meta)

    def abort(self) -> None:
        self.table.abort_replace_partitions(self.staged)


def part_expr(key: str, n_buckets: int) -> F.Column:
    """Deterministic key -> partition bucket. Derived from the merge key
    itself, so a key always lands in the same hive partition; NULL keys hash
    to the seed (one fixed bucket)."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def require_bucketed(table, owner: str) -> None:
    """The one state-table layout the streaming sinks accept: a
    hash-bucketed table, ``partition_by=[PART_COL]``.

    Every sink folds a micro-batch with :func:`merge_upsert_scoped`, which
    reads only the buckets the batch's keys land in and writes each of
    them in one of three modes: an insert-only bucket gets one new file
    of its inserted rows; a bucket whose batch updates keys gets one
    delta file of its inserted and updated rows, which reads resolve
    (the newest file holding a key wins); a bucket losing rows, and any
    bucket already holding ``MAX_BUCKET_FILES`` files, is rewritten. A
    batch therefore writes about what it changes, like the reference's
    MERGE (sql/05_merge_canonical.sql:6-53). Additive folds keep a
    per-bucket replay ledger inside those buckets (:class:`LedgerSpec`),
    which makes a replayed micro-batch exactly-once; each bucket's new
    ledger row rides in the file written for it. An unpartitioned table
    has none of these properties, so it is refused here, at sink
    construction."""
    if table.partition_by != [PART_COL]:
        raise ValueError(
            f"{owner}: state table {table.path} must be hash-bucketed "
            f"(partition_by=[{PART_COL!r}]), got partition_by="
            f"{table.partition_by}"
        )


def stage_then_commit(*stagers: Callable[[], StagedScopedMerge]) -> None:
    """The multi-table fold protocol: run every stager (a zero-argument
    call of ``merge_upsert_scoped(..., stage_only=True)``) concurrently —
    their Spark write jobs overlap — then commit the staged merges in the
    GIVEN order, which is the order a sink's crash contract is stated in.
    If any stage fails, every stage that succeeded is aborted and the
    first failure (in the given order) is raised: nothing commits. The
    stagers' jobs carry the caller's job description."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(stagers)) as ex:
        futures = [ex.submit(carry_job_description(stage)) for stage in stagers]
    staged, errors = [], []
    for fut in futures:
        try:
            staged.append(fut.result())
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
    if errors:
        for st in staged:
            st.abort()
        raise errors[0]
    for st in staged:
        st.commit()


def _flagged_outer_join(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    flag_a: str,
    flag_b: str,
    prefix_a: str,
    prefix_b: str,
) -> DataFrame:
    """Null-safe full-outer key join with presence flags and prefixed
    aliases — the scaffolding MERGE and snapshot-diff both bottom out in
    (a lit(True) flag survives the outer join as the presence test; raw
    columns can't, a legitimately-NULL column reads as 'absent')."""
    fa = a.select(
        F.lit(True).alias(flag_a), *[F.col(c).alias(f"{prefix_a}{c}") for c in a.columns]
    )
    fb = b.select(
        F.lit(True).alias(flag_b), *[F.col(c).alias(f"{prefix_b}{c}") for c in b.columns]
    )
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"{prefix_a}{k}").eqNullSafe(F.col(f"{prefix_b}{k}")) for k in keys],
    )
    return fa.join(fb, cond, "full_outer")


def dedupe_source(df: DataFrame, keys: Sequence[str], order_cols: Sequence) -> DataFrame:
    """Keep one row per key, ordered by ``order_cols`` (first row wins)."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    preserve: Sequence[str] = (),
    dedupe_order: Sequence | None = None,
    set_on_update: dict | None = None,
    set_on_insert: dict | None = None,
    evolve_schema: bool = False,
    merge_exprs: dict[str, MergeExpr] | None = None,
) -> DataFrame:
    """MERGE emulation: returns the post-merge table as a DataFrame.

    - matched rows  -> source values, except ``preserve`` columns kept from
      target (reference keeps ``created_ts`` on update,
      sql/05_merge_canonical.sql:22-29)
    - unmatched target rows -> unchanged
    - unmatched source rows -> inserted
    - ``set_on_update`` / ``set_on_insert``: column->Column overrides applied
      to matched / inserted rows (e.g. ``updated_ts = current_timestamp()``).
    - ``merge_exprs``: column -> ``(target_col, source_col) -> Column``
      combiner applied on MATCHED rows — the WHEN MATCHED THEN UPDATE SET
      ``c = f(t.c, s.c)`` surface the streaming state sinks need (additive
      counts, ``least()`` survivors, ``greatest()`` sketch registers).
      Inserted rows take the source value (the correct base case for every
      fold whose combiner is associative with the absent side as identity:
      ``coalesce(NULL,0)+s = s``, ``least(NULL,s) = s``). Disjoint from
      ``keys``/``preserve``/``set_on_update`` by assertion.
    - ``evolve_schema=True`` merges mismatched schemas instead of asserting:
      columns only in the source APPEND to the table (typed NULL for
      pre-existing rows), columns missing from the source are PRESERVED from
      the target (the source simply didn't speak to them — Delta
      ``mergeSchema`` semantics); a column present on both sides with
      different types raises. The scoped variant supports the flag WITHOUT
      a table rewrite: untouched bucket files keep the old physical schema
      and readers supply the evolved schema explicitly (recorded in the
      table metadata), so missing columns read as typed NULLs — the plain-
      parquet analog of a metadata-only ADD COLUMN.

    NULL key values match null-safely (reference M3 uses
    ``COALESCE(line_number, -1)`` to the same effect,
    sql/06_anomaly_detection.sql:36-39).
    """
    return _merge_rows(
        target,
        source,
        keys,
        preserve,
        dedupe_order,
        set_on_update,
        set_on_insert,
        evolve_schema,
        merge_exprs,
    ).drop(_ROW)


def _merge_rows(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    preserve: Sequence[str],
    dedupe_order: Sequence | None,
    set_on_update: dict | None,
    set_on_insert: dict | None,
    evolve_schema: bool,
    merge_exprs: dict[str, MergeExpr] | None,
) -> DataFrame:
    """:func:`merge_upsert`'s post-merge rows, each tagged in ``_ROW`` with
    what the merge did to it (``_KEEP``/``_INSERT``/``_UPDATE``)."""
    keys = list(keys)
    if evolve_schema:
        t_types = dict(target.dtypes)
        s_types = dict(source.dtypes)
        conflicts = {
            c: (t_types[c], s_types[c])
            for c in t_types
            if c in s_types and t_types[c] != s_types[c]
        }
        if conflicts:
            raise ValueError(
                f"merge_upsert(evolve_schema=True): type conflicts {conflicts}; "
                "cast the source to the table types first"
            )
        bad_keys = [k for k in keys if k not in t_types or k not in s_types]
        if bad_keys:
            raise ValueError(
                f"merge_upsert(evolve_schema=True): merge keys {bad_keys} must "
                "exist on both sides — schema evolution never invents keys"
            )
        # withColumn resolves case-INsensitively under the default
        # spark.sql.caseSensitive=false, so a case-mismatched pair
        # ("status" vs "Status") would silently null out real data via the
        # appended-column path — reject it before any column is touched
        case_clash = {
            (c, o)
            for c in t_types
            for o in s_types
            if c != o and c.lower() == o.lower()
        }
        if case_clash:
            raise ValueError(
                f"merge_upsert(evolve_schema=True): case-conflicting columns "
                f"{sorted(case_clash)}; rename one side first"
            )
        added = [c for c in source.columns if c not in t_types]
        unspoken = [c for c in target.columns if c not in s_types]
        for c in added:
            target = target.withColumn(c, F.lit(None).cast(s_types[c]))
        for c in unspoken:
            source = source.withColumn(c, F.lit(None).cast(t_types[c]))
        preserve = list(preserve) + [c for c in unspoken if c not in preserve]
    out_cols = list(target.columns)
    assert set(out_cols) == set(source.columns), (
        f"merge_upsert requires aligned schemas; target={out_cols} source={source.columns}"
    )
    if dedupe_order is not None:
        source = dedupe_source(source, keys, dedupe_order)

    joined = _flagged_outer_join(
        target.select(*out_cols),
        source.select(*out_cols),
        keys,
        _T_PRESENT,
        _S_PRESENT,
        T_PREFIX,
        S_PREFIX,
    )

    matched = F.col(_T_PRESENT).isNotNull() & F.col(_S_PRESENT).isNotNull()
    inserted = F.col(_T_PRESENT).isNull()
    set_on_update = set_on_update or {}
    set_on_insert = set_on_insert or {}
    merge_exprs = merge_exprs or {}
    clash = set(merge_exprs) & (set(keys) | set(preserve) | set(set_on_update))
    assert not clash, (
        f"merge_upsert: merge_exprs columns {sorted(clash)} clash with "
        "keys/preserve/set_on_update — a column can have one merge rule"
    )

    projections = []
    for c in out_cols:
        tc, sc = F.col(f"{T_PREFIX}{c}"), F.col(f"{S_PREFIX}{c}")
        if c in merge_exprs:
            base = F.when(matched, merge_exprs[c](tc, sc)).when(
                inserted, sc
            ).otherwise(tc)
        elif c in preserve:
            base = F.when(matched, tc).when(inserted, sc).otherwise(tc)
        else:
            base = F.when(matched | inserted, sc).otherwise(tc)
        if c in set_on_update:
            base = F.when(matched, set_on_update[c]).otherwise(base)
        if c in set_on_insert:
            base = F.when(inserted, set_on_insert[c]).otherwise(base)
        projections.append(base.alias(c))
    row_class = (
        F.when(matched, F.lit(_UPDATE))
        .when(inserted, F.lit(_INSERT))
        .otherwise(F.lit(_KEEP))
    )
    return joined.select(*projections, row_class.alias(_ROW))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC feed between two snapshots of a keyed table: one row per key whose
    state changed, ``change_type`` in ('insert', 'update', 'delete').

    Row values are the NEW side's (the state after the change); deletes carry
    the OLD side's last-known values. Unchanged keys (every compared column
    null-safely equal) emit nothing. Pair with ``ParquetTable.
    read_generation`` to derive the change feed between any two retained
    generations — the inverse of MERGE: ``merge_upsert(old, diff-as-upserts)
    minus deletes == new`` (pytest-proven).

    Scale posture: ONE null-safe key shuffle (the full-outer join both
    engines' CDC implementations bottom out in); the change predicate
    evaluates map-side post-join. At 100 TB diff partition-by-partition
    (hive layout makes untouched partitions byte-identical — skip them by
    file listing) rather than whole-table.
    """
    keys = list(keys)
    data_cols = [c for c in old.columns if c not in keys]
    assert old.columns == new.columns, (
        f"snapshot_diff requires identical schemas; old={old.columns} new={new.columns}"
    )
    assert "change_type" not in old.columns, (
        "snapshot_diff emits a 'change_type' column; rename the input's "
        "own change_type first"
    )
    cmp_cols = list(compare_cols) if compare_cols is not None else data_cols
    j = _flagged_outer_join(
        old, new, keys, _T_PRESENT, _S_PRESENT, "__o_", "__n_"
    )
    in_old = F.col(_T_PRESENT).isNotNull()
    in_new = F.col(_S_PRESENT).isNotNull()
    same = reduce(
        lambda a, b: a & b,
        [F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")) for c in cmp_cols],
        F.lit(True),
    )
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    out = j.withColumn("change_type", change).filter(F.col("change_type").isNotNull())
    side = lambda c: F.when(  # noqa: E731 — row values follow the change side
        F.col("change_type") == "delete", F.col(f"__o_{c}")
    ).otherwise(F.col(f"__n_{c}"))
    return out.select(
        *[side(k).alias(k) for k in keys],
        "change_type",
        *[side(c).alias(c) for c in data_cols],
    )


def merge_upsert_scoped(
    spark: SparkSession,
    table,
    source: DataFrame,
    keys: Sequence[str],
    n_buckets: int | None = None,
    preserve: Sequence[str] = (),
    dedupe_order: Sequence | None = None,
    set_on_update: dict | None = None,
    set_on_insert: dict | None = None,
    merge_exprs: dict[str, MergeExpr] | None = None,
    ledger: LedgerSpec | None = None,
    batch_id: int | None = None,
    parts: Sequence[int] | None = None,
    evolve_schema: bool = False,
    replace_keys: DataFrame | None = None,
    stage_only: bool = False,
) -> list[str] | StagedScopedMerge:
    """Partition-scoped MERGE into a hash-bucketed ``ParquetTable``.

    Reference MERGE's I/O is proportional to the delta
    (sql/05_merge_canonical.sql:6-53); a full-outer-join + whole-table rewrite
    is O(table) per batch. This variant scopes the emulation to the buckets
    the batch touches:

    1. bucket the source on ``part_expr(keys[0])`` — same function the table
       is laid out with, so matches can only live in the source's buckets;
    2. read ONLY those buckets from the target (hive partition pruning — the
       ``isin`` filter prunes directories, verified in tests), under the
       table's stored layout (recorded union schema, else the files' own
       columns — never a narrower declared schema). A bucket holding a
       delta file reads under the newest-file rule (below);
    3. ``merge_upsert`` within the touched buckets (with ``merge_exprs``
       custom matched-row combiners when given — the streaming state sinks'
       additive / least / greatest folds);
    4. sort each touched bucket into a write mode, inside the write job
       (a window over the already-bucketed rows: no extra job):

       - APPEND when no source key matches a stored key and the bucket
         holds fewer than ``MAX_BUCKET_FILES`` data files — only the
         inserted rows are written, as one new file beside the bucket's
         files. Appended keys never collide with stored ones;
       - DELTA when source keys match stored keys but no stored row is
         removed outright (``replace_keys``: every replaced stored row's
         merge key is re-sent by the source), under the same file bound —
         the inserted and updated rows are written as one new file, a
         delta, published with a commit sequence. Readers keep, for each
         merge key, every row of the newest file holding it
         (``ParquetTable.resolve``), so NULL and duplicate keys read as
         the rewritten bucket would hold them;
       - REWRITE otherwise — the whole post-merge bucket replaces the
         old one, compacting it to one file. So does a merge whose output
         widens the stored layout (``evolve_schema``). The file bound is
         the only compaction trigger;

       a ledgered fold's new sentinel row is one more row of its bucket:
       inserted where the bucket stores none, else an update the file
       written for the bucket carries. A bucket of caller-supplied
       ``parts`` that gets no source row is not written;
    5. commit every mode at once (``replace_partitions``: a directory swap
       per rewritten bucket and a file publish per appended or delta one
       on ``ParquetTable``; one manifest PUT on ``ManifestTable``). The
       table metadata records the merge keys and the buckets holding a
       delta (:class:`StagedScopedMerge` has the ordering).

    A batch therefore writes about its own size whether its keys are new
    or updates — like the reference's MERGE, and like ``Pipeline.
    run_batch``, which merges only its key closure. ``table`` must have
    ``partition_by=[PART_COL]``. Returns the rel-paths of the partitions
    the merge changed, in any mode.

    ``ledger`` + ``batch_id`` add per-bucket replay protection for
    non-idempotent folds (see :class:`LedgerSpec`): buckets whose stored
    ledger already reached ``batch_id`` are skipped IN-PLAN — a broadcast
    join against the pruned target's sentinel rows drops both sides'
    rows for applied buckets, so those buckets produce no output
    partition and ``replace_partitions`` leaves them untouched. The
    surviving buckets fold and land with their ledger row advanced in
    the same file. The ledger check costs no extra driver action (r12:
    it was a second per-trigger collect).

    ``parts``: optional caller-known superset of the touched bucket ids
    (computed with the SAME ``part_expr(keys[0], n_buckets)`` — e.g. from
    the affected-key set a sink already collected). Skips the
    touched-bucket driver action, and — when the source is consumed only
    once — the source persist with it. Without it the touched buckets
    are those of the source's keys and of the ``replace_keys`` scope.
    Safe to combine with ``ledger``: a superset bucket the source never
    reaches is not written, so its stored sentinel stays as it is.

    ``evolve_schema=True``: a source with NEW columns widens the table
    without a rewrite. Only the touched buckets are rewritten with the
    evolved schema; the union schema is recorded in the table metadata
    (``schema_json``) and every subsequent target read supplies it
    explicitly, so untouched buckets' old files read the added columns
    as typed NULLs (Spark fills missing columns under an explicit read
    schema) — a mid-stream column addition never forces a state rebuild.
    Union/conflict semantics are :func:`merge_upsert`'s.

    ``replace_keys``: a (distinct) frame of replacement-scope key values
    whose COLUMNS name the scope columns (must include ``keys[0]`` so the
    bucket pruning stays valid). The caller asserts the source holds the
    COMPLETE post-merge state for exactly those scope keys — true for the
    "re-collapse and fold back" sinks (SCD2 versions, IVF assignments,
    MinHash signatures), where every target row of an affected key is
    either overwritten by a matched source row or provably absent from
    the source only when it must not survive. Under that contract the
    full-outer MERGE is equivalent to: drop the target rows whose scope
    key appears in ``replace_keys`` (a null-safe left join), then union
    the source in. A dropped row whose merge key the source re-sends is
    replaced, not removed, so its bucket can take a delta. The caller
    decides whether the key set is broadcast: a streaming sink passes
    ``F.broadcast(keys)`` (micro-batch key sets are small by the
    streaming contract, and the pruned target is then never shuffled or
    sorted); without the hint Spark chooses from the sizes it sees, as it
    does for the MERGE — ``Pipeline.run_batch``'s key set is a whole
    history on a first load or a recovery run.
    Incompatible with ``preserve``/``dedupe_order``/``set_on_*``/
    ``merge_exprs``/``ledger``/``evolve_schema`` (those give matched rows
    semantics beyond "source wins" — asserted).

    ``stage_only=True`` runs everything INCLUDING the Spark write job but
    stops before the commit, returning a :class:`StagedScopedMerge`; see
    its docstring for the concurrency/ordering contract.
    """
    keys = list(keys)
    if (ledger is None) != (batch_id is None):
        raise ValueError(
            "merge_upsert_scoped: ledger and batch_id must be given together"
        )
    if replace_keys is not None:
        incompatible = (
            list(preserve)
            or dedupe_order is not None
            or set_on_update
            or set_on_insert
            or merge_exprs
            or ledger is not None
            or evolve_schema
        )
        assert not incompatible, (
            "merge_upsert_scoped: replace_keys is a whole-key replacement — "
            "matched-row semantics (preserve/set_on_*/merge_exprs/ledger/"
            "evolve_schema/dedupe_order) cannot apply"
        )
        assert keys[0] in replace_keys.columns, (
            f"merge_upsert_scoped: replace_keys columns "
            f"{replace_keys.columns} must include the bucket key {keys[0]!r}"
        )
    meta0 = table.read_meta()  # ONE read per trigger; threaded below
    if n_buckets is None:
        # adopt the STORED modulus over the table object's seed value: an
        # auto-rebucket grows the layout by design, and a process restart
        # reconstructs the table with its original seed — a default-mode
        # merge must follow the table, not crash the stream on the
        # validator (an EXPLICIT n_buckets still validates strictly)
        n_buckets = (meta0 or {}).get("n_buckets", table.n_buckets)
        table.n_buckets = n_buckets
    n_buckets = _validated_n_buckets(table, n_buckets, meta0)
    src = source.withColumn(PART_COL, part_expr(keys[0], n_buckets))
    src_cached = None
    try:
        exists = table.exists()
        if parts is not None:
            parts = [int(p) for p in parts]
        elif exists:
            # The incremental path needs the touched-bucket list BEFORE the
            # join (it statically prunes the target's partition directories —
            # a join-derived filter would not, DPP does not fire on this
            # shape), so the source evaluates twice: once for the bucket
            # collect, once inside the merge. Persist it — the source is the
            # small delta by construction, and recomputing a window-deduped
            # transform chain per consumer is the expensive half. Bounded by
            # n_buckets -> driver-small collect. A replace_keys scope key
            # the source does not re-send still removes its stored rows,
            # so its bucket is touched too.
            src_cached = src = src.persist()
            touched = src.select(PART_COL)
            if replace_keys is not None:
                touched = touched.unionByName(
                    replace_keys.select(part_expr(keys[0], n_buckets).alias(PART_COL))
                )
            parts = [r[0] for r in touched.distinct().collect()]
        if ledger is not None:
            if src_cached is None:
                # the in-plan ledger stamp (distinct touched buckets) is a
                # second consumer of the source subtree inside the write
                # job — cache it on the paths that don't otherwise persist
                # (first batch into an absent table, caller-supplied parts)
                src_cached = src = src.persist()
            # the buckets the fold stamps: every bucket of the source (on
            # an existing table, minus the replay-skipped ones, each
            # tagged insert or update below)
            stamped = src.select(PART_COL)
        stored = None
        if exists and meta0 and "schema_json" in meta0:
            stored = T.StructType.fromJson(meta0["schema_json"])
        if exists:
            # the physical read goes through the table's scan seam so a
            # manifest-committed layout (operators/manifest.py) plugs in;
            # with an evolved schema the read supplies the recorded union
            # schema explicitly — old files fill the added columns with
            # typed NULLs (a footer-inferred read could pick an old file
            # and drop the new columns entirely). The merge works on that
            # LAYOUT (recorded union schema, else the files' own), never on
            # a declared schema: a declaration narrower than the files
            # would drop the undeclared columns from rewritten buckets and
            # leave appended files unlike their neighbours
            base = table.files(spark, stored)
            layout = [f for f in base.schema.fields if f.name != PART_COL]
            tgt = (
                base
                .filter(F.col(PART_COL).isin(parts))
                .select(*[f.name for f in layout], PART_COL)
            )
            tgt = table.resolve(
                spark, tgt, meta0, sorted(set(delta_parts(meta0)) & set(parts))
            )
            if ledger is not None:
                # in-plan replay skip: ≤ len(parts) sentinel rows broadcast
                # to both sides; an applied bucket (ledger already at/past
                # batch_id) contributes no rows, hence no output partition,
                # hence no rewrite — exactly the old driver-side skip, one
                # driver action cheaper
                sentinel = F.lit(ledger.sentinel)
                lg = tgt.filter(F.col(keys[0]).eqNullSafe(sentinel)).select(
                    PART_COL, F.col(ledger.value_col).alias("__applied")
                )
                keep = F.col("__applied").isNull() | (
                    F.col("__applied") < F.lit(batch_id)
                )
                src = src.join(F.broadcast(lg), PART_COL, "left").filter(keep)
                # a bucket's new sentinel replaces its stored one (the
                # newer file's row shadows it on read), else is its first
                stamped = src.select(
                    PART_COL,
                    F.when(F.col("__applied").isNull(), F.lit(_INSERT))
                    .otherwise(F.lit(_UPDATE))
                    .alias(_ROW),
                )
                src = src.drop("__applied")
                tgt = (
                    tgt.filter(~F.col(keys[0]).eqNullSafe(sentinel))
                    .join(F.broadcast(lg), PART_COL, "left")
                    .filter(keep)
                    .drop("__applied")
                )
            if replace_keys is not None:
                assert set(tgt.columns) == set(src.columns), (
                    f"merge_upsert_scoped(replace_keys=...) requires aligned "
                    f"schemas; target={tgt.columns} source={src.columns}"
                )
                # null-safe, like the MERGE it replaces: a NULL scope key
                # drops its stored rows too. A left join (not an anti-join)
                # so the dropped rows still mark their bucket's write mode;
                # a duplicate scope key can only duplicate dropped rows
                rk_cols = list(replace_keys.columns)
                rk = replace_keys.select(
                    *[F.col(c).alias(f"__rk_{c}") for c in rk_cols],
                    F.lit(True).alias("__rk_hit"),
                )
                merged = (
                    tgt.join(
                        rk,
                        reduce(
                            lambda a, b: a & b,
                            [F.col(c).eqNullSafe(F.col(f"__rk_{c}")) for c in rk_cols],
                        ),
                        "left",
                    )
                    .select(
                        *tgt.columns,
                        F.when(F.col("__rk_hit"), F.lit(_DROP))
                        .otherwise(F.lit(_KEEP))
                        .alias(_ROW),
                    )
                    .unionByName(src.withColumn(_ROW, F.lit(_INSERT)))
                )
            else:
                merged = _merge_rows(
                    tgt,
                    src,
                    keys,
                    preserve,
                    dedupe_order,
                    set_on_update,
                    set_on_insert,
                    evolve_schema,
                    merge_exprs,
                )
        else:
            # first batch: MERGE into empty = dedupe + insert-only projection —
            # skip the full-outer join against nothing (and without a ledger,
            # skip the touched-bucket collect too: it only feeds target pruning,
            # and replace_partitions derives the written partition list from the
            # files themselves): one Spark job total instead of two.
            merged = src
            if dedupe_order is not None:
                merged = dedupe_source(merged, keys, dedupe_order)
            for c, expr in (set_on_insert or {}).items():
                merged = merged.withColumn(c, expr)
        out_fields = [
            f for f in merged.schema.fields if f.name not in (PART_COL, _ROW)
        ]
        if ledger is not None:
            merged = merged.unionByName(
                _ledger_rows_plan(stamped, out_fields, keys[0], ledger, batch_id)
            )
        # one write task per touched bucket -> one right-sized file per
        # partition dir instead of (shuffle-width x buckets) small files
        merged = merged.repartition(
            len(parts) if parts else n_buckets, F.col(PART_COL)
        )
        rewritten = None
        if _ROW in merged.columns:
            if replace_keys is not None:
                rewritten = Observation()
            merged = _bucket_modes(
                table,
                merged,
                parts,
                _shape(out_fields) != _shape(layout),
                keys if replace_keys is not None else None,
                rewritten,
            )
        meta = {"n_buckets": n_buckets, "part_col": PART_COL, "keys": keys}
        if meta0 and "total_bytes" in meta0:
            # carry the size tracker forward (replace_partitions applies
            # this batch's delta after the swap) — dropping it would force
            # maybe_rebucket back to a full stat walk per trigger
            meta["total_bytes"] = meta0["total_bytes"]
        if delta_parts(meta0):
            meta["delta_parts"] = delta_parts(meta0)
        if ledger is not None:
            # record the ledger layout so maintenance (rebucket) can re-home
            # sentinel rows without the caller re-supplying the spec
            meta["ledger_sentinel"] = ledger.sentinel
            meta["ledger_value_col"] = ledger.value_col
        if exists and (evolve_schema or stored is not None):
            evolved = T.StructType(out_fields)
            meta["schema_json"] = evolved.jsonValue()
            if table.schema is not None:
                table.schema = evolved
        # the write job runs now (so concurrent stagers overlap their
        # executor work); a stage_only caller owns the commit order
        staged = StagedScopedMerge(
            table, table.stage_replace_partitions(merged), meta
        )
        if rewritten is not None:
            # a bucket whose every row the merge removes stages no file;
            # it commits as a REWRITE with nothing in it
            have = {rel for rels in staged.staged["parts"].values() for rel in rels}
            staged.staged["parts"][REWRITE] = sorted(
                set(staged.staged["parts"].get(REWRITE, ()))
                | {f"{PART_COL}={p}" for p in rewritten.get["parts"]} - have
            )
        return staged if stage_only else staged.commit()
    finally:
        # unpersist on EVERY exit — a failing trigger (evolve type
        # conflict, write error) must not leak the cached micro-batch
        # into executor storage across checkpoint retries
        if src_cached is not None:
            src_cached.unpersist()


def _shape(fields) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in fields]


def _bucket_modes(
    table,
    merged: DataFrame,
    parts,
    widened: bool,
    replaced_by: list[str] | None,
    rewritten: Observation | None = None,
) -> DataFrame:
    """Sort each bucket of a tagged merge output (``_ROW``, hash-partitioned
    on ``PART_COL``) into its write mode, IN the write job: windows over
    the bucket — which the repartition already clusters, so no exchange
    and no job is added — find what the merge did to its rows. A
    ledgered fold's sentinel row is tagged like any other row (inserted
    in a bucket storing none, else updated), so a ledgered bucket takes
    the same modes and its ledger row travels in the one file it writes.

    - nothing, when no row was inserted or updated (a bucket of
      caller-supplied ``parts`` the source never reached);
    - APPEND: rows were inserted and no stored row changes — only the
      inserted rows are written;
    - DELTA: stored rows were updated (or, with ``replaced_by`` — the merge
      keys of a ``replace_keys`` merge — replaced by a source row of the
      same key) but none removed outright — the inserted and updated rows
      are written;
    - REWRITE: a stored row is removed outright, or the bucket already
      holds ``MAX_BUCKET_FILES`` files, or the output's columns or types
      differ from the stored layout (``widened``: an evolving merge, so
      each bucket's files keep one physical schema) — written whole,
      minus removed rows.

    ``rewritten`` observes, in the same job, the REWRITE buckets
    (``parts``), which include any the merge leaves empty."""
    row = F.col(_ROW)
    if replaced_by is not None:
        resent = F.max((row == _INSERT).cast("int")).over(
            Window.partitionBy(PART_COL, *replaced_by)
        )
        merged = merged.withColumn(
            _ROW, F.when((row == _DROP) & (resent == 1), _REPLACED).otherwise(row)
        )
    top = F.max(_ROW).over(Window.partitionBy(PART_COL))
    if widened:
        forced = F.lit(True)
    else:
        full = [
            p
            for p in parts
            if len(table.data_files(f"{PART_COL}={p}")) >= MAX_BUCKET_FILES
        ]
        forced = F.col(PART_COL).isin(full) if full else F.lit(False)
    mode = (
        F.when((top == _DROP) | (forced & (top > _KEEP)), F.lit(REWRITE))
        .when(top == _INSERT, F.lit(APPEND))
        .otherwise(F.lit(DELTA))
    )
    written = F.when(
        F.col(MODE_COL) == REWRITE, row.isin(_KEEP, _INSERT, _UPDATE)
    ).otherwise(row.isin(_INSERT, _UPDATE))
    merged = merged.withColumn(MODE_COL, mode)
    if rewritten is not None:
        merged = merged.observe(
            rewritten,
            F.collect_set(F.when(F.col(MODE_COL) == REWRITE, F.col(PART_COL))).alias(
                "parts"
            ),
        )
    return merged.filter(written).drop(_ROW)


def _ledger_rows_plan(
    stamped: DataFrame, out_fields, key0: str, ledger: LedgerSpec, batch_id: int
) -> DataFrame:
    """One sentinel ledger row per bucket present in ``stamped`` (the
    source's bucket column, with its ``_ROW`` tag on an existing table),
    derived IN-PLAN — no driver-side parts list, so stamping the ledger
    costs no extra driver action. ``stamped`` must already exclude
    replay-skipped buckets (the in-plan ledger join does), so only
    surviving buckets are stamped. ``out_fields`` types the row to the
    MERGED output schema (which may be wider than the source under
    ``evolve_schema``)."""
    exprs = []
    for f in out_fields:
        if f.name == key0:
            e = F.lit(ledger.sentinel).cast(f.dataType)
        elif f.name == ledger.value_col:
            e = F.lit(batch_id).cast(f.dataType)
        else:
            e = F.lit(None).cast(f.dataType)
        exprs.append(e.alias(f.name))
    return stamped.distinct().select(*exprs, *stamped.columns)


def rebucket(
    spark: SparkSession,
    table,
    new_n_buckets: int,
    ledger: LedgerSpec | None = None,
) -> int:
    """Split a hash-bucketed scoped-merge table to a LARGER bucket modulus.

    The 100 TB state-economics invariant (docs/BENCH_NOTES.md): a scoped
    merge's per-trigger I/O is ``touched_buckets x mean_bucket_size`` —
    batch-proportional only while bucket count scales with state. A table
    seeded at N buckets whose state grows 100x ends up with 100x-target
    buckets and per-trigger I/O grows with state again (the reference's
    MERGE stays delta-proportional at any table size,
    sql/05_merge_canonical.sql:6-53 — micro-partitions split as data
    grows; this is that maintenance operation for the parquet layout).

    Split-ONLY (``new_n_buckets`` must be a multiple of the stored
    modulus): under ``part_expr``'s ``pmod(hash, n)``, ``x mod (m*n)``
    determines ``x mod n``, so every NEW bucket receives rows from exactly
    ONE old bucket and each old bucket's per-bucket ledger value transfers
    to its children unambiguously. MERGING buckets would have to combine
    ledgers of buckets with different applied batch ids — under a
    mid-replay crash those are genuinely irreconcilable (min double-folds
    the applied side, max drops the unapplied side), so shrinking requires
    a quiesced rebuild with a ledger reset and is refused here.

    Ledger sentinel rows re-home structurally: the old bucket ``b``'s
    sentinel row replicates to children ``{b + j*old_n}`` with its applied
    value unchanged. The spec comes from the table metadata (recorded by
    every ledgered scoped merge); pass ``ledger`` only for pre-metadata
    tables.

    Crash-safe like ``compact``: one atomic directory swap, with the NEW
    modulus written inside the candidate BEFORE the swap (a crash must
    never leave the new layout described by the old modulus — the next
    merge would prune to wrong buckets and silently duplicate keys).

    Call between triggers (foreachBatch sinks are serial per table, so
    their post-fold call site is quiesced by construction). Returns the
    new bucket count.
    """
    meta = table.read_meta()
    if not meta or "n_buckets" not in meta or "keys" not in meta:
        raise ValueError(
            f"{table.path}: not a scoped-merge table (no bucket metadata); "
            "rebucket only maintains tables written by merge_upsert_scoped"
        )
    old_n = int(meta["n_buckets"])
    if new_n_buckets <= old_n or new_n_buckets % old_n != 0:
        raise ValueError(
            f"{table.path}: rebucket is split-only — new_n_buckets="
            f"{new_n_buckets} must be a strict multiple of the stored "
            f"modulus {old_n} (merging buckets cannot reconcile per-bucket "
            "ledgers; see docstring)"
        )
    key0 = meta["keys"][0]
    if ledger is None and "ledger_sentinel" in meta:
        ledger = LedgerSpec(meta["ledger_sentinel"], meta["ledger_value_col"])
    m = new_n_buckets // old_n
    # evolved layout reads under the recorded union schema; the scan seam
    # keeps this working on any physical layout (manifest-committed too)
    df = table.scan(spark)
    if ledger is not None:
        is_led = F.col(key0).eqNullSafe(F.lit(ledger.sentinel))
        data = df.filter(~is_led).withColumn(
            PART_COL, part_expr(key0, new_n_buckets)
        )
        led = (
            df.filter(is_led)
            .withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
            .withColumn(
                PART_COL,
                (F.col(PART_COL) + F.col("__j") * F.lit(old_n)).cast("int"),
            )
            .drop("__j")
        )
        out = data.unionByName(led)
    else:
        out = df.withColumn(PART_COL, part_expr(key0, new_n_buckets))
    # one right-sized file per new bucket, same as the scoped write path
    out = out.repartition(new_n_buckets, F.col(PART_COL))
    # overwrite_atomic leaves no delta file, so the table's delta list goes
    new_meta = {k: v for k, v in meta.items() if k != "delta_parts"}
    table.overwrite_atomic(out, new_meta=dict(new_meta, n_buckets=new_n_buckets))
    table.n_buckets = new_n_buckets
    return new_n_buckets


def maybe_rebucket(
    spark: SparkSession,
    table,
    target_bytes_per_bucket: int = 64 << 20,
    max_buckets: int = 1 << 20,
) -> int | None:
    """Auto-split trigger: double the bucket count (to the smallest
    power-of-two multiple holding the mean at or under the target) when
    mean bucket size exceeds ``target_bytes_per_bucket``.

    The common no-split check reads the ``total_bytes`` tracker from the
    table metadata (maintained by every writer: ``replace_partitions``
    applies each batch's touched-partition delta, ``overwrite_atomic``
    records the measured rewrite size) — an O(1) driver read per
    trigger, not a stat walk over the table (at the documented 2^20
    bucket ceiling a per-trigger walk would be a million stats, VERDICT
    r13 What's-wrong #3). The walk happens exactly twice per table life
    stage: once to INITIALIZE the tracker on a pre-tracking table, and
    once to CONFIRM before committing to a rewrite — a drifted
    delta-maintained counter must trigger at most a wasted walk, never a
    wasted full-table rewrite. Returns the new bucket count, or None
    when no split was needed.

    Keep the target well above parquet's per-file overhead (~1 KB) —
    splitting adds one file per new bucket, so a target near the overhead
    can re-trigger on its own output. The default (64 MB) is safely in
    the regime where mean bucket size is data-dominated.
    """
    meta = table.read_meta()
    if not meta or "n_buckets" not in meta:
        return None
    n = int(meta["n_buckets"])
    if n >= max_buckets:
        return None
    total = meta.get("total_bytes")
    if total is None:
        # pre-tracking table: one full walk initializes the tracker; the
        # writers maintain it from here on
        total = table.data_bytes()
        meta = {**meta, "total_bytes": total}
        table.write_meta(**meta)
    if total <= n * target_bytes_per_bucket:
        return None
    # over the threshold per the tracker — confirm with a real walk
    # before the expensive rewrite, and correct the tracker either way
    total = table.data_bytes()
    if total != meta["total_bytes"]:
        table.write_meta(**{**meta, "total_bytes": total})
    if total <= n * target_bytes_per_bucket:
        return None
    factor = 2
    while (
        total > n * factor * target_bytes_per_bucket
        and n * factor * 2 <= max_buckets
    ):
        factor *= 2
    if n * factor > max_buckets:
        # a non-power-of-two modulus can overshoot the ceiling on its
        # first doubling (n=12, max=16 -> 24); the cap is hard
        return None
    return rebucket(spark, table, n * factor)


def _validated_n_buckets(table, n_buckets: int, meta: dict | None = None) -> int:
    """The bucket modulus is a PHYSICAL property of the table: keys map to
    hive partitions by it, so merging with a different modulus prunes to the
    WRONG buckets and silently duplicates existing keys. The modulus is
    persisted in the table's ``_fincan_meta.json`` on every scoped merge and
    enforced here against an EXPLICIT caller claim (default-mode merges
    adopt the stored modulus before reaching this check — the table
    object's ``n_buckets`` is only the creation seed, and ``rebucket``
    grows the stored value by design); tables written before metadata
    existed get a weaker directory-derived check (every observed
    ``txn_part=`` value must fit the claimed modulus) and are stamped
    going forward."""
    import re

    if meta is None:
        meta = table.read_meta()
    if meta is not None and "n_buckets" in meta:
        if meta["n_buckets"] != n_buckets:
            raise ValueError(
                f"{table.path}: table is bucketed with n_buckets="
                f"{meta['n_buckets']} but the merge was called with "
                f"{n_buckets}; changing the modulus requires rewriting the "
                f"table (keys would prune to the wrong partitions)"
            )
        return n_buckets
    if table.exists():
        observed = [
            int(m.group(1))
            for d in table.partition_dir_names()
            if (m := re.fullmatch(re.escape(PART_COL) + r"=(\d+)", d))
        ]
        if observed and max(observed) >= n_buckets:
            raise ValueError(
                f"{table.path}: existing partition {PART_COL}={max(observed)} "
                f"exceeds claimed n_buckets={n_buckets} (table was bucketed "
                f"with a larger modulus)"
            )
    return n_buckets
