"""Durable table storage with atomic overwrite (the MERGE landing layer).

No Delta/Iceberg in this environment (SURVEY.md §7.4-1), so canonical tables
are parquet directories maintained by write-temp-then-swap: readers of the
old directory are unaffected until the rename, reruns are idempotent, and a
crash mid-write leaves the previous table intact.

Scale note: on a real deployment this class is the seam where an ACID table
format (Delta/Iceberg MERGE) plugs in — the pipeline only uses
``read`` / ``append`` / ``overwrite_atomic``. Canonical tables are written
partitioned (e.g. by client_id) when ``partition_by`` is set so downstream
scans prune; the merge path re-shuffles only on the merge keys.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: table-level metadata file, stored INSIDE the table root. Underscore-prefixed
#: paths are invisible to Spark's file index (like ``_SUCCESS``), so readers
#: never see it; it pins layout facts that must outlive any one process —
#: today the hash-bucket modulus of partition-scoped merge tables.
META_NAME = "_fincan_meta.json"

#: per-partition write mode of a staged replacement, carried in the staged
#: output and consumed by the commit, never seen by the live table: one
#: more hive level here (``<tmp>/__mode=append/txn_part=3``), one staged
#: generation per mode in ``ManifestTable``. A REWRITE partition replaces
#: the live one. An APPEND partition's files are added beside the live
#: files (its rows are new keys only), and so are a DELTA partition's,
#: whose rows are the new state of keys the live files already hold: a
#: delta file is published with a commit sequence (:meth:`ParquetTable.
#: file_seq`), and reads keep, per merge key, only the rows of the newest
#: file holding it (:meth:`ParquetTable.resolve`; see ``merge.merge_upsert_scoped``).
#: Frames without the column stage as REWRITE.
MODE_COL = "__mode"
APPEND = "append"
DELTA = "delta"
REWRITE = "rewrite"

#: a delta file published into a ``ParquetTable`` partition is named
#: ``delta-<seq>-<spark file name>``; ``seq`` counts the partition's delta
#: commits, so a newer delta always sorts above an older one and above
#: the partition's other files (sequence 0)
DELTA_PREFIX = "delta-"
DELTA_FILE = re.compile(rf"^{DELTA_PREFIX}([0-9]+)-")

#: the per-row commit sequence of the file a row was read from, carried
#: only between a physical read and the newest-file rule
SEQ_COL = "__seq"

#: SQL form of :meth:`ParquetTable.file_seq`, for relations built as text
_FILE_SEQ_SQL = (
    f"CAST(COALESCE(NULLIF(regexp_extract(_metadata.file_name, "
    f"'{DELTA_FILE.pattern}', 1), ''), '0') AS BIGINT)"
)


def with_mode(df: DataFrame) -> DataFrame:
    """``df`` with its write mode column; absent means REWRITE."""
    from pyspark.sql import functions as F

    if MODE_COL in df.columns:
        return df
    return df.withColumn(MODE_COL, F.lit(REWRITE))


def delta_parts(meta: dict | None) -> list[int]:
    """Bucket ids the table metadata records as holding a delta file."""
    return list((meta or {}).get("delta_parts", ()))


def _bucket_ids(rels) -> set[int]:
    """Hash-bucket ids of partition rel-paths (``txn_part=3``)."""
    from .merge import PART_COL  # local: avoids an import cycle

    return {
        int(c.split("=", 1)[1])
        for rel in rels
        for c in rel.split(os.sep)
        if c.startswith(f"{PART_COL}=")
    }


def _record_deltas(meta: dict, parts: dict, swapped: bool) -> dict:
    """``meta`` with its delta list updated for a commit of the staged
    ``parts`` (mode -> partition rel-paths, ``txn_part=3``): the DELTA
    buckets join it before their files are published; the REWRITE buckets
    leave it only once ``swapped`` — their delta files are gone then. A
    crash between the two leaves buckets listed that hold no delta, which
    the newest-file rule reads as they are; the reverse order could leave
    a delta file whose shadowed rows read too."""

    now = set(delta_parts(meta)) | _bucket_ids(parts.get(DELTA, ()))
    if swapped and now:
        now -= _bucket_ids(parts.get(REWRITE, ()))
    out = {k: v for k, v in meta.items() if k != "delta_parts"}
    if now:
        out["delta_parts"] = sorted(now)
    return out


class LocalFileCommit:
    """Commit protocol for the swap/commit steps of table maintenance —
    the seam where a non-rename store plugs in (VERDICT r13 Missing #3).

    THE ATOMICITY CONTRACT every implementation must honor:

    - ``move_dir`` publishes or displaces a whole directory as one
      indivisible step: a concurrent reader (and a post-crash recovery
      pass) sees the directory at exactly one of the two paths, never a
      partial copy at either. ``overwrite_atomic`` and
      ``replace_partitions`` build their crash-safety story on this.
    - ``publish_file`` replaces a single file's content atomically
      (metadata commits, and the new data files of an appended
      partition) — readers see the old bytes or the new bytes, never a
      torn write.
    - ``remove_tree`` is only ever called on already-displaced garbage;
      it carries no atomicity requirement.

    This default implements the contract with POSIX ``rename(2)``, which
    is atomic ONLY on a local/HDFS-like filesystem where source and
    destination share a mount. On an object store (GCS/S3 — the
    reference's ingestion source, sql/01_raw_ingestion.sql:26-34) rename
    is copy+delete and VIOLATES the contract; deploying there requires a
    manifest/marker-file implementation of this class (commit = write a
    pointer file naming the live generation directory, read = resolve
    the pointer), not a bigger crash window.
    """

    def move_dir(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def publish_file(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


#: "not passed" sentinel for scan()'s stored-schema pass-through (None is a
#: meaningful value there: the caller checked and the table never evolved)
_UNSET = object()


def _leaves(base: str, depth: int) -> list[str]:
    """Partition rel-paths (``a=1/b=2``) exactly ``depth`` hive levels
    under ``base``; none when ``base`` is absent."""
    if depth == 0:
        return [""] if os.path.isdir(base) else []
    if not os.path.isdir(base):
        return []
    out = []
    for d in sorted(os.listdir(base)):
        full = os.path.join(base, d)
        if os.path.isdir(full) and "=" in d:
            out.extend(os.path.join(d, s) if s else d for s in _leaves(full, depth - 1))
    return out


def _stored_schema(meta: dict | None) -> T.StructType | None:
    if meta and "schema_json" in meta:
        return T.StructType.fromJson(meta["schema_json"])
    return None


def _parquet_bytes(path: str) -> int:
    """Total parquet data bytes under ``path`` (recursive stat walk)."""
    total = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(r, f))
    return total


class ParquetTable:
    def __init__(
        self,
        path: str,
        schema: T.StructType | None = None,
        partition_by: Sequence[str] = (),
        n_buckets: int = 16,
        keep_generations: int = 0,
        commit: LocalFileCommit | None = None,
    ):
        # swap/commit strategy (see LocalFileCommit for the atomicity
        # contract); defaulted to the local-rename implementation
        self.commit = commit or LocalFileCommit()
        self.path = path
        self.schema = schema
        self.partition_by = list(partition_by)
        # hash-bucket count for partition-scoped merges; must stay constant
        # for the life of the table (keys map to buckets by this modulus)
        self.n_buckets = n_buckets
        # >0 turns on snapshot retention: overwrite_atomic parks the
        # displaced generation as <path>.gen-<seq>-<uuid> instead of
        # deleting it, read_generation() time-travels to it, and vacuum()
        # prunes past the keep count — the plain-filesystem analog of Delta
        # time travel + VACUUM (the production seam is an ACID format)
        self.keep_generations = keep_generations

    def exists(self) -> bool:
        """True only when at least one parquet DATA file is present
        (recursively — partitioned layouts nest files under key=value dirs).
        A directory holding only ``_SUCCESS``/stray files is NOT a table:
        reading it would fail instead of using the declared-schema
        empty-table path in ``read``. An ABSENT path first attempts
        crash recovery (``_restore_orphaned_old``) before reporting
        absence — treating ``overwrite_atomic``'s rename-pair crash
        window as a fresh table would silently reinitialize streaming
        state (full state + ledger loss, ADVICE r13)."""
        if not os.path.isdir(self.path) and not self._restore_orphaned_old():
            return False
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _restore_orphaned_old(self) -> bool:
        """Recover from a crash in ``overwrite_atomic``'s swap instant:
        between ``rename(path -> .old-*)`` and ``rename(tmp -> path)``
        the table path is ABSENT with the previous generation parked as
        an ``.old-*`` sibling. Restore the newest orphan so the next
        trigger sees the pre-crash state (a one-batch replay, which the
        per-bucket ledger already handles) instead of an empty table.
        Healthy operation never takes this path — ``.old-*`` siblings
        only coexist with a LIVE table dir outside that instant.
        ``.gen-*`` retention siblings are deliberately not candidates.

        Concurrency contract: this recovery makes ``exists()`` a writer
        during the swap instant, so a READER racing a LIVE writer's swap
        can restore the orphan first and fail that writer's
        ``rename(tmp, path)`` loudly (ENOTEMPTY) — the trigger fails, the
        pre-batch state is intact, and the streaming retry converges.
        The engine's tables are single-writer (foreachBatch serializes
        per sink); cross-process readers during a writer's swap get loud
        retryable failures, never corruption. A deployment needing
        lock-free concurrent readers should use :class:`ManifestTable`
        with ``keep_generations > 0`` instead."""
        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        if os.path.isdir(self.path) or not os.path.isdir(parent):
            return os.path.isdir(self.path)
        orphans = [
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if d.startswith(f"{base}.old-")
            and os.path.isdir(os.path.join(parent, d))
        ]
        if not orphans:
            return False
        os.rename(max(orphans, key=os.path.getmtime), self.path)
        return True

    def read_meta(self) -> dict | None:
        p = os.path.join(self.path, META_NAME)
        if os.path.isfile(p):
            with open(p) as f:
                return json.load(f)
        return None

    def write_meta(self, **meta) -> None:
        os.makedirs(self.path, exist_ok=True)
        p = os.path.join(self.path, META_NAME)
        tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        self.commit.publish_file(tmp, p)  # atomic per the commit contract

    def stored_schema(self) -> T.StructType | None:
        """The evolved union schema recorded in the table metadata (by
        ``merge_upsert_scoped(evolve_schema=True)``), or None for tables
        that never evolved. When present it is the layout TRUTH: bucket
        files carry mixed physical schemas and every read must supply
        this schema explicitly (old files fill added columns with typed
        NULLs; a footer-inferred read could pick an old file and lose
        the added columns)."""
        return _stored_schema(self.read_meta())

    def files(self, spark: SparkSession, stored=None) -> DataFrame:
        """Every row of every live data file, shadowed rows included, with
        partition/bucket columns, read under ``stored`` (None: a schema
        inferred from a file footer). This is the seam a storage variant
        with a different physical layout (``ManifestTable``) overrides;
        everything above it runs unchanged."""
        return (
            spark.read.schema(stored).parquet(self.path)
            if stored is not None
            else spark.read.parquet(self.path)
        )

    def file_seq(self):
        """Column: the commit sequence of the file a :meth:`files` row was
        read from — ``seq`` of a ``delta-<seq>-`` file, else 0."""
        from pyspark.sql import functions as F

        return F.expr(_FILE_SEQ_SQL)

    def view_sql(self) -> str:
        """A SQL relation over the table's files for a durable view, which
        re-reads them on every query: on a scoped-merge table (its
        metadata records merge keys) the newest-file rule of
        :meth:`resolve` applies to every bucket, because a delta file may
        land after the view is defined; any other table reads its files
        as they are."""
        from .merge import PART_COL  # local: avoids an import cycle

        files = f"parquet.`{self.path}`"
        keys = (self.read_meta() or {}).get("keys")
        if not keys:
            return files
        keys = [PART_COL, *keys]
        new = ", ".join(f"{k} AS __new_{k}" for k in keys)
        on = " AND ".join(f"f.{k} <=> n.__new_{k}" for k in keys)
        return f"""(SELECT * FROM (SELECT *, {_FILE_SEQ_SQL} AS {SEQ_COL} FROM {files}) f
            LEFT ANTI JOIN (
                SELECT {new}, {_FILE_SEQ_SQL} AS __new_seq FROM {files}
                WHERE {_FILE_SEQ_SQL} > 0) n
            ON {on} AND n.__new_seq > f.{SEQ_COL})"""

    def scan(self, spark: SparkSession, stored=_UNSET) -> DataFrame:
        """PHYSICAL read: the table's rows with partition/bucket columns
        included and the evolved union schema applied when one is recorded.
        Buckets the metadata lists as holding a delta file keep only the
        newest file's rows of each merge key (:meth:`resolve`); every
        other bucket reads its files as they are. Pass ``stored=`` (a
        StructType, or None for "I checked — not evolved") to skip the
        schema lookup. The merge and maintenance layers read through here
        (the scoped merge itself reads :meth:`files` of the buckets it
        touches and applies the rule to them)."""
        meta = self.read_meta()
        if stored is _UNSET:
            stored = _stored_schema(meta)
        return self.resolve(spark, self.files(spark, stored), meta, delta_parts(meta))

    def resolve(
        self, spark: SparkSession, df: DataFrame, meta: dict | None, parts, source=None
    ) -> DataFrame:
        """``df`` (rows of :meth:`files`, or of the retained snapshot
        ``source``) under the newest-file rule in the buckets ``parts``:
        for each merge key (compared null-safe), every row of the newest
        file holding it, so NULL and duplicate keys read as a rewritten
        bucket holds them. Only a bucket's newer files can shadow a row
        (:meth:`_newer_rows`: its delta files), so a row is dropped when
        one of their rows has its key and a higher sequence: an anti-join
        against the delta files' keys, which are the size of the delta
        files, not of the table. Spark broadcasts them when small, and
        the table's rows are then neither shuffled nor aggregated."""
        if not parts:
            return df
        newer = self._newer_rows(spark, df.schema, list(parts), source)
        if newer is None:
            return df
        from pyspark.sql import functions as F

        from .merge import PART_COL  # local: avoids an import cycle

        keys = [PART_COL, *meta["keys"]]
        newer = newer.select(
            *[F.col(k).alias(f"__new_{k}") for k in keys],
            self.file_seq().alias("__new_seq"),
        )
        shadowed = reduce(
            lambda x, y: x & y,
            [F.col(k).eqNullSafe(F.col(f"__new_{k}")) for k in keys],
        ) & (F.col("__new_seq") > F.col(SEQ_COL))
        return (
            df.withColumn(SEQ_COL, self.file_seq())
            .join(newer, shadowed, "left_anti")
            .drop(SEQ_COL)
        )

    def _newer_rows(self, spark: SparkSession, schema, parts, source=None):
        """The rows of buckets ``parts`` that may shadow rows of older
        files: those of the delta files, under the table's root or the
        retained snapshot ``source`` (None: no such file)."""
        from pyspark.sql import functions as F

        from .merge import PART_COL  # local: avoids an import cycle

        return (
            spark.read.schema(schema)
            .option("pathGlobFilter", f"{DELTA_PREFIX}*")
            .parquet(source or self.path)
            .filter(F.col(PART_COL).isin(parts))
        )

    def data_bytes(self) -> int:
        """Parquet bytes of the LIVE table data (maintenance sizing)."""
        return _parquet_bytes(self.path)

    def data_files(self, rel: str) -> list[str]:
        """Live parquet data files of one partition (``txn_part=3``)."""
        d = os.path.join(self.path, rel)
        if not os.path.isdir(d):
            return []
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def partition_dir_names(self) -> list[str]:
        """First-level hive partition directory names (``key=value``) of
        the live layout — the weak pre-metadata modulus check reads these."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            d
            for d in os.listdir(self.path)
            if "=" in d and os.path.isdir(os.path.join(self.path, d))
        )

    def _project(self, df: DataFrame) -> DataFrame:
        """The logical read surface over a physical scan: a declared
        schema narrows to its fields; otherwise the internal hash-bucket
        column of a scoped-merge layout (``partition_by ==
        [merge.PART_COL]``) is dropped — it is a physical detail, not
        table data. Real partition columns (client_id, load_date, ...)
        are data and stay."""
        if self.schema is not None:
            return df.select(*[f.name for f in self.schema.fields])
        from .merge import PART_COL  # local: avoids an import cycle

        if self.partition_by == [PART_COL]:
            return df.drop(PART_COL)
        return df

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the table; an absent table reads as empty when a schema is
        declared (lets the first merge run against an empty target). An
        evolved table (``stored_schema``) reads under its recorded union
        schema — both via the ``scan`` seam, so storage variants override
        only the physical layer."""
        if self.exists():
            return self._project(self.scan(spark))
        if self.schema is None:
            raise FileNotFoundError(f"table not found and no schema: {self.path}")
        return spark.createDataFrame([], self.schema)

    def append(self, df: DataFrame) -> None:
        writer = df.write.mode("append")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.path)

    def _generations(self) -> list[str]:
        """Retained generation directories, oldest first (monotone ``seq``
        in the name orders them lexically at equal width)."""
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        base = os.path.basename(self.path.rstrip("/"))
        if not os.path.isdir(parent):
            return []
        return sorted(
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if d.startswith(f"{base}.gen-")
            and os.path.isdir(os.path.join(parent, d))
        )

    def read_generation(self, spark: SparkSession, n_back: int = 1) -> DataFrame:
        """Time-travel read: the snapshot displaced ``n_back`` overwrites
        ago (``n_back=1`` = the version immediately before the current
        table). Requires ``keep_generations >= n_back`` to have been set
        when the overwrites ran; raises when the snapshot is gone."""
        gens = self._generations()
        if n_back < 1 or n_back > len(gens):
            raise FileNotFoundError(
                f"{self.path}: no generation {n_back} back "
                f"({len(gens)} retained)"
            )
        meta = self.read_meta()
        stored = _stored_schema(meta)
        df = (
            spark.read.schema(stored).parquet(gens[-n_back])
            if stored is not None  # pre-evolution snapshots read as NULLs
            else spark.read.parquet(gens[-n_back])
        )
        parts = self._snapshot_parts(meta)
        return self._project(self.resolve(spark, df, meta, parts, gens[-n_back]))

    def _snapshot_parts(self, meta: dict | None) -> list[int]:
        """Buckets of a retained snapshot that may hold a delta file: all
        of them for a scoped-merge table (the snapshot's own delta list is
        not kept), none otherwise."""
        from .merge import PART_COL  # local: avoids an import cycle

        if self.partition_by != [PART_COL] or not meta or "keys" not in meta:
            return []
        return list(range(int(meta["n_buckets"])))

    def overwrite_atomic(self, df: DataFrame, new_meta: dict | None = None) -> None:
        """Write to a temp dir, then swap directories.

        The swap window is not transactional on a plain filesystem — the
        production seam is an ACID format; for this engine the guarantee is
        crash-safety of the *previous* version, which the tmp-write provides.
        With ``keep_generations > 0`` the displaced version is retained as
        a ``.gen-<seq>-*`` sibling (``read_generation`` time-travels to it)
        and generations past the keep count are pruned here.

        ``new_meta``: layout metadata describing the CANDIDATE (a rebucket
        changes the bucket modulus). It is written inside the tmp dir
        BEFORE the swap, so a crash can never leave the new layout
        described by the displaced layout's metadata — the next scoped
        merge would prune keys to the wrong buckets and silently
        duplicate. Without it, the displaced generation's metadata is
        preserved (a same-layout rewrite like ``compact`` must not drop
        the bucket modulus).
        """
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        # the writer just produced every file — stat them now (cost
        # proportional to the rewrite itself) so size-based maintenance
        # (merge.maybe_rebucket) reads a tracked number instead of
        # re-walking the whole table per trigger
        new_bytes = _parquet_bytes(tmp)
        if new_meta is not None:
            meta_tmp = os.path.join(tmp, META_NAME)
            with open(meta_tmp + ".w", "w") as f:
                json.dump(dict(new_meta, total_bytes=new_bytes), f)
            self.commit.publish_file(meta_tmp + ".w", meta_tmp)
        if os.path.isdir(self.path):
            self.commit.move_dir(self.path, old)
        self.commit.move_dir(tmp, self.path)
        if os.path.isdir(old):
            # layout metadata survives a rewrite (compaction must not drop
            # the bucket modulus, or the next scoped merge can't validate);
            # its byte tracker is refreshed to the rewrite's measured size
            old_meta = os.path.join(old, META_NAME)
            if os.path.isfile(old_meta) and new_meta is None:
                self.commit.publish_file(
                    old_meta, os.path.join(self.path, META_NAME)
                )
                kept = self.read_meta()
                if kept is not None:
                    # no delta file survives a rewrite
                    kept = {k: v for k, v in kept.items() if k != "delta_parts"}
                    self.write_meta(**{**kept, "total_bytes": new_bytes})
            if self.keep_generations > 0:
                gens = self._generations()
                seq = (
                    int(os.path.basename(gens[-1]).split(".gen-")[1].split("-")[0])
                    if gens
                    else 0
                ) + 1
                self.commit.move_dir(
                    old,
                    f"{self.path}.gen-{seq:08d}-{uuid.uuid4().hex[:8]}",
                )
                for stale in self._generations()[: -self.keep_generations]:
                    self.commit.remove_tree(stale)
            else:
                self.commit.remove_tree(old)
        # drop Spark's cached file listing for the path — readers planned
        # after the swap must see the new file set, not stale part files
        df.sparkSession.catalog.refreshByPath(self.path)


    def replace_partitions(self, df: DataFrame) -> list[str]:
        """Replace ONLY the hive partitions present in ``df`` via per-partition
        directory swap; every other partition's files are untouched bytes.

        Unlike ``overwrite_partitions`` (dynamic partitionOverwriteMode), this
        works when ``df``'s plan READS this same table (the merge case — Spark
        refuses ``mode("overwrite")`` into a path the plan scans): the new
        partitions are materialized to a tmp dir first, then each leaf
        partition directory is swapped in with a rename. Displaced old
        partition dirs are parked OUTSIDE the table root (inside the tmp
        dir), so partition discovery can never see a half-swapped
        ``<part>.old-*`` name as a partition value. Crash-safety caveat: a
        crash in the instant between the two renames of one partition leaves
        THAT partition absent until the batch reruns (each partition is
        all-old, all-new, or absent — never mixed); the production seam for
        stronger guarantees is an ACID table format.

        Rows whose ``MODE_COL`` is ``APPEND`` are instead added to their
        live partition as new files beside the files already there (see
        ``MODE_COL``). Returns the rel-paths of every partition the commit
        changed, in either mode (e.g. ``['txn_part=3', 'txn_part=7']``).

        This is the delta-proportional write primitive for the merge path —
        cost scales with the partitions a batch touches, matching reference
        MERGE (sql/05_merge_canonical.sql:6-53), not with table size.
        """
        return self.commit_replace_partitions(self.stage_replace_partitions(df))

    def stage_replace_partitions(self, df: DataFrame) -> dict:
        """STAGE half of ``replace_partitions``: run the Spark write job that
        materializes the replacement partitions into an uncommitted tmp
        sibling (``<tmp>/__mode=<mode>/<partitions>``), touching nothing a
        reader can see. Returns an opaque staged handle for
        ``commit_replace_partitions`` / ``abort_replace_partitions``.

        The split exists so sinks maintaining SEVERAL tables per trigger
        (e.g. the CDC chunk+frequency pair) can run the expensive staging
        writes CONCURRENTLY (guide §2.6 — independent jobs back-fill each
        other's stragglers) while keeping the COMMITS strictly ordered,
        which is what their crash contracts are stated in terms of. A crash
        after staging leaves only an invisible ``.tmp-*`` sibling for
        ``vacuum`` — exactly the pre-existing mid-write crash story.
        """
        if not self.partition_by:
            raise ValueError(f"{self.path}: replace_partitions needs partition_by")
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        with_mode(df).write.mode("overwrite").partitionBy(
            MODE_COL, *self.partition_by
        ).parquet(tmp)
        parts = {
            mode: _leaves(os.path.join(tmp, f"{MODE_COL}={mode}"), len(self.partition_by))
            for mode in (REWRITE, APPEND, DELTA)
        }
        return {"tmp": tmp, "spark": df.sparkSession, "parts": parts}

    def abort_replace_partitions(self, staged: dict) -> None:
        """Discard a staged-but-uncommitted replacement (pure cleanup)."""
        self.commit.remove_tree(staged["tmp"])

    def commit_replace_partitions(
        self, staged: dict, meta: dict | None = None
    ) -> list[str]:
        """COMMIT half of ``replace_partitions``: swap the staged REWRITE
        partition directories into the table and publish the staged APPEND
        and DELTA files into their live partitions (driver-side file ops
        only — no Spark job). A DELTA file is published under the name
        ``delta-<seq>-<name>``, ``seq`` one past the partition's newest
        delta file. ``meta`` (the table metadata this commit leaves) is
        written first, with the staged DELTA buckets in its delta list;
        the list drops the rewritten buckets after the swaps. Same crash
        story as the monolithic form, whose docstring has the details; an
        append is one ``publish_file`` per new file, so a crash leaves a
        partition with all, some or none of its new files — the replayed
        batch then finds its keys stored and writes them again as a
        delta."""
        tmp = staged["tmp"]
        if meta is not None:
            self.write_meta(**_record_deltas(meta, staged["parts"], False))
        os.makedirs(self.path, exist_ok=True)
        trash = os.path.join(tmp, "__displaced__")  # outside the table root
        os.makedirs(trash, exist_ok=True)
        touched = [
            (mode, os.path.join(tmp, f"{MODE_COL}={mode}"), rel)
            for mode, rels in staged["parts"].items()
            for rel in rels
        ]
        # maintain the size tracker merge.maybe_rebucket reads — but only
        # once it has been initialized (by maybe_rebucket's first full
        # walk): before that there is no base to apply a delta to. The
        # delta (stats only the TOUCHED partitions; an append adds its new
        # bytes, a rewrite swaps old for new) is applied BEFORE the
        # swaps: a crash in between leaves the tracker OVERcounting, which
        # maybe_rebucket's confirm walk corrects downward before any
        # rewrite — the reverse order would leave a permanent UNDERcount
        # (the crashed batch's ledgered replay skips, so its growth is
        # never re-applied) that indefinitely defers the auto-split
        meta = self.read_meta()
        if meta is not None and "total_bytes" in meta:
            bytes_delta = 0
            for mode, base, rel in touched:
                bytes_delta += _parquet_bytes(os.path.join(base, rel))
                dst = os.path.join(self.path, rel)
                if mode == REWRITE and os.path.isdir(dst):
                    bytes_delta -= _parquet_bytes(dst)
            self.write_meta(
                **{**meta, "total_bytes": meta["total_bytes"] + bytes_delta}
            )
        for mode, base, rel in touched:
            src = os.path.join(base, rel)
            dst = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if mode == REWRITE:
                old = os.path.join(trash, rel.replace(os.sep, "__"))
                if os.path.isdir(dst):
                    self.commit.move_dir(dst, old)
                if os.path.isdir(src):  # else the merge emptied the bucket
                    self.commit.move_dir(src, dst)
                continue
            os.makedirs(dst, exist_ok=True)
            prefix = ""
            if mode == DELTA:
                seqs = [int(m.group(1)) for f in os.listdir(dst) if (m := DELTA_FILE.match(f))]
                prefix = f"{DELTA_PREFIX}{max(seqs, default=0) + 1:08d}-"
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet"):
                    self.commit.publish_file(
                        os.path.join(src, f), os.path.join(dst, prefix + f)
                    )
        meta = self.read_meta()
        if set(delta_parts(meta)) & _bucket_ids(staged["parts"][REWRITE]):
            self.write_meta(**_record_deltas(meta, staged["parts"], True))
        self.commit.remove_tree(tmp)
        staged["spark"].catalog.refreshByPath(self.path)
        return sorted(rel for _mode, _base, rel in touched)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Dynamic-partition overwrite: replace ONLY the hive partitions
        present in ``df``; all other partitions are untouched.

        This is the incremental-refresh primitive for date/client-partitioned
        tables at scale — a daily rerun rewrites one day's directory instead
        of 100 TB, and readers keep pruning on the partition columns.
        """
        if not self.partition_by:
            raise ValueError(f"{self.path}: overwrite_partitions needs partition_by")
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_by)
            .parquet(self.path)
        )
        df.sparkSession.catalog.refreshByPath(self.path)


class BucketedTable:
    """Catalog-backed parquet table bucketed (and sorted) by join/merge keys.

    Bucketing pre-shuffles data at write time: a join or aggregation on the
    bucket keys between two tables with compatible bucket counts runs with
    ZERO exchanges (verified in tests/test_bucketing.py via explain). This is
    the 100 TB seam for the canonical tables: CAN_TXN bucketed by
    canonical_txn_id makes every incremental MERGE scan-side shuffle-free —
    only the (small) source batch shuffles.

    Uses the session catalog (``saveAsTable``) because bucket metadata lives
    in the catalog, not in parquet files; plain-path tables can't carry it.
    """

    def __init__(self, name: str, bucket_cols: Sequence[str], num_buckets: int = 16):
        self.name = name
        self.bucket_cols = list(bucket_cols)
        self.num_buckets = num_buckets

    def exists(self, spark: SparkSession) -> bool:
        return spark.catalog.tableExists(self.name)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.name)

    def overwrite(self, df: DataFrame) -> None:
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(self.num_buckets, *self.bucket_cols)
            .sortBy(*self.bucket_cols)
            .saveAsTable(self.name)
        )


def vacuum(table: ParquetTable, min_age_seconds: float = 24 * 3600) -> list[str]:
    """Remove leftover ``.tmp-*`` / ``.old-*`` sibling directories from
    interrupted ``overwrite_atomic`` / ``replace_partitions`` runs, and
    prune retained ``.gen-*`` snapshots beyond the table's
    ``keep_generations`` count.

    A crash between an atomic swap's write and its cleanup strands the
    displaced generation next to the table root (``<path>.old-xxxx``) or a
    half-written candidate (``<path>.tmp-xxxx``). Readers never see them
    (they are outside the table directory), but a long-running deployment
    accumulates disk. This is the scheduled-maintenance analog of Delta
    ``VACUUM``: delete strays older than ``min_age_seconds`` (age-gating
    protects a swap in flight right now — pass 0 only when no writer can
    be active). Snapshot generations normally prune inside each
    ``overwrite_atomic``; vacuum covers the rest — an abandoned table, or
    a ``keep_generations`` lowered after the fact (age-gated the same
    way). Returns the deleted paths.
    """
    import time

    parent = os.path.dirname(os.path.abspath(table.path)) or "."
    base = os.path.basename(table.path.rstrip("/"))
    if not os.path.isdir(parent):
        return []
    now = time.time()
    deleted: list[str] = []
    for d in sorted(os.listdir(parent)):
        if not (d.startswith(f"{base}.tmp-") or d.startswith(f"{base}.old-")):
            continue
        full = os.path.join(parent, d)
        if not os.path.isdir(full):
            continue
        if now - os.path.getmtime(full) < min_age_seconds:
            continue
        shutil.rmtree(full, ignore_errors=True)
        deleted.append(full)
    # oldest-first surplus beyond the keep count (all of them for a table
    # configured with keep_generations=0)
    gens = table._generations()
    surplus = gens[: -table.keep_generations] if table.keep_generations else gens
    for full in surplus:
        if now - os.path.getmtime(full) < min_age_seconds:
            continue
        shutil.rmtree(full, ignore_errors=True)
        deleted.append(full)
    return deleted


def compact(
    table: ParquetTable,
    spark: SparkSession,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite an append-maintained table into right-sized files.

    Streaming/incremental appends (raw tables, load audit) accumulate one
    small file per micro-batch; scans then pay one task + one open per file.
    Compaction reads the table once and atomically rewrites it into
    ``ceil(rows / target_rows_per_file)`` files. Returns the new file count.

    At 100 TB this is the scheduled-maintenance analog of Delta OPTIMIZE;
    partitioned tables compact within partitions (repartition keeps the
    partition columns so partitionBy on rewrite preserves layout).
    """
    df = table.read(spark)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    cols = [c for c in table.partition_by] or None
    out = df.repartition(n_files, *cols) if cols else df.repartition(n_files)
    table.overwrite_atomic(out)
    return n_files
