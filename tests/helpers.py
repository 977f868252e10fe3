"""Shared test helpers for the scoped-merge / streaming-state suites."""

from __future__ import annotations

import hashlib
import os

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    LocalFileCommit,
    ParquetTable,
)


def snapshot(path: str) -> dict[str, str]:
    """rel-path -> content hash for every parquet data file under
    ``path`` — the byte-invariance primitive of the untouched-bucket and
    replay-no-op assertions."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, path)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def bucketed_table(tmp_path, name: str, n_buckets: int = 8) -> ParquetTable:
    """A hash-bucketed scoped-merge state table under ``tmp_path``."""
    return ParquetTable(
        str(tmp_path / name), partition_by=[PART_COL], n_buckets=n_buckets
    )


class ArmedCommit(LocalFileCommit):
    """Local commit that raises once armed: on the ``fail_at``-th data file
    it publishes (a crash part-way through an append), or on any
    ``publish_file`` when ``fail_at`` is 0."""

    def __init__(self):
        self.fail_at = None
        self.published = 0

    def publish_file(self, src: str, dst: str) -> None:
        if self.fail_at is not None:
            if self.fail_at == 0:
                raise RuntimeError("simulated crash in the commit")
            if dst.endswith(".parquet"):
                self.published += 1
                if self.published == self.fail_at:
                    raise RuntimeError("simulated crash mid-append")
        super().publish_file(src, dst)


class SecondPutDies(ArmedCommit):
    """Once armed, lets one metadata publish land and raises on the next
    (a ``ManifestTable`` commit PUTs its metadata, then its manifest)."""

    def publish_file(self, src: str, dst: str) -> None:
        if self.fail_at is not None and not dst.endswith(".parquet"):
            self.published += 1
            if self.published == 2:
                raise RuntimeError("simulated crash in the commit")
        LocalFileCommit.publish_file(self, src, dst)
