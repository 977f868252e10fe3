"""SparkSession factory with pinned, scale-aware defaults.

The reference delegates all physical execution to Snowflake; here Catalyst +
Tungsten play that role. This module pins the session settings that make the
engine deterministic across environments (UTC session time zone) and fast at
scale (AQE, arrow, sane shuffle parallelism).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime-settable confs that every query in this engine assumes. Applied both
# at session build time and defensively on externally-provided sessions
# (the correctness driver builds its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic wall-clock rendering; the DuckDB oracle is TZ-naive.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle coalescing, skew-join splitting,
    # broadcast-join conversion from runtime stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batch transfer for the few Pandas-UDF paths (multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Some sources write TIMESTAMP(NANOS) parquet (e.g. the events table);
    # Spark has no nanos timestamp — read as long and convert at the source
    # (plans/registry.py:table) instead of failing the scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Scan-split bin-packing cost per file. At the default 4 MiB a 10 MB
    # single-file table opens on 3 of 32 cores, so CPU-heavy probe stages
    # (md5 Bloom probes, shingle/minhash folds, as-of unions) run nearly
    # single-threaded at fixture scale. 64 KiB lets bytes-per-core govern
    # split sizing for small inputs; at production scale files exceed
    # maxPartitionBytes and this conf has no effect on split counts.
    "spark.sql.files.openCostInBytes": "65536",
    # Parquet writes in zstd (guide §6/§9): measured at sf0.1 on the CDC
    # chunk state table and a lineitem rewrite (r16, tools experiment) —
    # 20-36% fewer bytes than the snappy default at wall-time parity for
    # write AND read-back. Every byte a state sink writes per trigger is
    # delta I/O at 100 TB, so the ratio win compounds; decided on
    # byte-volume evidence, not local wall-clock. The SHUFFLE codec
    # (spark.io.compression.codec) stays at the lz4 default: its ratio/CPU
    # trade is network-bound and unobservable on a local bench — flip it
    # per-deployment with measured shuffle-byte evidence (guide §2.3).
    "spark.sql.parquet.compression.codec": "zstd",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def stream_state_partitions() -> int:
    """State-store shard count for stateful streaming queries.

    ``spark.sql.shuffle.partitions`` at query start fixes a stateful
    stream's state-store shard count for the checkpoint's lifetime. Each
    shard pays a FIXED commit cost per trigger per state store (delta-file
    create + sync + rename — a stream-stream join runs four stores per
    shard), while the data work per shard shrinks with the shard count, so
    micro-batch drains are dominated by per-shard overhead once shards
    outnumber the state volume: measured on the live interval-join probe,
    32 shards = 5.4-6.3 s vs 8 shards = 2.3-2.4 s for identical results
    (r15, OPTIMIZATION_r15.md). Default: ``cores / 4`` (floor 2) — derived
    from the environment, not a local constant, so the shard count scales
    with the cluster. Deployments with large per-trigger state should
    override ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` upward: size shards
    so per-shard state stays in the ~100-200 MB class (the guide's shuffle
    partition discipline applied to state stores).
    """
    return int(
        os.environ.get(
            "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS",
            str(max(2, default_parallelism() // 4)),
        )
    )


class stream_partitions_conf:
    """Context manager: pin ``spark.sql.shuffle.partitions`` to
    :func:`stream_state_partitions` for the duration of a streaming drain
    (start -> awaitTermination), restoring the session value after.

    The conf must stay pinned until the stream's FIRST batch plans (the
    checkpoint records the shard count then), so the scope covers the whole
    drain. Concurrent batch work in the same session during the drain sees
    the stream setting — acceptable for this engine's availableNow drains,
    whose own foreachBatch merges are AQE-coalesced either way (measured
    flat on the scd2 drain at 8 vs 32).

    NOT safe under concurrent queries that care about the setting: the
    session-global conf is mutated for the whole drain and restored
    non-atomically, so a second concurrent drain (or a width-sensitive
    batch query) in the same session races on it — and NESTED instances
    restore the inner pinned value as "old". The engine's drains are
    serial by contract (one availableNow drain at a time per session);
    a deployment needing concurrent drains should pin the width on the
    stream's own session/conf instead of through this manager (ADVICE
    r15).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self._old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(stream_state_partitions())
        )
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


#: the local property a Spark job takes its description from
JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def job_description(sc: SparkContext, desc: str):
    """Name every Spark job the calling thread submits inside the block
    ``desc`` (the ``description`` the driver's UI and status API show),
    then restore the caller's own. Spark keeps the description per
    thread, and a job started from the thread by Spark itself (a
    broadcast, an adaptive query stage) inherits it."""
    prev = sc.getLocalProperty(JOB_DESCRIPTION)
    sc.setLocalProperty(JOB_DESCRIPTION, desc)
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_DESCRIPTION, prev)


def carry_job_description(fn: Callable) -> Callable:
    """``fn``, to run on a pool thread under the job description of the
    thread that wraps it: a new thread starts with none."""
    sc = SparkContext._active_spark_context
    desc = sc.getLocalProperty(JOB_DESCRIPTION) if sc is not None else None
    if desc is None:
        return fn

    @functools.wraps(fn)
    def run(*args, **kwargs):
        with job_description(sc, desc):
            return fn(*args, **kwargs)

    return run


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Safe to call on the driver's session: every conf here is
    runtime-mutable (no JVM restart needed).
    """
    confs = dict(RUNTIME_CONFS)
    # Right-size shuffle parallelism for the local harness (a session built
    # with Spark's default 200 pays ~6x task overhead at these scales). AQE
    # coalescing keeps this safe if data grows.
    confs.setdefault("spark.sql.shuffle.partitions", str(default_parallelism()))
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build; defaults are acceptable
    return spark


def get_spark(
    app_name: str = "fincan-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. Shuffle parallelism defaults to the
    core count locally; on a 1000-executor cluster it should be set to
    2-3x total cores (AQE coalesces the excess at runtime, so erring high
    is cheap).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if active is None:
        builder = builder.master(master or f"local[{cpus}]")
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
