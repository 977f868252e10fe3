"""Traced mode: spans around the calls into each layer, plus Spark's own job,
stage and streaming-progress records, folded into the per-layer metrics.

Spans are recorded from outside the program. ``Tracer.install`` replaces the
public entry points named in ``PATCHES`` with span-recording wrappers, on
the module or class where the caller looks the name up (``plans.pipeline``
and the streaming sinks import their collaborators by name, so the wrapper
goes there as well as on the defining module). Each wrapper also tags the
Spark jobs its thread submits with the layer's name as job description.

Spans stay in memory. Spark job and stage records are pulled from the
driver's status REST API on localhost after every op, because the UI
retains only the last 1000 stages.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field

from . import PKG
from .measure import interval_union

# (module, attribute or Class.method, layer). One entry per place a name is
# looked up at call time.
PATCHES = [
    ("plans.pipeline", "Pipeline.ingest", "sources"),
    ("plans.pipeline", "read_raw", "sources"),
    ("plans.pipeline", "build_load_audit", "sources"),
    ("plans.pipeline", "transform_headers", "plans"),
    ("plans.pipeline", "transform_lines", "plans"),
    ("plans.pipeline", "stage_anomalies", "plans"),
    ("plans.pipeline", "anomaly_merge_source", "plans"),
    ("plans.pipeline", "register_views", "plans.views"),
    ("plans.pipeline", "smoke_counts", "plans.views"),
    ("plans.pipeline", "smoke_probes", "plans.views"),
    ("plans.pipeline", "merge_upsert_scoped", "merge"),
    ("streaming.dedup_stream", "merge_upsert_scoped", "merge"),
    ("streaming.ivf_stream", "merge_upsert_scoped", "merge"),
    ("operators.merge", "StagedScopedMerge.commit", "merge"),
    ("operators.storage", "ParquetTable.commit_replace_partitions", "storage"),
    ("operators.storage", "LocalFileCommit.move_dir", "storage"),
    ("operators.storage", "LocalFileCommit.publish_file", "storage"),
    ("operators.storage", "LocalFileCommit.remove_tree", "storage"),
    ("streaming.dedup_stream", "ExactDedupSink.__call__", "text_dedup"),
    ("streaming.dedup_stream", "MinHashLshDedupSink.__call__", "text_dedup"),
    ("streaming.ivf_stream", "IvfIndexSink.__call__", "similarity.index"),
]


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span on the same thread
    op: int
    buckets: int = 0  # partition directories a commit_replace_partitions swapped


@dataclass
class Tracer:
    """In-memory span recorder. ``op`` is the id of the op in flight."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name) as ctx:
                result = fn(*args, **kwargs)
            if name == "ParquetTable.commit_replace_partitions":
                tracer.spans[ctx.idx].buckets = len(result)
            return result

        wrapper.__wrapped_by_tracer__ = True
        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in PATCHES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, _, name = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            fn = getattr(target, name)
            if not getattr(fn, "__wrapped_by_tracer__", False):
                setattr(target, name, self._wrap(layer, attr, fn))

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        t = self.t
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self.parent = stack[-1] if stack else None
        self.prev_desc = None
        if t.sc is not None:
            self.prev_desc = t.sc.getLocalProperty("spark.job.description")
            t.sc.setLocalProperty("spark.job.description", f"{self.layer}: {self.name}")
        with t._lock:
            self.idx = len(t.spans)
            t.spans.append(Span(self.layer, self.name, time.time(), 0.0,
                                self.parent, t.op))
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.idx].end = time.time()
        t._local.stack.pop()
        if t.sc is not None:
            t.sc.setLocalProperty("spark.job.description", self.prev_desc)
        return False


def calibrate_span_cost(tracer: Tracer, n: int = 200) -> float:
    """Seconds one wrapper adds around a call (span bookkeeping plus the two
    job-description round trips to the JVM), measured on a no-op."""
    fn = tracer._wrap("calibration", "noop", lambda: None)
    saved_op, tracer.op = tracer.op, -2
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    cost = (time.perf_counter() - t0) / n
    tracer.op = saved_op
    with tracer._lock:
        tracer.spans = [s for s in tracer.spans if s.op != -2]
    return cost


def filter_output_rows(df, column: str) -> int:
    """Rows that passed the filters on ``column`` in ``df``'s executed plan,
    read from the plan's own SQL metrics after the query has run. Adaptive
    execution wraps the plan and its query stages, so walk into those."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FilterExec" and column in node.condition().sql():
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


# -- Spark status records -----------------------------------------------------

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc).timestamp()


class SparkRest:
    """Reads jobs and stages from the driver's own status API (localhost)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.seen = self._max_job_id()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def mark(self) -> None:
        """Forget every job so far (call before an op starts)."""
        self.seen = self._max_job_id()

    def pull(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs submitted since ``mark`` and their stages (by stage id)."""
        self._drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.seen]
        want = {sid for j in jobs for sid in j["stageIds"]}
        stages = {}
        for s in self._get("/stages?details=false"):
            if s["stageId"] in want and s["status"] == "COMPLETE":
                stages[s["stageId"]] = s
        return jobs, stages


@dataclass
class OpTrace:
    """Everything recorded about one op in traced mode."""

    op: int
    t0: float
    t1: float
    records: int
    jobs: list[dict]
    stages: dict[int, dict]
    progress: list[dict]  # StreamingQueryProgress JSON of the op's drains


def _job_sums(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0,
           "shuffle": 0, "spill": 0, "out_bytes": 0, "out_rows": 0}
    for j in jobs:
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"]
            out["task_s"] += s["executorRunTime"] / 1000.0
            out["shuffle"] += s["shuffleWriteBytes"]
            out["spill"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            out["out_bytes"] += s["outputBytes"]
            out["out_rows"] += s["outputRecords"]
    return out


def layer_metrics(tr: Tracer, ot: OpTrace) -> dict[str, float]:
    """Per-layer numbers of one op. Wall times are interval unions of the
    layer's spans (concurrent calls count once, nested calls of the same
    layer too); a job belongs to every layer whose span was open when it
    was submitted, so nested layers report inclusive figures."""
    spans = tr.op_spans(ot.op)

    def busy(layer: str) -> float:
        return interval_union([(s.start, s.end) for s in spans if s.layer == layer])

    def jobs(layer: str) -> dict[str, float]:
        ivs = [(s.start, s.end) for s in spans if s.layer == layer]
        inside = []
        for j in ot.jobs:
            t = _ts(j.get("submissionTime"))
            if t is not None and any(a - 0.002 <= t <= b + 0.002 for a, b in ivs):
                inside.append(j)
        return _job_sums(inside, ot.stages)

    allj = _job_sums(ot.jobs, ot.stages)
    job_ivs = []
    for j in ot.jobs:
        a, b = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if a is not None and b is not None:
            job_ivs.append((max(a, ot.t0), min(b, ot.t1)))
    src, mg, td = jobs("sources"), jobs("merge"), jobs("text_dedup")
    dur = [p.get("durationMs", {}) for p in ot.progress]
    m = {
        "spark.jobs_per_op": allj["jobs"],
        "spark.stages_per_op": allj["stages"],
        "spark.tasks_per_op": allj["tasks"],
        "spark.task_s_per_op": allj["task_s"],
        "spark.shuffle_bytes_per_op": allj["shuffle"],
        "spark.spill_bytes_per_op": allj["spill"],
        "spark.driver_gap_s": (ot.t1 - ot.t0) - interval_union(job_ivs),
        "sources.ingest_s": busy("sources"),
        "sources.jobs": src["jobs"],
        "sources.task_s": src["task_s"],
        "plans.build_s": busy("plans"),
        "plans.views_s": busy("plans.views"),
        "merge.wall_s": busy("merge"),
        "merge.jobs": mg["jobs"],
        "merge.task_s": mg["task_s"],
        "merge.shuffle_bytes": mg["shuffle"],
        "merge.buckets_rewritten": sum(s.buckets for s in spans),
        "merge.bytes_written": mg["out_bytes"],
        "merge.rows_rewritten_per_source_row": mg["out_rows"] / max(ot.records, 1),
        "storage.commit_s": busy("storage"),
        "streaming.start_s": busy("streaming.start"),
        "streaming.triggers": len(ot.progress),
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
        "streaming.planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1000.0,
        "streaming.offsets_s": sum(
            d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for d in dur) / 1000.0,
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in ot.progress),
        "text_dedup.wall_s": busy("text_dedup"),
        "text_dedup.task_s": td["task_s"],
        "curate.wall_s": busy("curate"),
        "curate.jobs": jobs("curate")["jobs"],
        "similarity.index_s": busy("similarity.index"),
        "similarity.query_s": busy("similarity.query"),
        "trace.spans_per_op": len(spans),
    }
    return m
