"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_load --seed 1 --seconds 20 --trace 0

Runs one workload closed-loop with one client against the package in the
current directory, on a ``local[<cores>]`` Spark session in this process,
for ``--seconds`` seconds of timed ops. Every op's output is checked against
the generator's truth. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
``perfbench/NOTES.md``). All scratch files live under ``.perfbench_work/``
in the current directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import PKG, measure  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "records/s",
    "cpu_s_per_krow": "s",
    "live_heap_mb": "MB",
    "written_bytes_per_input_byte": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "ok_rate": "ratio",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.local.dir={local}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'sql-warehouse')}",
            # C2 compiles after a fifth of the default invocation counts, so
            # ops reach steady state sooner; steady-state op latency is
            # unchanged (NOTES.md)
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:CompileThresholdScaling=0.2'",
            "--conf spark.driver.host=127.0.0.1",
            "--conf spark.driver.bindAddress=127.0.0.1",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })


def _jvm_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _live_heap_mb(spark) -> float:
    """JVM heap in use after forced full collections. Spark's ContextCleaner
    releases broadcasts and shuffles only after a collection has cleared
    their driver-side references, so collect, let it run, repeat, and keep
    the lowest reading."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    used = []
    for _ in range(5):
        _jvm_gc(spark)
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.2)
    _log("heap after each collection (MB): " + ", ".join(f"{u:.1f}" for u in used))
    return min(used)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a hung JVM must still go
                proc.kill()
                proc.wait()


def _end(pids: set[int], grace: float) -> None:
    """Wait up to ``grace`` seconds for ``pids`` and every current
    descendant of this process to exit, kill what is left, and reap this
    process's own children."""
    deadline = time.time() + grace
    while True:
        alive = {p for p in pids | set(measure.descendants()) if measure.running(p)}
        if not alive or time.time() > deadline + 10:
            break
        if time.time() >= deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _remove_orphans(base: str) -> None:
    """Delete work directories left by runs that were killed."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    proc_start = measure.process_start_time()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        raise SystemExit(f"perfbench: run from the repository root; {PKG}/ is missing")
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[workload]()
    base = os.path.join(ROOT, ".perfbench_work")
    _remove_orphans(base)
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    spark = None
    try:
        from financial_data_ingestion_canonical_snowflake_spark.session import get_spark

        t0 = time.time()
        spark = get_spark(app_name=f"perfbench-{workload}")
        session_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = rest = None
        span_cost = 0.0
        if trace:
            from perfbench.trace import SparkRest, Tracer, calibrate_span_cost

            tracer = Tracer(sc=spark.sparkContext)
            tracer.install()
            span_cost = calibrate_span_cost(tracer)
            rest = SparkRest(spark)
        ctx = Ctx(spark, work, seed, tracer)
        t0 = time.time()
        wl.setup(ctx)
        _log(f"session {session_s:.1f}s, tables {time.time() - t0:.1f}s")
        return _loop(wl, ctx, spark, seconds, proc_start, session_s, tracer, rest,
                     span_cost)
    finally:
        # the JVM's Python workers are its children: note them before it goes
        kids = set(measure.descendants())
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            # a JVM still starting when a stop request came has no session
            # to stop it, so it is killed at once
            _end(kids, 20.0 if spark is not None else 0.0)
            shutil.rmtree(work, ignore_errors=True)
            if not os.listdir(base):
                os.rmdir(base)


def _loop(wl, ctx, spark, seconds, proc_start, session_s, tracer, rest,
          span_cost) -> dict:
    attempted = failed = 0
    lat, recs, cpu, written, files_written = [], 0, 0.0, 0, []
    in_bytes = landed = 0
    traces, extras = [], []
    t_first = None
    k = 0
    while True:
        timed = k >= wl.warmup
        wl.prepare(k)
        _jvm_gc(spark)
        before = measure.snapshot(ctx.wh)
        if rest is not None:
            rest.mark()
        if tracer is not None:
            tracer.op = k
        if timed and t_first is None:
            t_first = time.time()
        attempted += 1
        c0 = measure.tree_cpu_s()
        t0 = time.time()
        try:
            n, nbytes, progress = wl.op(k)
        except Exception:  # noqa: BLE001 — a failed op is counted, then we stop
            traceback.print_exc(file=sys.stderr)
            failed += 1
            break
        t1 = time.time()
        c1 = measure.tree_cpu_s()
        if tracer is not None:
            tracer.op = -1
        landed += nbytes
        f_n, f_b = measure.created(before, measure.snapshot(ctx.wh))
        if rest is not None and timed:
            from perfbench.trace import OpTrace

            jobs, stages = rest.pull()
            traces.append(OpTrace(k, t0, t1, n, jobs, stages, progress))
        tc = time.time()
        try:
            fails, extra = wl.check(k)
        except Exception:  # noqa: BLE001 — an unreadable output fails the op
            traceback.print_exc(file=sys.stderr)
            fails, extra = ["output could not be read back"], {}
        if fails:
            failed += 1
            _log(f"op {k} failed its check: {'; '.join(fails)}")
        _log(f"op {k} {'timed' if timed else 'warm-up'} {t1 - t0:.3f}s "
             f"records={n} files={f_n} check={time.time() - tc:.1f}s")
        if timed:
            lat.append(t1 - t0)
            recs += n
            cpu += c1 - c0
            written += f_b
            in_bytes += nbytes
            files_written.append(f_n)
            extras.append(extra)
        k += 1
        if timed and time.time() - t_first >= seconds:
            break
    if not lat:
        raise SystemExit("perfbench: no timed op completed")
    setup_s = t_first - proc_start
    heap = _live_heap_mb(spark)
    stored = measure.tree_bytes(ctx.wh)
    _log(f"latency_p50_s={measure.median(lat):.3f} over {len(lat)} timed ops "
         f"(setup {setup_s:.1f}s, session {session_s:.1f}s)")
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "latency_p50_s": measure.median(lat),
            "rows_per_s": recs / sum(lat),
            "cpu_s_per_krow": cpu / (recs / 1000.0),
            "live_heap_mb": heap,
            "written_bytes_per_input_byte": written / in_bytes,
            "stored_bytes_per_input_byte": stored / landed,
            "ok_rate": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    else:
        metrics = _per_layer(tracer, traces, extras, files_written, lat, session_s,
                             span_cost)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _per_layer(tracer, traces, extras, files_written, lat, session_s, span_cost):
    from perfbench.trace import layer_metrics

    per_op = [layer_metrics(tracer, t) for t in traces]
    units = per_layer_units()
    vals = {}
    for name in units:
        xs = [m[name] for m in per_op if name in m]
        vals[name] = measure.median(xs)

    def tot(key):
        return sum(e.get(key, 0) for e in extras)

    vals["session.start_s"] = session_s
    vals["storage.files_written"] = measure.median(files_written)
    vals["sources.rows_loaded_ratio"] = (
        tot("sources.rows_loaded") / tot("sources.rows_parsed")
        if tot("sources.rows_parsed") else 0.0)
    vals["curate.survivor_ratio"] = (
        tot("curate.survivors") / tot("curate.input_docs")
        if tot("curate.input_docs") else 0.0)
    vals["text_dedup.candidate_pairs"] = measure.median(
        e.get("text_dedup.candidates", 0) for e in extras)
    vals["text_dedup.confirmed_per_candidate"] = (
        tot("text_dedup.confirmed") / tot("text_dedup.candidates")
        if tot("text_dedup.candidates") else 0.0)
    vals["similarity.lists_probed_per_query"] = (
        tot("similarity.lists_probed") / tot("similarity.queries")
        if tot("similarity.queries") else 0.0)
    vals["trace.op_p50_s"] = measure.median(lat)
    vals["trace.overhead_est_s_per_op"] = vals["trace.spans_per_op"] * span_cost
    return {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="perfbench: one workload, one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a termination request unwinds through the cleanup (Spark stop, scratch
    # removal) instead of killing the interpreter outright
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
