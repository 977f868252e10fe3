"""Process-level measurements taken from outside the program: CPU of the
whole process tree from ``/proc``, file bytes created under a directory,
and the small statistics helpers the report uses."""

from __future__ import annotations

import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_time() -> float:
    """Epoch seconds at which this process started (kernel record)."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    fields = _stat_fields(os.getpid())
    return btime + int(fields[19]) / _TICK


def _process_table() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields of every live process, by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                out[int(name)] = fields
    return out


def _below(table: dict[int, list[str]], root: int) -> list[int]:
    """Pids in ``table`` that descend from ``root``."""
    out = []
    for pid in table:
        p = pid
        while p > 1 and p != root:
            p = int(table[p][1]) if p in table else 0
        if p == root and pid != root:
            out.append(pid)
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not yet exited (zombies have)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return _below(_process_table(), os.getpid())


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every live descendant,
    including the reaped children each of them has waited for (the JVM and
    its Python workers all descend from this interpreter)."""
    root = os.getpid()
    table = _process_table()
    ticks = 0
    for pid in [root, *_below(table, root)]:
        if pid in table:
            ticks += sum(int(x) for x in table[pid][11:15])  # utime stime cutime cstime
    return ticks / _TICK


def snapshot(path: str) -> dict[str, tuple[int, int]]:
    """``{file: (size, mtime_ns)}`` for every regular file under ``path``."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(d, name)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[full] = (st.st_size, st.st_mtime_ns)
    return out


def created(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or rewritten since
    ``before``: files a step wrote and kept."""
    files = nbytes = 0
    for path, sig in after.items():
        if before.get(path) != sig:
            files += 1
            nbytes += sig[0]
    return files, nbytes


def tree_bytes(path: str) -> int:
    return sum(size for size, _m in snapshot(path).values())


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def interval_union(spans: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals: the wall time a
    layer was busy, counting concurrent calls once."""
    total = 0.0
    end = float("-inf")
    for s, e in sorted(spans):
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
