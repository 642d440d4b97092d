"""Spans, counters and the readers the benchmark traces with.

Nothing here changes the engine. Spans are opened by the benchmark
around its own calls into each layer; Spark-side numbers come from
public status APIs read after each call (job groups, the status store,
Catalyst's phase tracker), and process CPU and memory from ``/proc``.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import math
import os
import statistics
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
_MB = 1024 * 1024


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` yields ``None`` and
    records nothing, so untimed and timed passes share one code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, time.perf_counter(), attrs=dict(attrs))
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)


def covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` that the union of ``children``
    covers (children are clipped to the interval, overlaps count once)."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered((s.start, s.end), kids.get(s.id, []))
        for s in spans
    }


# --------------------------------------------------------------------------
# /proc readers
# --------------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may contain spaces: split after the closing paren
    return raw[raw.rfind(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            out.setdefault(int(f[1]), []).append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pid: int, include_reaped: bool = False) -> float:
    """utime + stime of ``pid`` (plus reaped children's when asked)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if include_reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    raw = _read(f"/proc/{pid}/status") or ""
    for line in raw.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


class ProcessTree:
    """The driver's processes: this Python process, the JVM it launched
    and the JVM's Python daemon and workers."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid

    def python_workers(self) -> list[int]:
        return descendants(self.jvm_pid) if self.jvm_pid else []

    def jvm_cpu_s(self) -> float:
        return cpu_s(self.jvm_pid) if self.jvm_pid else 0.0

    def python_worker_cpu_s(self) -> float:
        # reaped workers' time lands in the daemon's cutime/cstime
        return sum(cpu_s(p, include_reaped=True) for p in self.python_workers())

    def peak_rss_mb(self) -> float:
        pids = [os.getpid()] + ([self.jvm_pid] if self.jvm_pid else []) + self.python_workers()
        return sum(vm_hwm_mb(p) for p in pids)


# --------------------------------------------------------------------------
# host speed probe
# --------------------------------------------------------------------------

def host_probe_s(spark) -> float:
    """Seconds a fixed piece of work takes on this host right now: the
    geometric mean of a pure-Python loop, SHA-256 over 100 MB and 1000
    Python → JVM round trips, each the median of three tries. It runs no
    engine code, so it follows the host's speed, not the code under test."""
    buf = b"x" * (1 << 20)
    clock = spark.sparkContext._jvm.java.lang.System

    def loop():
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) & 0xFFFFFFFF

    def sha():
        for _ in range(100):
            hashlib.sha256(buf).digest()

    def round_trips():
        for _ in range(1000):
            clock.nanoTime()

    logs = []
    for work in (loop, sha, round_trips):
        tries = []
        for _ in range(3):
            t0 = time.perf_counter()
            work()
            tries.append(time.perf_counter() - t0)
        logs.append(math.log(statistics.median(tries)))
    return math.exp(sum(logs) / len(logs))


# --------------------------------------------------------------------------
# output-root walker
# --------------------------------------------------------------------------

def snapshot(roots: list[str]) -> dict[str, tuple[int, int, int]]:
    """path → (size, mtime_ns, inode) of every regular file under ``roots``."""
    out: dict[str, tuple[int, int, int]] = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> list[str]:
    """Files created or replaced between two snapshots."""
    return [p for p, sig in after.items() if before.get(p) != sig]


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    n = 0
    for p in paths:
        if p.endswith(".parquet"):
            try:
                n += pq.ParquetFile(p).metadata.num_rows
            except Exception:
                pass
    return n


# --------------------------------------------------------------------------
# Spark status readers
# --------------------------------------------------------------------------

@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    max_task_s: float = 0.0     # Σ over multi-task stages of the slowest task
    median_task_s: float = 0.0  # Σ over multi-task stages of the median task

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def job_group_stats(spark, group: str) -> JobStats:
    """Jobs, stages and task metrics of every job run under ``group``,
    read from the status tracker and the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    out = JobStats()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:
            continue  # skipped stage: its shuffle output was reused
        if sd.numCompleteTasks() == 0:
            continue
        out.stages += 1
        out.tasks += sd.numCompleteTasks()
        out.task_s += sd.executorRunTime() / 1000.0
        out.gc_s += sd.jvmGcTime() / 1000.0
        out.input_mb += sd.inputBytes() / _MB
        out.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
        out.shuffle_read_mb += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / _MB
        out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
        if sd.numCompleteTasks() > 1:
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                out.median_task_s += run.apply(0) / 1000.0
                out.max_task_s += run.apply(1) / 1000.0
    return out


def _heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def reset_jvm_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def jvm_heap_peak_mb(spark) -> float:
    """Σ over the JVM's heap pools of each pool's peak used bytes since
    the last :func:`reset_jvm_heap_peak`."""
    return sum(pool.getPeakUsage().getUsed() for pool in _heap_pools(spark)) / _MB


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of ``df``'s own query
    execution; planning is forced here (it is otherwise lazy)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
