"""Measurements taken from outside the program: ``/proc`` for memory,
CPU and host steal, Spark's status store for per-stage task metrics,
and an in-memory span recorder for the traced run."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        lpar, rpar = raw.find("("), raw.rfind(")")
        rest = raw[rpar + 2:].split()
        cpu = sum(int(x) for x in rest[11:15]) / _HZ
        out[int(name)] = (int(rest[1]), raw[lpar + 1:rpar], cpu,
                          int(rest[21]) * _PAGE)
    return out


def descendants(root: int) -> dict[int, tuple[int, str, float, int]]:
    """Every live process below ``root`` (not ``root`` itself)."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    found, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        found[pid] = stats[pid]
        todo.extend(kids.get(pid, []))
    return found


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the PySpark daemon and its workers
    (python processes below the JVM), reaped workers included."""
    return sum(st[2] for st in descendants(root).values()
               if st[1].startswith("python"))


def steal_s() -> float:
    """Host steal time so far, summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) / _HZ if len(parts) > 8 else 0.0


def peak_rss(root: int) -> dict[str, int]:
    """Summed peak resident size (the kernel's ``VmHWM``) of the Spark
    JVM and of its Python workers below ``root``, by command name.

    Read once, after the timed loop, so nothing samples memory while
    ops run.  Other descendants are skipped: a child the JVM is
    spawning (``chmod`` for a file write) briefly shares the JVM's
    address space and would count it twice."""
    by_comm: dict[str, int] = {}
    for pid, st in descendants(root).items():
        if st[1] != "java" and not st[1].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                hwm = next((int(ln.split()[1]) * 1024 for ln in fh
                            if ln.startswith("VmHWM:")), st[3])
        except OSError:
            continue
        by_comm[st[1]] = by_comm.get(st[1], 0) + hwm
    return by_comm


# --------------------------------------------------------- status store
STAGE_FIELDS = {
    # name: (accessor, scale to the reported unit)
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 2.0 ** -20),
    "shuffle_read_mb": ("shuffleReadBytes", 2.0 ** -20),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_mb": ("diskBytesSpilled", 2.0 ** -20),
    "failed_tasks": ("numFailedTasks", 1),
    "tasks": ("numCompleteTasks", 1),
    "rows_read": ("inputRecords", 1),
    "mb_read": ("inputBytes", 2.0 ** -20),
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Deltas of Spark's live status store between two points: the
    stages and jobs that started since the last call, and their task
    metrics summed."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stage_hi, self._job_hi = self._max_ids()

    def _max_ids(self) -> tuple[int, int]:
        stages = _seq(self._store.stageList(None, False, False,
                                            self._quantiles, None))
        jobs = _seq(self._store.jobsList(None))
        return (max((s.stageId() for s in stages), default=-1),
                max((j.jobId() for j in jobs), default=-1))

    def delta(self) -> dict[str, float]:
        stages = [s for s in _seq(self._store.stageList(
            None, False, False, self._quantiles, None))
            if s.stageId() > self._stage_hi]
        jobs = [j for j in _seq(self._store.jobsList(None))
                if j.jobId() > self._job_hi]
        out = {k: 0.0 for k in STAGE_FIELDS}
        for s in stages:
            for k, (attr, scale) in STAGE_FIELDS.items():
                out[k] += getattr(s, attr)() * scale
        out["jobs"] = float(len(jobs))
        self._stage_hi = max([self._stage_hi]
                             + [s.stageId() for s in stages])
        self._job_hi = max([self._job_hi] + [j.jobId() for j in jobs])
        return out

    def cache_mb(self) -> float:
        """Memory plus disk held by cached RDD blocks right now."""
        return sum(r.memoryUsed() + r.diskUsed()
                   for r in _seq(self._store.rddList(True))) / 2.0 ** 20


# ----------------------------------------------------------------- spans
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


@dataclass
class Tracer:
    """Spans kept in memory; ``dump`` writes them once the run ends.
    With ``enabled`` false every call is a no-op."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    def span(self, name: str, op_id: int | None = None):
        return _SpanCtx(self, name, op_id)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.end - s.start - child[i]
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int | None):
        self.t, self.name, self.op_id = tracer, name, op_id

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            parent = self.t._open[-1] if self.t._open else None
            self.t.spans.append(Span(self.name, self.start, self.start,
                                     parent, self.op_id))
            self.idx = len(self.t.spans) - 1
            self.t._open.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        if self.t.enabled:
            self.t.spans[self.idx].end = self.end
            self.t._open.pop()

    @property
    def seconds(self) -> float:
        return self.end - self.start
