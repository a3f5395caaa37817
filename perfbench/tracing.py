"""Tracing for the benchmark's traced run, plus the process-memory
sampler both runs use.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, and
  the id of the operation they belong to) and writes them out once,
  at the end. A span's self time is its duration minus the part of it
  that its child spans cover.
- :func:`job_metrics` reads per-stage task metrics for a set of Spark
  jobs from the status store (it works with the UI off).
- :func:`scan_rows` sums the rows the file scans of a set of jobs
  produced from files under a path, from the SQL status store.
- :class:`RssSampler` tracks the peak memory (proportional set size)
  of this process and every process under it (the JVM and its Python
  workers) from ``/proc``.

Nothing here is imported by the engine; the traced run wraps the
engine's public functions with :meth:`Tracer.wrap`.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans. ``enabled=False`` makes every call a no-op so
    the untraced run shares the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # set once the measured session exists
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._op = 0

    def new_op(self) -> int:
        """Start a new operation; spans opened from now on carry its id."""
        self._op = next(self._ops)
        return self._op

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), self._op, name, parent, time.perf_counter(), attrs=attrs)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        """Jobs started on this thread run in the innermost span's job
        group, so each span's jobs can be looked up afterwards."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"bench-{sp.id}", sp.name)

    def collect(self, op: int) -> list[Span]:
        """Attach stage metrics to every span of ``op``; call it right
        after the operation ends."""
        out = [s for s in self.spans if s.op == op]
        for s in out:
            if "stage" not in s.attrs:
                s.attrs["jobs"] = group_jobs(self.spark, f"bench-{s.id}")
                s.attrs["stage"] = job_metrics(self.spark, s.attrs["jobs"])
        return out

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned version of itself."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Seconds of self time per span name, over the given operations."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.op not in op_ids:
                continue
            covered = _union_length(
                [(max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])]
            )
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def totals(self, op_ids: set[int]) -> dict[str, float]:
        """Seconds of total (inclusive) time per span name."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.op in op_ids:
                out[sp.name] = out.get(sp.name, 0.0) + sp.end - sp.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__, default=str) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Spark job and stage metrics
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "input_rows",
)


def group_jobs(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_metrics(spark, job_ids: list[int]) -> dict[str, float]:
    """Sum the task metrics of every stage that ran for ``job_ids``.
    Skipped stages (their shuffle output was reused) are not counted.
    Read it right after the jobs end: the status store keeps only the
    most recent jobs and stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = len(job_ids)
    out["stages"] = 0
    seen: set[int] = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            if s in seen:
                continue
            seen.add(s)
            sd = store.lastStageAttempt(s)
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            out["input_rows"] += sd.inputRecords()
    return out


def scan_rows(spark, job_ids: list[int], path: str) -> int:
    """Rows output by the file scans over ``path`` in the SQL executions
    that ran ``job_ids`` (the scan's "number of output rows" metric)."""
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    wanted = set(job_ids)
    if not wanted:
        return 0
    total = 0
    execs = store.executionsList()
    for i in reversed(range(execs.size())):  # newest first
        ex = execs.apply(i)
        jobs = ex.jobs().keys().iterator()
        ran = set()
        while jobs.hasNext():
            ran.add(int(jobs.next()))
        if ran and max(ran) < min(wanted):
            break
        if not ran & wanted:
            continue
        vals = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("Scan") or path not in node.desc():
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() == "number of output rows" and vals.contains(m.accumulatorId()):
                    total += int(vals.apply(m.accumulatorId()).replace(",", ""))
    return total


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _children(root: int) -> list[int]:
    """``root`` and every process under it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and every process under it, including exited children they
    reaped. The kernel does not count time the host withheld from this
    machine's CPUs (steal), so this number is less sensitive to other
    tenants than wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _children(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / tick


def _tree_pss_kb(root: int) -> int:
    """Proportional set size (kB) of ``root`` and all its descendants.
    PSS splits pages shared between processes (the forked Python
    workers share most of theirs), so the sum counts each page once."""
    total = 0
    for pid in _children(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's memory; the peak
    is kept between :meth:`reset` calls."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(me))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak_kb = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
