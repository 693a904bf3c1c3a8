"""Outside-in profile collection: spans around calls into the program,
Spark job attribution through job groups, and /proc sampling of the
process tree.

Everything here observes the program from the caller's side. A span sets
its own Spark job group for the duration of the call, so the jobs the call
runs can be read back from the status tracker and the status store, which
both work with ``spark.ui.enabled=false``. Spans are kept in memory and
written out once, at the end of a run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# /proc sampling of the whole process tree (driver, JVM, Python workers)
# --------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes) of every
    live process; zombies, which have ended, are left out."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(b")") + 2:].split()
        if fields[0] == b"Z":
            continue
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks / _TICK, int(fields[21]) * _PAGE)
    return out


def _tree(table: dict, root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def live_pids() -> set[int]:
    return set(_proc_table())


def tree_pids(root: int) -> set[int]:
    """``root`` and its live descendants."""
    return _tree(_proc_table(), root)


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants.
    CPU counts utime+stime plus the reaped children's cutime+cstime, so
    time of workers that exited stays counted through their parent."""
    table = _proc_table()
    pids = _tree(table, root)
    return sum(table[p][1] for p in pids), sum(table[p][2] for p in pids)


class ProcSampler:
    """Reads the process tree's CPU time and summed RSS. With ``background``
    it also samples RSS on a thread every ``interval_s`` and keeps the peak
    since the last :meth:`reset_peak`; without, it reads /proc only when
    called."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2, background: bool = True):
        self.root = root if root is not None else os.getpid()
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = (
            threading.Thread(target=self._loop, name="proc-sampler", daemon=True) if background else None
        )

    def __enter__(self) -> "ProcSampler":
        if self._thread is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> tuple[float, int]:
        cpu, rss = tree_usage(self.root)
        with self._lock:
            self._peak = max(self._peak, rss)
        return cpu, rss

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / 2**20


# --------------------------------------------------------------------------
# Spark job attribution
# --------------------------------------------------------------------------

@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list = field(default_factory=list)

    def add(self, other: "SparkCounts") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


class JobLedger:
    """Reads the jobs of one job group back from the status tracker and
    their stages from the status store. A stage shared by several jobs
    (a reused shuffle) is counted once, for the group that ran it first."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self._seen_stages: set[int] = set()

    def collect(self, group: str) -> SparkCounts:
        out = SparkCounts()
        for job_id in sorted(self.tracker.getJobIdsForGroup(group)):
            job = self.store.job(job_id)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.job_intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            info = self.tracker.getJobInfo(job_id)
            for sid in info.stageIds if info is not None else ():
                if sid in self._seen_stages:
                    continue
                attempts = self.store.stageData(sid, False, None, False, self._no_quantiles)
                ran = False
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    out.tasks += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                    out.failed_tasks += sd.numFailedTasks()
                    out.task_s += sd.executorRunTime() / 1000.0
                    out.gc_s += sd.jvmGcTime() / 1000.0
                    out.shuffle_write_mb += sd.shuffleWriteBytes() / 2**20
                    out.shuffle_read_mb += sd.shuffleReadBytes() / 2**20
                    out.spill_mb += sd.diskBytesSpilled() / 2**20
                if ran:
                    self._seen_stages.add(sid)
                    out.stages += 1
        return out


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    spark: SparkCounts = field(default_factory=SparkCounts)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span(name)`` times a call and, when a
    :class:`JobLedger` is attached, runs it under a job group of its own
    and attributes that group's jobs to the span. Nested spans restore the
    enclosing group on exit, so each job belongs to the innermost span."""

    def __init__(self, run_id: str, ledger: JobLedger | None = None):
        self.run_id = run_id
        self.ledger = ledger
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, self.run_id, next(self._ids), parent, 0.0)
        sc = self.ledger.sc if self.ledger is not None else None
        group = f"{self.run_id}:{sp.span_id}"
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self._stack[-1]
                    sc.setJobGroup(f"{self.run_id}:{outer.span_id}", outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                sp.spark = self.ledger.collect(group)
            self.spans.append(sp)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_s(self, sp: Span) -> float:
        """Span wall minus the part of it covered by its child spans."""
        covered, last = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return sp.wall_s - covered

    def total(self, sp: Span) -> SparkCounts:
        """Spark counts of the span and every span below it."""
        out = SparkCounts()
        out.add(sp.spark)
        for c in self.children(sp):
            out.add(self.total(c))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        rows = []
        for sp in self.spans:
            d = asdict(sp)
            d["spark"].pop("job_intervals")
            d["self_s"] = self.self_s(sp)
            rows.append(d)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, indent=1)


def driver_gap_s(start: float, end: float, job_intervals: list, clock_offset: float) -> float:
    """Seconds of [start, end] (perf_counter) with no Spark job running.
    ``clock_offset`` maps the job intervals' wall-clock seconds onto the
    perf_counter timeline."""
    busy, last = 0.0, start
    for lo, hi in sorted((a - clock_offset, b - clock_offset) for a, b in job_intervals):
        lo, hi = max(lo, last), min(hi, end)
        if hi > lo:
            busy += hi - lo
            last = hi
    return (end - start) - busy
