"""Span recorder, Spark event-log reader and /proc RSS sampler.

Spans are recorded by the benchmark around each call it makes into a
layer; the library itself is not instrumented.  After the run the
Spark event log (plain JSON lines: ``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``) is read and every job and
stage is attributed to the spans whose interval holds its submission
time.  Jobs are attributed by time, not by job group: serving jobs run
on the HTTP handler thread and stream jobs on the stream thread, and
with one client and serial passes their windows do not overlap.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps events with
    end: float = 0.0
    parent: int | None = None
    id: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Spans kept in memory, nested by a stack; written out at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.end = s.start + (time.perf_counter() - t0)
            self._stack.pop()

    def named(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= t0 and s.end <= t1]

    def self_time(self, s: Span) -> float:
        """Span wall minus the part its direct children cover."""
        return s.wall - sum(c.wall for c in self.spans if c.parent == s.id)


# ---------------------------------------------------------------------------
# Spark event log

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "read_bytes",
}


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float


@dataclass
class Stage:
    submit: float
    end: float
    tasks: int
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: list[Stage]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> EventLog:
    """Jobs and completed stage attempts from every log file in
    `log_dir`.  Skipped stages never complete and so are not counted."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        raise FileNotFoundError(f"no finished Spark event log in {log_dir}")
    starts: dict[int, float] = {}
    jobs: list[Job] = []
    stages: list[Stage] = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    jid = ev["Job ID"]
                    jobs.append(Job(starts[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info or "Completion Time" not in info:
                        continue
                    m: dict[str, float] = {}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] = m.get(key, 0.0) + _num(acc.get("Value"))
                    stages.append(
                        Stage(info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0,
                              info["Number of Tasks"], m)
                    )
    return EventLog(jobs, stages)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPAN_FIELDS = (
    "wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "cpu_s",
    "shuffle_mb", "spill_mb", "read_mb", "driver_gap_s", "driver_gap_share",
)


def span_layer(span: Span, log: EventLog, self_s: float) -> dict[str, float]:
    """Spark's counters for the jobs and stages submitted inside `span`.
    The driver gap is span wall minus the union of its job intervals
    (clipped to the span): planning, Python and barriers."""
    jobs = [j for j in log.jobs if span.start <= j.submit <= span.end]
    stages = [s for s in log.stages if span.start <= s.submit <= span.end]
    busy = _union_length([(j.submit, min(j.end, span.end)) for j in jobs])
    gap = max(span.wall - busy, 0.0)

    def total(key: str) -> float:
        return sum(s.metrics.get(key, 0.0) for s in stages)

    return {
        "wall_s": span.wall,
        "self_s": self_s,
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "tasks": float(sum(s.tasks for s in stages)),
        "task_s": total("run_ms") / 1e3,
        "cpu_s": total("cpu_ns") / 1e9,
        "shuffle_mb": total("shuffle_bytes") / 2**20,
        "spill_mb": total("spill_bytes") / 2**20,
        "read_mb": total("read_bytes") / 2**20,
        "driver_gap_s": gap,
        "driver_gap_share": gap / span.wall if span.wall > 0 else 0.0,
    }


def layer_medians(rec: SpanRecorder, log: EventLog, spans: list[Span]) -> dict[str, float]:
    """Per-occurrence medians of `span_layer` over `spans`; zeros when
    the list is empty (the layer did not run)."""
    rows = [span_layer(s, log, rec.self_time(s)) for s in spans]
    if not rows:
        return {f: 0.0 for f in SPAN_FIELDS}
    return {f: statistics.median(r[f] for r in rows) for f in SPAN_FIELDS}


def unattributed_jobs(rec: SpanRecorder, log: EventLog, t0: float, t1: float) -> int:
    """Jobs submitted in [t0, t1] outside every top-level span."""
    tops = [s for s in rec.spans if s.parent is None and s.end >= t0 and s.start <= t1]
    return sum(
        1 for j in log.jobs
        if t0 <= j.submit <= t1 and not any(s.start <= j.submit <= s.end for s in tops)
    )


# ---------------------------------------------------------------------------
# Resident memory of the benchmark's process tree

_PAGE = os.sysconf("SC_PAGE_SIZE")
_PF_FORKNOEXEC = 0x40  # task flag: forked and has not exec'd yet


def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, flags, vsize, rss pages) from every /proc/<pid>/stat."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed
            continue
        f = stat[stat.rfind(")") + 2:].split()
        table[int(entry)] = (int(f[1]), int(f[6]), int(f[20]), int(f[21]))
    return table


def _descendants(table: dict[int, tuple[int, int, int, int]], pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants(pid: int) -> list[int]:
    return _descendants(_proc_table(), pid)


def tree_rss_bytes(pid: int) -> int:
    return _tree_rss_pages(_proc_table(), pid) * _PAGE


def _tree_rss_pages(table: dict[int, tuple[int, int, int, int]], pid: int) -> int:
    """Summed RSS of `pid` and its descendants.  A child that has not
    exec'd and still maps exactly its parent's memory (the JVM spawning
    a Python worker) is the parent's memory seen twice: it is skipped."""
    total = 0
    for p in [pid, *_descendants(table, pid)]:
        if p not in table:
            continue
        ppid, flags, vsize, rss = table[p]
        parent = table.get(ppid)
        if flags & _PF_FORKNOEXEC and parent and parent[2:] == (vsize, rss):
            continue
        total += rss
    return total


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the driver JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
