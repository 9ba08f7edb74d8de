"""Spans, Spark event-log parsing and process-tree RSS sampling.

Spans are recorded by the benchmark around its own calls into each
layer of ``ocr_lib_spark``; nothing inside the program is instrumented.
Each span sets the Spark local property ``perfbench.span`` while it is
open, so the jobs it submits can be attributed from the event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    name: str
    span_id: str
    parent_id: str | None
    trace_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans for one workload run (one trace id); ``enabled``
    False makes ``span`` a plain timer that records nothing."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, uuid.uuid4().hex[:12], parent.span_id if parent else None,
                 self.trace_id, time.time(), attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            self._set_property(s.span_id)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()
                self._set_property(self._stack[-1].span_id if self._stack else None)

    def _set_property(self, value: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, value)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        return span.seconds - covered(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "trace_id": s.trace_id, "span_id": s.span_id,
                    "parent_id": s.parent_id, "name": s.name,
                    "start": s.start, "end": s.end, "self_s": self.self_seconds(s),
                    "attrs": s.attrs,
                }) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- event log ---------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    span_id: str | None
    start: float
    end: float = 0.0
    stage_ids: tuple = ()


@dataclass
class Task:
    stage_id: int
    duration: float  # launch -> finish, seconds
    overhead: float  # scheduler delay + deserialize + result serialize, seconds
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    python: bool


class EventLog:
    """Jobs and tasks from one Spark event-log file (JSON lines)."""

    def __init__(self, path: Path):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get(SPAN_PROPERTY),
                        ev["Submission Time"] / 1000.0,
                        stage_ids=tuple(ev.get("Stage IDs", ())))
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task(ev))
        self._stage_job = {s: j.job_id for j in self.jobs.values() for s in j.stage_ids}

    def jobs_of(self, span_ids: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span_id in span_ids]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.job_id for j in jobs}
        return [t for t in self.tasks if self._stage_job.get(t.stage_id) in ids]


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    duration = max(info["Finish Time"] - info["Launch Time"], 0) / 1000.0
    deser = m.get("Executor Deserialize Time", 0)
    run = m.get("Executor Run Time", 0)
    ser = m.get("Result Serialization Time", 0)
    getting = info.get("Getting Result Time", 0)
    sched = max(info["Finish Time"] - info["Launch Time"] - deser - run - ser - getting, 0)
    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    python = any("Python" in (a.get("Name") or "") for a in info.get("Accumulables", ()))
    return Task(ev["Stage ID"], duration, (sched + deser + ser) / 1000.0, sw,
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0), python)


def span_ids_under(tracer: Tracer, root: Span) -> set[str]:
    ids, frontier = {root.span_id}, [root]
    while frontier:
        kids = [s for s in tracer.spans if s.parent_id in {f.span_id for f in frontier}]
        ids.update(k.span_id for k in kids)
        frontier = kids
    return ids


def job_stats(log: EventLog, tracer: Tracer, root: Span) -> dict:
    """Jobs, tasks, shuffle bytes, task overhead and driver gap (span
    wall not covered by any of its jobs) for ``root`` and its children."""
    jobs = log.jobs_of(span_ids_under(tracer, root))
    tasks = log.tasks_of(jobs)
    busy = covered([(j.start, j.end) for j in jobs], root.start, root.end)
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "python_tasks": sum(t.python for t in tasks),
        "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "task_overhead_s": sum(t.overhead for t in tasks),
        "driver_gap_s": max(root.seconds - busy, 0.0),
        "task_durations": [t.duration for t in tasks if t.shuffle_read_bytes > 0],
    }


def find_event_log(directory: Path) -> Path:
    logs = [p for p in directory.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(logs)}")
    return logs[0]


# --- memory ------------------------------------------------------------------

def _processes(root: int) -> list[tuple[int, bytes]]:
    """(pid, command line) of ``root`` and all its descendants, leaving
    out a child that still runs its parent's command line: a process the
    JVM has forked to launch another program but that has not exec'd it
    yet shares the JVM's memory, and its RSS would count the heap twice."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, frontier = [], [(root, None)]
    while frontier:
        pid, parent_cmd = frontier.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if cmd != parent_cmd or _is_worker(cmd):
            out.append((pid, cmd))
        frontier.extend((c, cmd) for c in children.get(pid, ()))
    return out


def _is_worker(cmd: bytes) -> bool:
    return b"pyspark.daemon" in cmd or b"pyspark/daemon" in cmd


def _mem_mb(pid: int, cmd: bytes) -> float:
    """Resident MB of one process, 0 if it is gone. Python workers are
    forked from one daemon and share most of their pages with it, so they
    count by PSS (shared pages split among the processes sharing them);
    the others count by RSS, which for the JVM is cheap to read where its
    PSS (a walk of a multi-GB heap's page tables) is not."""
    try:
        if _is_worker(cmd):
            with open(f"/proc/{pid}/smaps_rollup") as f:
                return next(int(line.split()[1]) for line in f if line.startswith("Pss:")) / 1024
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, StopIteration, IndexError, ValueError):
        return 0.0


class MemorySampler:
    """Samples the summed memory (see ``_mem_mb``) of this process and all
    its descendants (the driver JVM and its Python workers) every
    ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = workers = 0.0
        for pid, cmd in _processes(os.getpid()):
            mb = _mem_mb(pid, cmd)
            total += mb
            workers += mb if _is_worker(cmd) else 0.0
        self.peak_mb = max(self.peak_mb, total)
        self.worker_peak_mb = max(self.worker_peak_mb, workers)

    def reset_worker_peak(self) -> None:
        self.worker_peak_mb = 0.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
