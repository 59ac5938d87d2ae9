"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded from the benchmark's side only: ``Tracer.wrap`` swaps
a module attribute or class method for a timing wrapper.  The program
itself is never edited.

A span is ``(id, name, start, end, thread, parent)``.  The parent is the
innermost open span on the same thread; a span opened on a thread with
no open span (the engine's commit and plan fan-out threads) takes the
innermost open span of the main thread, so an async commit is attributed
to the wave that launched it.  Spans are kept only between ``on()`` and
``off()`` (the timed region), so set-up and oracle checks leave none.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    thread: str
    parent: int | None
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._next = 0
        self.recording = False

    def on(self) -> None:
        self.recording = True

    def off(self) -> None:
        self.recording = False

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> tuple:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        return sid, name, time.time(), parent

    def end(self, token: tuple, info: dict | None = None) -> None:
        sid, name, t0, parent = token
        t1 = time.time()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        if not self.recording:
            return
        sp = Span(sid, name, t0, t1, threading.current_thread().name,
                  parent, info or {})
        with self._lock:
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_result(args, kwargs, result, info)`` may add fields to the
        span's info dict (counts measured where the work happens)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tok = tracer.begin(name)
            info: dict = {}
            try:
                res = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(args, kwargs, res, info)
                return res
            finally:
                tracer.end(tok, info)

        setattr(owner, attr, wrapper)

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def within(self, name: str, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and t0 <= s.start < t1]

    def total(self, name: str, t0: float = float("-inf"),
              t1: float = float("inf")) -> float:
        return sum(s.dur for s in self.within(name, t0, t1))


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
@dataclass
class Task:
    stage: int
    attempt: int
    launch: float        # epoch seconds
    finish: float
    run_s: float         # executor run time
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    jobs: list[dict] = field(default_factory=list)   # id, submit, group
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict = field(default_factory=dict)    # stage id -> job id

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs if t0 <= j["submit"] < t1]

    def tasks_in(self, t0: float, t1: float) -> list[Task]:
        return [t for t in self.tasks if t0 <= t.launch < t1]

    def tasks_of_group(self, group: str) -> list[Task]:
        job_ids = {j["id"] for j in self.jobs if j["group"] == group}
        return [t for t in self.tasks
                if self.stage_job.get(t.stage) in job_ids]


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage=ev.get("Stage ID", -1), attempt=ev.get("Stage Attempt ID", 0),
        launch=info.get("Launch Time", 0) / 1000.0,
        finish=info.get("Finish Time", 0) / 1000.0,
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def _log_files(log_dir: str) -> list[str]:
    """Event files in write order: a plain log file per application, or
    the ``eventlog_v2_*/events_<n>_*`` parts of a rolling log."""
    def order(path):
        name = os.path.basename(path)
        part = name.split("_")[1] if name.startswith("events_") else "0"
        return (os.path.dirname(path), int(part) if part.isdigit() else 0)
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith((".", "appstatus"))]
    return sorted(files, key=order)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the uncompressed event log Spark wrote under ``log_dir``."""
    out = EventLog()
    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = {"id": ev["Job ID"],
                         "submit": ev.get("Submission Time", 0) / 1000.0,
                         "group": props.get("spark.jobGroup.id")}
                    out.jobs.append(j)
                    for sid in ev.get("Stage IDs", []):
                        out.stage_job[sid] = j["id"]
                elif kind == "SparkListenerTaskEnd":
                    out.tasks.append(_task(ev))
    return out


def stage_skew_max(tasks: list[Task], min_tasks: int = 4) -> float:
    """Largest max/mean executor-run-time ratio over stages that ran at
    least ``min_tasks`` tasks with nonzero run time (1.0 = no skew)."""
    by_stage: dict[tuple, list[float]] = {}
    for t in tasks:
        by_stage.setdefault((t.stage, t.attempt), []).append(t.run_s)
    worst = 1.0
    for runs in by_stage.values():
        if len(runs) < min_tasks:
            continue
        mean = sum(runs) / len(runs)
        if mean > 0:
            worst = max(worst, max(runs) / mean)
    return worst


def busy_core_s(tasks: list[Task], t0: float, t1: float) -> float:
    """Task wall seconds overlapping the window [t0, t1)."""
    return sum(max(0.0, min(t.finish, t1) - max(t.launch, t0)) for t in tasks)
