"""Spans, Spark event-log counters and process memory, all read from
outside the engine.

A span is one call into a layer: name, start, end, parent and run id.
Each span also sets a Spark job group, so every job the call submits is
attributed to it in the event log. Spans live in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    phase: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in the phase named by ``phase``; with ``phase`` None
    every span is a no-op.

    In the "plain" phase only top-level spans are recorded: one per
    operation, enough to attribute its jobs at almost no cost. In any
    other phase every span is."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.phase: str | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}/{span.span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        if self.phase is None or (self._stack and self.phase == "plain"):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None,
                 self.run_id, self.phase, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group_id(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group_id(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(c.seconds for c in self.spans if c.parent == span.span_id)
        return span.seconds - kids

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({
                "spans": [vars(s) for s in self.spans],
                **extra,
            }, f, indent=1, default=str)


class EventLog:
    """Detaches and re-attaches the session's event-log listener, so
    passes with and without the event log run in one session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._listener = sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on == self.on:
            return
        if on:
            self._bus.addToEventLogQueue(self._listener)
        else:
            # drains the events already posted, then stops the queue
            self._bus.removeListener(self._listener)
        self.on = on


@dataclass
class JobCounters:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> (task count, RDD scope names) for stage-shape questions
    stages: dict = field(default_factory=dict)

    def add(self, other: "JobCounters") -> None:
        for k in ("jobs", "tasks", "failed_tasks", "run_s", "gc_s", "input_bytes",
                  "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.stages.update(other.stages)


def read_event_log(log_dir: str) -> dict[str, JobCounters]:
    """Job-group id -> counters summed over that group's jobs, from the
    Spark event log (JSON lines, written when the context stops)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, JobCounters] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    groups.setdefault(gid, JobCounters()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    gid = stage_group.get(info["Stage ID"])
                    if gid is None:
                        continue
                    scopes = set()
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            scopes.add(json.loads(scope).get("name", ""))
                    groups[gid].stages[info["Stage ID"]] = [info["Number of Tasks"], sorted(scopes)]
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    c = groups[gid]
                    c.tasks += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        c.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    c.run_s += m.get("Executor Run Time", 0) / 1000
                    c.gc_s += m.get("JVM GC Time", 0) / 1000
                    c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8", errors="replace") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        table[int(d)] = (int(rest.split()[1]), head.split("(", 1)[1])
    return table


def descendants(table: dict | None = None) -> list[int]:
    """Every live process started, directly or not, by this one."""
    table = _processes() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    Spark driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            table = _processes()
            # Only the JVM and Python processes: a JVM child that is being
            # spawned shares the JVM's memory until it execs, and would
            # count it twice.
            me = os.getpid()
            total = sum(_rss_bytes(p) for p in descendants(table)
                        if table[p] == (me, "java") or table[p][1].startswith("python"))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
