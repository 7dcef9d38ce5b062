"""Spans, Spark scheduler counters and the /proc memory sampler.

Everything here observes the program from outside: spans wrap calls
into the library's public functions, the scheduler counters come from
``SparkContext.statusTracker()`` under one job group per timed call, and
memory is read from ``/proc`` (psutil is not installed).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int
    id: int
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        """The layer a span belongs to: its name minus the last dotted
        part (``index.filteridx.plan`` -> ``index.filteridx``)."""
        head, _, _ = self.name.rpartition(".")
        return head or self.name


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a >= b:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer: each span's duration minus the part of
    its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` records nothing, so
    untraced units pay no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []
        self.request = 0

    @contextmanager
    def span(self, name: str):
        """Record the block as a span; yields a dict of attributes the
        caller may fill, kept with the span."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.request, sid, attrs))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class CallCounts:
    jobs: int
    stages: int
    tasks: int


class SparkCounters:
    """Jobs, stages and tasks per timed call, one job group per call."""

    def __init__(self, sc):
        self.sc = sc
        self._n = itertools.count()

    @contextmanager
    def group(self, counts: list[CallCounts]):
        """Run the block under a fresh job group and append its counts."""
        gid = f"perfbench-{next(self._n)}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    sinfo = tracker.getStageInfo(st)
                    if sinfo is not None:
                        stages += 1
                        tasks += sinfo.numTasks
            counts.append(CallCounts(len(jobs), stages, tasks))


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key, _, val = line.partition(":")
            out[key] = val.strip()
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc parent links."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_status(int(entry)).get("PPid", "0"))
        except (OSError, ValueError):
            continue  # process ended while listing
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory summed over this process, the JVM and the
    Python workers: the highest VmHWM seen per pid, sampled on a
    background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._lock = threading.Lock()  # the thread and the caller both sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                hwm = int(_status(pid)["VmHWM"].split()[0])
            except (OSError, KeyError, ValueError):
                continue  # ended, or a kernel thread without memory
            with self._lock:
                self.peak_kb[pid] = max(hwm, self.peak_kb.get(pid, 0))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
