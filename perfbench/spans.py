"""Span tracer, Spark event-log reader and process-tree RSS sampler.

Spans are kept in memory (name, start, end, parent) and written out once,
when the run ends.  While a span is open, every Spark job it starts carries
the job group ``"<span id>:<span name>"``, so the event log attributes tasks,
GC, spill and shuffle bytes to the layer that caused them.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans with Spark job-group tagging."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, s: Span | None) -> None:
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{s.sid}:{s.name}", s.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span never overlap: one thread opens them all)."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.dur
        return {s.sid: s.dur - covered[s.sid] for s in self.spans}

    def dump(self) -> list[dict]:
        st = self.self_times()
        return [dict(asdict(s), dur=s.dur, self=st[s.sid]) for s in self.spans]


@dataclass
class GroupStats:
    """Task counters of every Spark job tagged with one job group."""

    jobs: int = 0
    task_ms: list = field(default_factory=list)
    run_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    bytes_read: int = 0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0

    def add(self, other: GroupStats) -> None:
        self.jobs += other.jobs
        self.task_ms += other.task_ms
        self.run_ms += other.run_ms
        self.gc_ms += other.gc_ms
        self.spill_bytes += other.spill_bytes
        self.bytes_read += other.bytes_read
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.failed_tasks += other.failed_tasks

    def skew(self) -> float:
        """Slowest task over the median task (1.0 = no skew)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


def read_event_log(log_dir: str) -> dict[str | None, GroupStats]:
    """Per-job-group task counters from the uncompressed Spark event logs
    under ``log_dir`` (JSON lines; the application must have stopped so
    the logs are complete)."""
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if f.startswith(("events_", "local-"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stats[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = stats[stage_group.get(ev.get("Stage ID"))]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.failed_tasks += bool(info.get("Failed", False))
    return dict(stats)


def _children(pid: int) -> list[int]:
    """Direct children of ``pid`` (Linux /proc/<pid>/task/*/children)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree() -> list[int]:
    """This process and every descendant (the JVM and its Python workers)."""
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(_children(pid))
    return tree


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped children included.  Time the hypervisor gives to
    other guests is not charged to a process, so unlike wall time this
    does not grow with the host's CPU steal."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the JVM
    and its Python workers) on a background thread.  Keeps the peak and
    every descendant pid seen, so the run can wait for each to end."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        tree = process_tree()
        self.seen.update(tree[1:])
        self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in tree))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def alive(self) -> set[int]:
        """Descendants seen during the run that still exist."""
        return {p for p in self.seen if os.path.exists(f"/proc/{p}")}
