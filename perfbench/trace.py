"""Spans, self time, Spark event-log counters and process-tree RSS sampling.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, run id), kept in memory and written out as JSON
lines when the run ends.  A span's self time is its duration minus the part
of that interval covered by its children.

Spark counters come from the event log (``spark.eventLog.enabled``): each
job carries the job group the benchmark set before calling the layer, and
each task-end event carries its task metrics.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Spark counters reported per layer
COUNTERS = ("tasks", "task_cpu_s", "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block; tag its Spark jobs with ``group`` (default ``name``)."""
        parent = self._stack[-1] if self._stack else None
        if self.sc is not None:
            self.sc.setJobGroup(group or name, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.run_id))
            if self.sc is not None:
                self.sc.setJobGroup(parent or "bench", parent or "bench")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """name -> summed self time (duration minus the union of its children,
    clipped to the parent's interval)."""
    out: dict[str, float] = {}
    for p in spans:
        kids = [
            (max(c.start, p.start), min(c.end, p.end))
            for c in spans
            if c.parent == p.name and c.run_id == p.run_id and c is not p
        ]
        kids = [(s, e) for s, e in kids if e > s]
        out[p.name] = out.get(p.name, 0.0) + (p.end - p.start) - _covered(kids)
    return out


def parse_event_log(path: str, layer_of) -> dict[str, dict[str, float]]:
    """Sum task metrics per layer from a Spark JSON event log.

    ``layer_of(job_group) -> layer name or None``; jobs whose group maps to
    None are ignored.  Returns layer -> {counter: value, "jobs": n}.
    """
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(layer: str) -> dict[str, float]:
        return out.setdefault(layer, {c: 0.0 for c in (*COUNTERS, "jobs")})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = layer_of(group) if group else None
                if layer is None:
                    continue
                bucket(layer)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(int(sid), layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(int(ev.get("Stage ID", -1)))
                m = ev.get("Task Metrics")
                if layer is None or not m:
                    continue
                b = bucket(layer)
                b["tasks"] += 1
                b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                b["shuffle_fetch_wait_s"] += (
                    m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                )
                b["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, read from /proc."""
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
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the peak RSS of this process tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
