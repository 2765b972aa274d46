"""Spans, Spark job groups, event-log folding and memory sampling.

The benchmark records one span per call into the engine's public API. A
span carries a name, start and end (monotonic seconds), its parent span
and the run id; spans live in memory and are written once at the end of
the run. In the traced run every span also tags the Spark jobs it starts
with a job group named after the span, and after the session stops the
event log's ``TaskEnd`` records are folded per job group. ``count_calls``
counts the engine's calls into its canonical edge forms.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Span recorder. ``sc`` set means the run is traced: each span then
    sets the Spark job group of the jobs it starts."""

    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.set_group(name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.spans.append(
                Span(name, t0, time.monotonic(), parent, self.run_id)
            )
            self._stack.pop()
            self.set_group(parent or "")

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@contextmanager
def count_calls(package: str, source: str, names: tuple[str, ...]):
    """Count calls to the functions ``names`` of module ``source`` made
    while the block runs. Modules bind such functions by name at import,
    so the binding in ``source`` and in every loaded module of ``package``
    is wrapped (modules imported inside the block bind the wrapper), and
    every wrapped binding is restored afterwards. Yields a Counter by
    name."""
    src = sys.modules[source]
    calls: Counter = Counter()
    originals = {}

    def counting(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        originals[wrapper] = fn
        return wrapper

    def modules():
        return [
            m for m in list(sys.modules.values())
            if m is not None and getattr(m, "__name__", "").startswith(package + ".")
        ]

    wrappers = {name: counting(name, getattr(src, name)) for name in names}
    for mod in modules():
        for name, w in wrappers.items():
            if getattr(mod, name, None) is originals[w]:
                setattr(mod, name, w)
    try:
        yield calls
    finally:
        for mod in modules():
            for name, w in wrappers.items():
                if getattr(mod, name, None) is w:
                    setattr(mod, name, originals[w])


@dataclass
class GroupCounters:
    jobs: int = 0
    run_s: float = 0.0  # executor run time, summed over tasks
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(directory: str) -> dict[str, GroupCounters]:
    """Fold every event log under ``directory`` into per-job-group
    counters (tasks of jobs started without a group land under "")."""
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    out[grp].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    c = out[stage_group.get(ev["Stage ID"], "")]
                    c.run_s += m.get("Executor Run Time", 0) / 1e3
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    w = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
    return dict(out)


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks Python workers
    from its task threads, not from its main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of a process tree (the Spark JVM and the Python
    workers it forks), polled from ``/proc`` on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = process_tree(self.root_pid)
            self.seen.update(pids)
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
