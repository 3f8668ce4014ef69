"""Spans around the benchmark's calls into the program, and an RSS
sampler over the driver's process tree.

A span records name, start, end, parent and span id.  While tracing is
on, the Spark jobs a span starts are tagged with
``setJobGroup(span_id, name)``, so the SQL executions and stages under
a span can be found afterwards (harvest.py).  Spans stay in memory
until ``Tracer.dump`` writes them as JSON at the end of the run.
With tracing off, ``span`` only times its body.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of later spans through this session's context.  When
        tracing, plan strings also keep whole file paths (Spark cuts a
        scan's location to 100 characters by default), so that scans can
        be told apart by table wherever the checkout lies."""
        self._sc = spark.sparkContext
        if self.enabled:
            spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

    def _tag(self, span: Span | None) -> None:
        if self._sc is None or not self.enabled:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.span_id if parent else None, time.time(), attrs=attrs)
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def dump(self, path: str, layers: dict, executions: list) -> None:
        """Write spans, layer metrics and the traced run's SQL executions."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "layers": layers, "executions": executions}, f, indent=1
            )


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return b""


def _rss_bytes(pid: int) -> int:
    statm = _read(f"/proc/{pid}/statm").split()
    return int(statm[1]) * os.sysconf("SC_PAGE_SIZE") if len(statm) > 1 else 0


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of ``root`` (not ``root`` itself):
    for this process, the driver JVM, its Python daemon and workers.

    A JVM starts a subprocess (a Python daemon, or the shell commands
    Hadoop's local file system runs) through a child that shares the
    JVM's memory until it execs; that child still shows the JVM's
    command line and RSS, so it is skipped rather than counted twice."""
    kids = _children_map()
    total, todo = 0, [(p, b"") for p in kids.get(root, [])]
    while todo:
        pid, parent_cmd = todo.pop()
        cmd = _read(f"/proc/{pid}/cmdline")
        if cmd and cmd == parent_cmd and b"java" in cmd.split(b"\0", 1)[0]:
            continue
        total += _rss_bytes(pid)
        todo.extend((c, cmd) for c in kids.get(pid, []))
    return total


class RssSampler:
    """Samples ``tree_rss_bytes(os.getpid())`` on one thread while a
    ``window()`` is open and keeps the peak of each window."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(0.2):
                rss = tree_rss_bytes(me)
                with self._lock:
                    self._peak = max(self._peak, rss)
                self._stop.wait(self.interval_s)

    @contextmanager
    def window(self):
        """Yields a callable returning the window's peak RSS in bytes."""
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())
        self._active.set()
        try:
            yield lambda: self._peak
        finally:
            self._active.clear()
            with self._lock:
                self._peak = max(self._peak, tree_rss_bytes(os.getpid()))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
