"""Spans around the benchmark's calls into a layer, and a /proc memory
sampler.

A ``Tracer`` keeps its spans in memory. When enabled, each span also runs
its calls under a Spark job group of its own, ``<layer>|<pass>|<seq>``,
so the event-log parser (``eventlog.py``) can charge every Spark job,
stage and task to the span that launched it. A disabled tracer times
nothing and sets no job group: the untraced passes run the calls bare.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time


class Tracer:
    def __init__(self, sc, enabled: bool):
        self._sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_label = "setup"
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """Record ``name`` as a span of ``layer``; its Spark jobs run in the
        span's own job group. Nested spans restore the enclosing group."""
        if not self.enabled:
            yield None
            return
        rec = {
            "layer": layer, "name": name, "pass": self.pass_label,
            "group": f"{layer}|{self.pass_label}|{len(self.spans)}",
            "parent": self._stack[-1]["group"] if self._stack else None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], f"{layer}: {name}")
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self._sc.setJobGroup(outer["group"], f"{outer['layer']}: {outer['name']}")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def interpose(self, module, attr: str, layer: str, name: str):
        """While the context is open, run every call the library makes to
        ``module.attr`` under a span. This reaches a layer the pipeline
        calls internally (the eager ``source_idf_map`` collect inside a
        ``construct_kg`` call) without changing the library's code."""
        if not self.enabled:
            yield
            return
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer, name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)


def _children(pid: int) -> list[int]:
    # a JVM forks from many threads; each thread lists its own children
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> tuple[float, float]:
    """Resident memory of ``root_pid`` and of all its descendants, in MiB."""
    root, total, todo = _rss_kb(root_pid), 0, _children(root_pid)
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return root / 1024.0, total / 1024.0


class RssSampler:
    """Samples the resident memory of a process tree (the Spark driver JVM
    with the Python workers it forks) on a background thread and keeps
    the peak of the root process and the peak of its descendants since the
    last ``take``. Use as a context manager; the thread is joined on exit."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self._pid = root_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()
        self.peak_root_mb = self.peak_children_mb = 0.0

    def _sample(self) -> None:
        root, children = tree_rss_mb(self._pid)
        with self._lock:
            self.peak_root_mb = max(self.peak_root_mb, root)
            self.peak_children_mb = max(self.peak_children_mb, children)

    def take(self) -> tuple[float, float]:
        """The peaks since the previous ``take`` (or the start), in MiB;
        starts a new window from the current sample."""
        root, children = tree_rss_mb(self._pid)
        with self._lock:
            peaks = (max(self.peak_root_mb, root), max(self.peak_children_mb, children))
            self.peak_root_mb, self.peak_children_mb = root, children
        return peaks

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
