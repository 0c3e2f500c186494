"""Spans, sample statistics and a process-tree memory sampler.

Spans are recorded only here, around the benchmark's calls into each
layer of the package; the package itself is not instrumented.  They
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A span holds its name, start, end (ns
    since the tracer was created), parent span index and the run id.
    ``overhead_ns`` is the time spent recording spans, outside their
    bodies: the tracing cost a traced run pays."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_ns = 0
        self._stack: list[int] = []
        self._t0 = time.perf_counter_ns()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        enter = time.perf_counter_ns()
        rec = {
            "name": name,
            "start_ns": enter - self._t0,
            "end_ns": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.overhead_ns += time.perf_counter_ns() - enter
        try:
            yield rec
        finally:
            leave = time.perf_counter_ns()
            self._stack.pop()
            rec["end_ns"] = leave - self._t0
            self.overhead_ns += time.perf_counter_ns() - leave

    def elapsed_ns(self) -> int:
        return time.perf_counter_ns() - self._t0

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    returns (value, percentile, sample count), or (nan, nan, n) when the
    sample has ten or fewer values."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return float("nan"), float("nan"), n
    return float(xs[n - 11]), 100.0 * (n - 10) / n, n


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set size of a process and all its descendants (the
    Python process, the JVM and its Python workers)."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on a background thread; use as a
    context manager so the thread is always stopped and joined."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
