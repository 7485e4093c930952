"""Benchmark-side spans and resident-memory sampling.

``Tracer`` records a span (layer name, start, end, op id, enclosing
span's layer) around each call the benchmark makes into a layer's public
function; it can also wrap a module attribute so calls the package makes
internally (``run_pipeline`` calling ``io.write_run_partition``) are timed
from outside. Spans stay in memory until the run ends.

``RssSampler`` polls ``/proc`` for the summed resident set of every
process descended from this one: the driver JVM, the PySpark daemon and
its Python workers.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        #: (layer, start, end, op id, enclosing span's layer or None)
        self.spans: list[tuple[str, float, float, str, str | None]] = []
        self.counts: list[tuple[str, float, str]] = []
        self.op = ""
        self._open: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        parent = self._open[-1] if self._open else None
        self._open.append(layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append((layer, t0, time.perf_counter(), self.op, parent))

    def count(self, name: str, value: float) -> None:
        self.counts.append((name, value, self.op))

    def wrap(self, module, attr: str, layer: str, enter=None, leave=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper until
        :meth:`unwrap`; ``enter``/``leave`` run around the call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if enter is not None:
                enter()
            try:
                with self.span(layer):
                    return orig(*args, **kwargs)
            finally:
                if leave is not None:
                    leave()

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def totals(self, ops: set[str]) -> dict[str, float]:
        """Summed span seconds per layer, and summed counts per name, over
        the given op ids."""
        out: dict[str, float] = defaultdict(float)
        for layer, t0, t1, op, _ in self.spans:
            if op in ops:
                out[layer] += t1 - t0
        for name, value, op in self.counts:
            if op in ops:
                out[name] += value
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids = _children()
    out: list[int] = []
    stack = list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def descendants_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants, sampled every
    ``interval`` seconds on a daemon thread between start() and stop()."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
