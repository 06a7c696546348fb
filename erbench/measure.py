"""Measurement helpers for the ER benchmark: percentiles with their sample
counts, a process-tree peak-RSS sampler that reads ``/proc``, an in-memory
span recorder with self time, and an order-insensitive result hash."""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import NamedTuple


# -- percentiles ---------------------------------------------------------------


class Percentile(NamedTuple):
    value: float
    #: samples the percentile was taken over
    n: int
    #: samples strictly above the value
    above: int


def percentile(values: Iterable[float], q: float) -> Percentile:
    """The ``q``-th percentile (0-100) by linear interpolation between the
    closest ranks, with the sample count and the number of samples above it
    (a percentile is only trustworthy with about ten samples beyond it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return Percentile(value, len(xs), sum(x > value for x in xs))


def median(values: Iterable[float]) -> float:
    return percentile(values, 50).value


# -- process-tree resident memory ---------------------------------------------

PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _parent_map(proc: str) -> dict[int, int]:
    """pid -> parent pid for every process visible under ``proc``."""
    out: dict[int, int] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # "pid (comm) state ppid ..."; comm may hold spaces and parentheses
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map(proc).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return sorted(out)


def tree_rss(root: int, proc: str = "/proc") -> dict[int, int]:
    """pid -> resident set size in bytes, for ``root`` and its descendants.
    Pages a forked Python worker still shares with its daemon count once
    per process, as RSS always does."""
    out = {}
    for pid in tree_pids(root, proc):
        try:
            with open(os.path.join(proc, str(pid), "statm")) as f:
                out[pid] = int(f.read().split()[1]) * PAGE_SIZE
        except (OSError, IndexError, ValueError):  # exited, or a kernel thread
            continue
    return out


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    """Summed resident set size of ``root`` and its descendants."""
    return sum(tree_rss(root, proc).values())


class PeakRss:
    """Samples the resident memory of a process tree (driver Python, the
    JVM and its Python workers) every ``interval_s`` seconds on one daemon
    thread and keeps two peaks: of the whole tree, and of the tree without
    the pids in ``exclude``. A tick reads two small ``/proc`` files per
    process, about 2 ms for a hundred processes."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1, proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.proc = proc
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self.peak_kept_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        rss = tree_rss(self.root, self.proc)
        total = sum(rss.values())
        kept = sum(v for pid, v in rss.items() if pid not in self.exclude)
        self.peak_bytes = max(self.peak_bytes, total)
        self.peak_kept_bytes = max(self.peak_kept_bytes, kept)
        self.samples += 1
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    #: id of the enclosing span, None at the top
    parent: int | None
    #: spans of one pipeline repetition share this identifier
    trace: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Keeps spans in memory; ``write`` saves them when the run ends.

    Single-threaded by design: wrapped calls all happen on the Spark driver's
    main thread, so one stack of open spans gives every span its parent."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.trace = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, self.clock(), math.nan, parent, self.trace))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = self.clock()

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def add(self, counter: str, amount: float = 1) -> None:
        self.counters[counter] = self.counters.get(counter, 0) + amount

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - covered(kids, span.start, span.end)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "counters": self.counters},
                f,
            )


# -- result hash -----------------------------------------------------------------


def result_hash(rows: Iterable[Iterable]) -> str:
    """md5 over the sorted ``repr`` of rows, each row's members sorted too:
    equal for two results that hold the same clusters in any order."""
    lines = sorted(repr(sorted(r)) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()
