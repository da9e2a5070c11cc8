"""In-memory spans and the process-tree RSS sampler.

A span is (name, start, end, parent, run id) plus free attributes; the
tracer keeps them in memory and the caller writes them out when the
run ends. Self time is a span's duration minus the part of its
interval that its child spans cover.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = dict(id=len(self.spans), name=name, run_id=self.run_id,
                   parent=self._stack[-1] if self._stack else None,
                   start=time.perf_counter(), end=None, attrs=attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, children: list[dict]) -> float:
    """``span``'s duration minus the union of its children's intervals,
    each clipped to the span (overlapping children count once)."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(span) - covered


class RssSampler:
    """Peak summed RSS of every descendant process of ``root_pid`` (the
    Spark driver JVM, the Python worker daemon and its workers), read
    from /proc every ``interval`` seconds while ``active`` is set. The
    benchmark's own interpreter is not counted."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.active = threading.Event()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-rss")

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def descendants(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # the command name may hold spaces: ppid follows the ')'
            parent[int(d)] = int(stat.rsplit(b")", 1)[1].split()[1])
        kids: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], list(kids.get(self.root_pid, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def cpu_seconds(self) -> float:
        """User + system CPU of the descendant processes, including the
        children they have reaped (Python workers that exited), less
        the JVM's JIT compiler threads: compilation is warm-up work whose
        amount and timing vary from run to run."""
        tick = os.sysconf("SC_CLK_TCK")
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    f = fh.read().rsplit(b")", 1)[1].split()
                total += sum(int(x) for x in f[11:15])
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/stat", "rb") as fh:
                        name, rest = fh.read().split(b"(", 1)[1].rsplit(
                            b")", 1)
                    if name.startswith((b"C1 Compiler", b"C2 Compiler")):
                        total -= sum(int(x) for x in rest.split()[11:13])
            except (OSError, IndexError, ValueError):
                continue
        return total / tick

    def sample(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak_bytes = max(self.peak_bytes, self.sample())
