"""Spans and per-layer counters for traced runs.

Spans are recorded from outside the package: the benchmark wraps the
public entry points of each module (and passes a timing sink as the
pipeline's ``sink=``). A span holds name, start, end, parent span and
request id; spans stay in memory and are written out when the run ends.
Untraced runs install nothing, so their end-to-end numbers carry no
tracing cost.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, req)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, req: str | None) -> None:
        self._local.req = req

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanning wrapper (undone by
        :meth:`unwrap_all`)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries ---------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self.spans if s[1] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children (children of one span do not overlap: they run
        on the parent's thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s[4] is not None:
                child_time[s[4]] = child_time.get(s[4], 0.0) + s[3] - s[2]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s[1]] = out.get(s[1], 0.0) + (s[3] - s[2]) - child_time.get(
                s[0], 0.0)
        return out

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of one span (enter + exit + record), used to
        state the tracing overhead of a run."""
        probe = Tracer()
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t) / n

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, start, end, parent, req in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "request": req}) + "\n")


class _Span:
    __slots__ = ("tr", "name", "sid", "parent", "start")

    def __init__(self, tr: Tracer, name: str):
        self.tr = tr
        self.name = name

    def __enter__(self):
        st = self.tr._stack()
        self.parent = st[-1] if st else None
        self.sid = next(self.tr._ids)
        st.append(self.sid)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        self.tr._stack().pop()
        req = getattr(self.tr._local, "req", None)
        with self.tr._lock:
            self.tr.spans.append(
                (self.sid, self.name, self.start, end, self.parent, req))
        return False


def descendants() -> list[int]:
    """Pids of every live descendant of this process (the JVM, Spark's
    Python workers), from the parent links in /proc."""
    me = os.getpid()
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(
                        f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # exited meanwhile
    out = []
    for pid in parent:
        q = pid
        while q not in (0, 1, me):
            q = parent.get(q, 0)
        if q == me and pid != me:
            out.append(pid)
    return out


def dir_files(root: str) -> dict[str, int]:
    """Data files under ``root`` (hidden and ``_`` entries skipped, as
    the parquet reader does): relative path → size."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_")) or "=" in x]
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # removed by a concurrent merge
    return out


class TimingSink:
    """Wraps the built-in index sink: times each ``write_route`` and
    diffs the route directory to count rewritten buckets, files and
    bytes written."""

    name = "timing"

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.writes: list[dict] = []

    def write_route(self, pipeline, route, df, epoch_id):
        root = os.path.join(pipeline.cfg.index_root, route)
        before = dir_files(root)
        t = time.perf_counter()
        with self.tracer.span("sink.write_route"):
            self.inner.write_route(pipeline, route, df, epoch_id)
        dt = time.perf_counter() - t
        after = dir_files(root)
        new = {k: v for k, v in after.items() if before.get(k) != v}
        gone = set(before) - set(after)
        buckets = {k.split(os.sep)[0] for k in list(new) + list(gone)}
        self.writes.append({
            "epoch": epoch_id, "route": route, "s": dt,
            "buckets": len(buckets), "files": len(new),
            "bytes": sum(new.values()),
        })


def spark_job_counts(sc, group: str | None) -> tuple[int, int]:
    """(jobs, tasks) the status tracker holds for a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is not None:
                tasks += s.numTasks
    return len(jobs), tasks


def median(xs, default: float = 0.0) -> float:
    return statistics.median(xs) if xs else default
