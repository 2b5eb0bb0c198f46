"""Spans around the package's public calls, with Spark's cost per span.

A span has a name, a start, an end and a parent span.  Each span runs its
Spark work under a job group of its own, so after the run the status
store (which works with the UI off) attributes every job, stage, task,
shuffle byte and spilled byte to exactly one span: the innermost one that
was open on the thread that submitted the job.  Spans are kept in memory
and summarized once the timed work is over.

With ``enabled=False`` every call is a no-op, so workloads use the same
code for the untraced (end-to-end) and traced (per-layer) runs.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field

STAT_KEYS = ("jobs", "stages", "tasks", "executor_run_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.main_thread()
        self.self_time_s = 0.0  # time spent in the tracer's own bookkeeping

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._stacks, "s"):
            self._stacks.s = []
        return self._stacks.s

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        # a worker thread's first span hangs under the span open on the
        # main thread: that is the call that started the thread
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), name, parent.id if parent else None, 0.0,
                  attrs=attrs)
        with self._lock:
            self.spans.append(sp)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"pb-{sp.id}", name)
        stack.append(sp)
        sp.start = time.perf_counter()
        self.self_time_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if attrs.get("unit"):
                sp.attrs["cached_bytes_left"] = self.cached_bytes()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self.self_time_s += time.perf_counter() - sp.end

    def cached_bytes(self) -> int:
        """Bytes of cached RDD blocks the session holds right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def collect_stats(self) -> None:
        """Attach each span's own Spark cost (jobs of its job group only)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for sp in self.spans:
            st = dict.fromkeys(STAT_KEYS, 0)
            for job in tracker.getJobIdsForGroup(f"pb-{sp.id}"):
                st["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    st["stages"] += 1
                    st["tasks"] += sd.numTasks()
                    st["executor_run_s"] += sd.executorRunTime() / 1000.0
                    st["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sp.stats = st
        self.self_time_s += time.perf_counter() - t0

    # ---------------------------------------------------------- summaries

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_s(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover (children
        on worker threads may overlap each other)."""
        return sp.dur - union_s((max(c.start, sp.start), min(c.end, sp.end))
                                for c in self.children(sp))

    def inclusive(self, sp: Span) -> dict:
        """Spark cost of the span and every span below it."""
        tot = dict(sp.stats)
        for c in self.children(sp):
            for k, v in self.inclusive(c).items():
                tot[k] += v
        return tot

    def descendants(self, sp: Span) -> list[Span]:
        out = []
        for c in self.children(sp):
            out.append(c)
            out.extend(self.descendants(c))
        return out

    def dump(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "start_s": s.start - t0, "end_s": s.end - t0,
             "self_s": self.self_s(s), **s.attrs, **s.stats}
            for s in self.spans
        ]


def union_s(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@contextlib.contextmanager
def traced_snapshots(tracer: Tracer):
    """Wrap ``SnapshotTable.commit/read/compact`` in spans for the duration
    of the block (traced runs only); the originals are restored after."""
    from webindex_spark.sources.snapshots import SnapshotTable

    if not tracer.enabled:
        yield
        return
    orig = {m: getattr(SnapshotTable, m) for m in ("commit", "read", "compact")}

    def wrap(method):
        fn = orig[method]

        def traced(self, *args, **kw):
            with tracer.span(f"snapshots.{method}", table=self.name) as sp:
                out = fn(self, *args, **kw)
                if method == "read":
                    man = self.manifest(args[1] if len(args) > 1 else kw.get("snapshot"))
                    sp.attrs["segments"] = len(man.get("segments") or [1])
                elif method in ("commit", "compact"):
                    sp.attrs["bytes_written"] = _snapshot_bytes(self.dir, out)
                return out
        return traced

    for m in orig:
        setattr(SnapshotTable, m, wrap(m))
    try:
        yield
    finally:
        for m, fn in orig.items():
            setattr(SnapshotTable, m, fn)


def _snapshot_bytes(table_dir: str, sid: int) -> int:
    import os

    total = 0
    for d in (f"snap-{sid:05d}", f"snap-{sid:05d}-deletes"):
        for root, _dirs, files in os.walk(os.path.join(table_dir, d)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
