"""Outside-in spans for the traced run.

The benchmark wraps the public functions each layer exposes, at the
place where their caller looks them up, and restores them afterwards:
no tracing code lives in the package. Each span sets its own Spark job
group in the calling thread (so concurrent refresh folds and nested
spans never share a group), and on exit reads that group's stages from
the in-process status store: jobs, tasks, executor CPU, shuffle write,
spill, GC and output bytes. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = (
    "jobs", "tasks", "executor_cpu_ms", "shuffle_write_bytes",
    "spill_bytes", "gc_ms", "output_bytes",
)


class Patches:
    """Module attributes replaced for the run, put back by ``restore``."""

    def __init__(self):
        self._restore: list[tuple] = []

    def patch(self, module, attr: str, new) -> None:
        self._restore.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def restore(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)


class NoTracer(Patches):
    """The untraced run: spans cost nothing and record nothing."""

    spans: list = []
    overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def wrap(self, module, attr: str, name: str) -> None:
        pass


class Tracer(Patches):
    def __init__(self, spark, run_id: str):
        super().__init__()
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._seen_stages: set[int] = set()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread's first span hangs under the main thread's
        # innermost span (refresh_corpus submits its folds that way)
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sid = next(self._ids)
        rec = {"run": self.run_id, "id": sid, "parent": self._parent(), "name": name,
               "thread": threading.current_thread().name, **attrs}
        group = f"pb-{self.run_id}-{sid}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        stack = self._stack()
        stack.append(sid)
        book = time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            rec.update(self._counters(group))
            rec["s"] = rec["end"] - rec["start"]
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += book + time.perf_counter() - t1

    def _counters(self, group: str) -> dict:
        """Sum the group's stage metrics; each stage is counted once per
        run, by the first span that reads it (a stage reused by a later
        job shows up as skipped there)."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for stage in info.stageIds if info else ():
                with self._lock:
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # never submitted (skipped) or evicted
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["gc_ms"] += sd.jvmGcTime()
                out["output_bytes"] += sd.outputBytes()
        return out

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper until ``restore``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.patch(module, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Span wall time minus the part of its interval that the union of
    its children's intervals covers (children may overlap, as the
    refresh folds do)."""
    lo, hi = span["start"], span["end"]
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        a, b = max(lo, c["start"]), min(hi, c["end"])
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def union_wall(spans: list[dict]) -> float:
    """Wall time from the first start to the last end of ``spans``."""
    return max(s["end"] for s in spans) - min(s["start"] for s in spans)


def children_of(spans: list[dict], parent_id: int) -> list[dict]:
    return [s for s in spans if s["parent"] == parent_id]


def inclusive(spans: list[dict], span: dict, key: str) -> float:
    """A counter summed over the span and all its descendants."""
    total = span.get(key, 0)
    for c in children_of(spans, span["id"]):
        total += inclusive(spans, c, key)
    return total
