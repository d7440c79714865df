"""In-memory span tracer for the traced benchmark run.

A span wraps one call into a layer of the program, from the benchmark's own
code.  Entering a span sets a fresh Spark job group *in the calling thread*
(the program's table fan-out runs in a thread pool, and pool threads do not
inherit local properties, so wrappers are installed around the functions
the pool threads call).  Leaving it restores the previous group.  Spark's
status store, which is filled even with the UI off, is then read per group:
every job is charged to the innermost span that was open in its thread.

Spans stay in memory until :meth:`Tracer.layer_totals` folds them into
per-layer numbers at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_run_s", "gc_s",
                  "shuffle_write_bytes", "input_records")


def _group(span_id: int) -> str:
    return f"perfbench-{span_id}"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = -1
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened in threads with no open span of their own
        # (the program's table fan-out pool)
        self.anchor: Span | None = None

    # -- span lifecycle ---------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        par = stack[-1] if stack else self.anchor
        s = Span(next(self._ids), name, par.id if par else None, self.op,
                 time.perf_counter())
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", _group(s.id))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, name: str):
        """``fn`` wrapped in a span; the wrapper runs in the caller's thread,
        so thread-pool calls get their job group set where they run."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- stage counters ---------------------------------------------------

    def collect_counters(self) -> None:
        """Charge the jobs of every span not yet counted to that span, from
        the status store (called after each traced operation, well before
        the store's retention limit evicts its jobs)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.counters:
                continue
            c = s.counters = dict.fromkeys(STAGE_COUNTERS, 0)
            for job_id in tracker.getJobIdsForGroup(_group(s.id)):
                c["jobs"] += 1
                for stage_id in tracker.getJobInfo(job_id).stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # skipped stage, never attempted
                        continue
                    c["tasks"] += st.numCompleteTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1000.0
                    c["gc_s"] += st.jvmGcTime() / 1000.0
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["input_records"] += st.inputRecords()

    # -- folding ----------------------------------------------------------

    def self_time(self, s: Span, children: list[Span]) -> float:
        """Span duration minus the part of it covered by child spans
        (children may overlap when they ran in parallel threads)."""
        ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in children)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start) - covered

    def layer_totals(self) -> dict[int, dict[str, dict]]:
        """{op: {layer: {wall_s, self_s, *STAGE_COUNTERS}}}."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[int, dict[str, dict]] = {}
        for s in self.spans:
            t = out.setdefault(s.op, {}).setdefault(
                s.name, {"wall_s": 0.0, "self_s": 0.0,
                         **dict.fromkeys(STAGE_COUNTERS, 0)})
            t["wall_s"] += s.end - s.start
            t["self_s"] += self.self_time(s, kids.get(s.id, []))
            for k in STAGE_COUNTERS:
                t[k] += s.counters.get(k, 0)
        return out
