"""In-memory spans around calls into the engine's layers.

Only the benchmark's own process is instrumented, from outside the
engine: ``Tracer.wrap`` rebinds every module global of the engine
package that names a given public function, so calls through the names
the engine's modules bound are timed too. Each span runs its Spark jobs
under a job group of its own, which lets ``harvest`` attribute jobs and
stage metrics (task time, shuffle, spill) to the span that launched
them, from the status store that Spark keeps with the UI off.

``NullTracer`` has the same interface and records nothing; the untraced
runs use it, so both runs execute the same code.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

PACKAGE = "batch_processing_new_spark"

STAGE_FIELDS = {
    # StageData accessor -> metric key
    "executorRunTime": "task_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputBytes": "input_bytes",
}


@dataclass
class Span:
    sid: int
    parent: int | None
    root: int
    name: str
    start: float
    end: float = 0.0
    group: str = ""
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stage: Counter = field(default_factory=Counter)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover.

    Children of one span run on the parent's thread, nested and
    disjoint, so the covered part is the sum of their durations.
    """
    covered: Counter = Counter()
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.dur
    return {s.sid: s.dur - covered[s.sid] for s in spans}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class NullTracer:
    enabled = False

    def span(self, name: str):
        return nullcontext()

    def harvest(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._fresh: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        # wall clock minus span clock: job times arrive in epoch ms
        self._epoch = time.time() - time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", span.group if span else None)
        self.sc.setLocalProperty("spark.job.description", span.name if span else None)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(
            sid=sid,
            parent=parent.sid if parent else None,
            root=parent.root if parent else sid,
            name=name,
            start=0.0,
            group=f"perfbench-{sid}",
        )
        self._set_group(sp)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            self._fresh.append(sp)

    # -- instrumentation -------------------------------------------------
    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, fn, name: str) -> int:
        """Rebind every engine-module global bound to ``fn``; returns the
        number of names rebound."""
        traced = self._wrapper(fn, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, traced)
                    self._patches.append((mod, attr, fn))
                    n += 1
        return n

    def wrap_attr(self, owner, attr: str, name: str) -> None:
        """Wrap one attribute (e.g. a method on a class)."""
        fn = getattr(owner, attr)
        setattr(owner, attr, self._wrapper(fn, name))
        self._patches.append((owner, attr, fn))

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- Spark attribution -----------------------------------------------
    def harvest(self) -> None:
        """Attach jobs and stage metrics to every span finished since the
        last harvest. Call it soon after each operation: the status store
        keeps only the most recent jobs and stages."""
        fresh, self._fresh = self._fresh, []
        if not fresh:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for sp in fresh:
            for jid in tracker.getJobIdsForGroup(sp.group):
                job = store.job(jid)
                start, end = job.submissionTime(), job.completionTime()
                if start.isDefined() and end.isDefined():
                    # on the spans' clock, so jobs and spans can be merged
                    sp.job_intervals.append(
                        (
                            start.get().getTime() / 1e3 - self._epoch,
                            end.get().getTime() / 1e3 - self._epoch,
                        )
                    )
                sp.stage["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — evicted or never run
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    sp.stage["stages"] += 1
                    sp.stage["tasks"] += st.numCompleteTasks()
                    for accessor, key in STAGE_FIELDS.items():
                        sp.stage[key] += getattr(st, accessor)()
            self.spans.append(sp)


def subtree(spans: list[Span], top: Span) -> list[Span]:
    """``top`` and every span below it."""
    below: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            below.setdefault(s.parent, []).append(s)
    out, todo = [], [top]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(below.get(s.sid, ()))
    return out


def covered(spans: list[Span], top: Span, layers: set[str]) -> float:
    """Time of ``top`` spent inside a span named in ``layers`` or in a
    Spark job, over ``top`` and every span below it."""
    intervals = []
    for s in subtree(spans, top):
        intervals.extend(s.job_intervals)
        if s.name in layers:
            intervals.append((s.start, s.end))
    return union_length(intervals)


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Span name -> {"time", "self", "calls"} summed over ``spans``."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"time": 0.0, "self": 0.0, "calls": 0})
        row["time"] += s.dur
        row["self"] += selfs[s.sid]
        row["calls"] += 1
    return out


def stage_totals(spans: list[Span]) -> Counter:
    total: Counter = Counter()
    for s in spans:
        total.update(s.stage)
    return total


def spark_layer(stage: Counter, units: int, wall_per_unit: float, cores: int) -> dict:
    """Stage-metric totals per unit of work (a pass or a job)."""
    task_s = stage["task_ms"] / 1e3 / units
    return {
        "spark.jobs": stage["jobs"] / units,
        "spark.stages": stage["stages"] / units,
        "spark.tasks": stage["tasks"] / units,
        "spark.task_s": task_s,
        "spark.task_cpu_s": stage["task_cpu_ns"] / 1e9 / units,
        "spark.gc_s": stage["gc_ms"] / 1e3 / units,
        "spark.core_busy_share": task_s / (wall_per_unit * cores),
        "spark.shuffle_read_bytes": stage["shuffle_read_bytes"] / units,
        "spark.shuffle_write_bytes": stage["shuffle_write_bytes"] / units,
        "spark.spill_bytes": stage["spill_bytes"] / units,
        "spark.input_bytes": stage["input_bytes"] / units,
    }
