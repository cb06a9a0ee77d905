"""Per-layer tracing from outside the program.

A ``Tracer`` replaces a layer's public function, at the name its caller
looks it up by, with a wrapper that records a span around each call.
Spans nest, so a layer's self time is its spans' wall time minus the
time of the spans they contain and minus the tracer's own bookkeeping.

Spark work is charged to the innermost open span: each span runs its
jobs under its own job group, and after the operation the tracer reads
every job's stage records (executor CPU, shuffle writes, spill and the
stage's wall interval) from the status store, which Spark keeps with
the UI off. Lazy DataFrames a layer returns are pinned on the way out
(``localCheckpoint(eager=True)``), so the execution a layer set up is
charged to that layer and not to whoever first consumes the result.

Nothing here runs unless ``Tracer.active`` is set; the wrappers are
installed for the whole process and pass straight through otherwise.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

LAYERS = ("catalog", "classify", "model", "api", "build", "warehouse", "functions", "pipeline")
SPAN_FIELDS = ("busy_s", "calls", "jobs", "executor_cpu_ms", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    child_s: float = 0.0
    overhead_s: float = 0.0
    jobs: list = field(default_factory=list)
    executor_cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def self_s(self) -> float:
        return max(0.0, self.end - self.start - self.child_s - self.overhead_s)

    def record(self) -> dict:
        return {
            "id": self.id,
            "layer": self.layer,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "wall_s": self.end - self.start,
            "self_s": self.self_s,
            "jobs": len(self.jobs),
            "executor_cpu_ms": self.executor_cpu_ms,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes,
        }


def pin(df):
    """Materialize a lazy DataFrame inside the span that built it."""
    return df.localCheckpoint(eager=True)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self.active = False
        self.op = -1
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)

    # -- installing wrappers ------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, name: str, out=None, before=None):
        """Trace ``owner.attr``. ``before(args, kwargs)`` runs first and
        its return value reaches ``out(result, args, kwargs, state)``,
        which may pin and count the result inside the span and returns
        what the caller gets. Hooks book their own bookkeeping time as
        tracer overhead (``Tracer.overhead``)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            state = None
            if before is not None:
                with tracer.overhead():
                    state = before(args, kwargs)
            span = tracer.open(layer, name)
            try:
                result = orig(*args, **kwargs)
                return out(result, args, kwargs, state) if out is not None else result
            finally:
                tracer.close(span)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    # -- spans ----------------------------------------------------------------
    def open(self, layer: str, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(next(self._ids), layer, name, parent, self.op, time.perf_counter())
        self.stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self.stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        if self.stack:
            self.stack[-1].child_s += span.end - span.start
        self.sc.setLocalProperty(
            "spark.jobGroup.id", self.stack[-1].group if self.stack else None
        )
        self.spans.append(span)

    @contextlib.contextmanager
    def overhead(self):
        """Book the time of the block as tracer overhead of every open span."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            d = time.perf_counter() - t0
            for s in self.stack:
                s.overhead_s += d

    # -- Spark attribution ------------------------------------------------------
    def collect_stages(self, spans: list[Span]) -> list[tuple[float, float]]:
        """Fill each span's job and stage figures; return the wall
        intervals (start, end in epoch seconds) of every stage that ran."""
        tracker = self.sc.statusTracker()
        intervals = []
        for span in spans:
            span.jobs = list(tracker.getJobIdsForGroup(span.group))
            for jid in span.jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        st = self._store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    span.executor_cpu_ms += st.executorCpuTime() / 1e6
                    span.shuffle_write_bytes += st.shuffleWriteBytes()
                    span.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return intervals


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    out = {layer: dict.fromkeys(SPAN_FIELDS, 0.0) for layer in LAYERS}
    for s in spans:
        if s.layer not in out:
            continue
        t = out[s.layer]
        t["busy_s"] += s.self_s
        t["calls"] += 1
        t["jobs"] += len(s.jobs)
        t["executor_cpu_ms"] += s.executor_cpu_ms
        t["shuffle_write_bytes"] += s.shuffle_write_bytes
        t["spill_bytes"] += s.spill_bytes
    return out
