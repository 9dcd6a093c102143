"""Spans and Spark counters recorded by the traced run.

Spans are kept in memory (``Tracer.spans``) and written out once, when the
run ends. A span records its name, start, end, parent span and the id of
the operation it belongs to. Self time is a span's duration minus the
part of it covered by its child spans.

``wrap`` replaces a function on a module or class with a timed version
for the length of a traced run and ``Tracer.restore`` puts the original
back, so the untraced run executes the package's code unchanged.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. ``enabled=False`` turns ``span`` into a
    plain context manager with no bookkeeping, for the untraced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = ""
        self._patched: list[tuple[object, str, object]] = []
        self.counters: "SparkCounters | None" = None

    def set_op(self, op: str) -> None:
        self._op = op

    def span(self, name: str, spark_counters: bool = False):
        return _SpanCtx(self, name, spark_counters)

    def wrap(self, owner: object, attr: str, name: str, static: bool = False) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(fn)
        def timed(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, staticmethod(timed) if static else timed)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Summed self time per span name."""
        spans = self.spans if spans is None else spans
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.dur
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += s.dur - child_time[s.sid]
        return dict(out)

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, **({"counters": s.counters} if s.counters else {}),
            }
            for s in self.spans
        ]


class _SpanCtx:
    __slots__ = ("tracer", "name", "with_counters", "span", "before")

    def __init__(self, tracer: Tracer, name: str, with_counters: bool):
        self.tracer = tracer
        self.name = name
        self.with_counters = with_counters

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return None
        parent = t._stack[-1].sid if t._stack else None
        self.span = Span(len(t.spans), self.name, parent, t._op, 0.0)
        t.spans.append(self.span)
        t._stack.append(self.span)
        self.before = (
            t.counters.snapshot() if self.with_counters and t.counters else None
        )
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        self.span.end = time.perf_counter()
        t._stack.pop()
        if self.before is not None:
            self.span.counters = t.counters.delta(self.before)
        return False


class SparkCounters:
    """Job, stage and task counters read from the SparkContext's status
    store (``sparkContext._jsc.sc().statusStore()``), which is kept with
    the UI off. Job and stage ids are dense and increasing, so each read
    walks forward from the first id not yet seen and costs only what ran
    since the last read. The session keeps far more jobs and stages than
    a run starts (``spark.ui.retainedJobs``/``retainedStages``), so no id
    is evicted before it is read."""

    KEYS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
        "spark.gc_s",
    )

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0
        self._next_stage = 0
        self.totals = {k: 0.0 for k in self.KEYS}

    def _collect(self) -> None:
        from py4j.protocol import Py4JJavaError

        # listener events arrive asynchronously; wait until the store has
        # seen the end of every job that has already returned
        self._sc.listenerBus().waitUntilEmpty(10_000)
        tot = self.totals
        while True:
            try:
                status = str(self._store.job(self._next_job).status())
            except Py4JJavaError:
                break
            if status not in ("SUCCEEDED", "FAILED"):
                break
            self._next_job += 1
            tot["spark.jobs"] += 1
        while True:
            try:
                st = self._store.lastStageAttempt(self._next_stage)
            except Py4JJavaError:
                return
            status = str(st.status())
            if status in ("ACTIVE", "PENDING"):
                return
            self._next_stage += 1
            if status != "COMPLETE":
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += st.numCompleteTasks()
            tot["spark.task_s"] += st.executorRunTime() / 1000.0
            tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["spark.gc_s"] += st.jvmGcTime() / 1000.0

    def snapshot(self) -> dict[str, float]:
        self._collect()
        return dict(self.totals)

    def delta(self, before: dict[str, float]) -> dict[str, float]:
        after = self.snapshot()
        return {k: after[k] - before.get(k, 0.0) for k in after}
