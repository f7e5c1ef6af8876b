"""In-memory spans around calls into the engine's layers, plus the Spark
jobs and stage metrics each span caused.

Spans are recorded from outside the engine: the benchmark opens one
around each public call it makes (build, plan, collect, ...), and
``wrap_readers`` swaps ``sources.readers.load_table`` for a timed
wrapper in every loaded engine module for the duration of a traced pass.
Jobs and SQL executions are read from the status stores after each
unit of work and attached to the innermost span that was open when they
were submitted, so a job launched by a background thread (an AQE
broadcast) is attributed the same way as one launched by the caller.
A SQL execution is posted once its physical plan exists, so the time
from a write's call to its execution's submission is the write's
planning.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import sys
import time


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with the JVM's job timestamps
    end: float | None
    parent: int | None
    run: str
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans for one run; ``close_unit`` attaches the unit's jobs."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._seen_jobs = set(self._sc.statusTracker().getJobIdsForGroup())
        self._next_sql = self._sql_store.executionsCount()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            end=None,
            parent=self._stack[-1].id if self._stack else None,
            run=self.run_id,
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def _stage(self, sid: int) -> dict | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # a stage skipped by shuffle reuse never ran
            return None
        if st.numCompleteTasks() == 0:
            return None
        return {
            "tasks": st.numTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_read_mb": st.shuffleReadBytes() / 2**20,
            "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
            "spill_mb": st.diskBytesSpilled() / 2**20,
        }

    def _attach(self, unit: Span, name: str, start: float, end: float, attrs: dict) -> None:
        """Record an event of ``unit`` as a child of the innermost span of
        ``unit`` open at ``start``."""
        owner = unit
        for s in self.spans[unit.id :]:  # later spans nest inside earlier ones
            if s.name not in ("job", "sql") and s.start <= start <= (s.end or start):
                owner = s
        self.spans.append(
            Span(id=len(self.spans), name=name, start=start, end=end, parent=owner.id,
                 run=self.run_id, attrs=attrs)
        )

    def close_unit(self, unit: Span) -> None:
        """Attach every job and SQL execution submitted since the last call
        to the innermost span of ``unit`` open at its submission time, as
        ``job`` and ``sql`` spans."""
        self._bus.waitUntilEmpty()  # the status stores are fed by the listener bus
        ids = set(self._sc.statusTracker().getJobIdsForGroup()) - self._seen_jobs
        self._seen_jobs |= ids
        for jid in sorted(ids):
            job = self._store.job(jid)
            submitted = job.submissionTime()
            completed = job.completionTime()
            start = submitted.get().getTime() / 1e3 if submitted.isDefined() else unit.start
            end = completed.get().getTime() / 1e3 if completed.isDefined() else start
            if start < unit.start - 0.002:
                continue  # ran in an untraced pass (the JVM clock has ms steps)
            stage_ids = job.stageIds()
            stages = [self._stage(stage_ids.apply(i)) for i in range(stage_ids.size())]
            self._attach(unit, "job", start, end, {"job_id": jid, "stages": [s for s in stages if s]})
        count = self._sql_store.executionsCount()
        for eid in range(self._next_sql, count):
            found = self._sql_store.execution(eid)
            if not found.isDefined():
                continue
            ex = found.get()
            start = ex.submissionTime() / 1e3
            completed = ex.completionTime()
            end = completed.get().getTime() / 1e3 if completed.isDefined() else start
            if start >= unit.start - 0.002:
                self._attach(unit, "sql", start, end, {"execution_id": eid})
        self._next_sql = count

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def jobs_under(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            for c in self.children(todo.pop()):
                (out if c.name == "job" else todo).append(c)
        return out

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def _covered(self, span: Span, spans: list[Span]) -> float:
        """Wall time of ``span`` covered by the union of ``spans``."""
        return _union_len(
            [
                (max(c.start, span.start), min(c.end, span.end))
                for c in spans
                if min(c.end, span.end) > max(c.start, span.start)
            ]
        )

    def job_time(self, span: Span) -> float:
        """Wall time of ``span`` covered by the jobs it caused."""
        return self._covered(span, self.jobs_under(span))

    def sql_time(self, span: Span) -> float:
        """Wall time of ``span`` covered by the SQL executions it ran."""
        return self._covered(span, [c for c in self.descendants(span) if c.name == "sql"])

    def uncovered(self, span: Span, layers: tuple[str, ...]) -> float:
        """Wall time of ``span`` inside no descendant span named in
        ``layers`` and no job: time the layer accounting does not explain."""
        inside = [c for c in self.descendants(span) if c.name in layers or c.name == "job"]
        return span.dur - self._covered(span, inside)

    def records(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


@contextlib.contextmanager
def wrap_readers(tracer: Tracer):
    """Time every ``load_table`` call as a ``readers`` span while active.

    Engine modules bind ``load_table`` by name at import, so the wrapper
    replaces that binding in each loaded ``synth_transform_spark`` module
    and restores the original on exit."""
    from synth_transform_spark.sources import readers

    original = readers.load_table

    @functools.wraps(original)
    def traced(spark, sf_dir, name):
        with tracer.span("readers", table=name):
            return original(spark, sf_dir, name)

    patched = [
        mod
        for key, mod in list(sys.modules.items())
        if key.startswith("synth_transform_spark") and getattr(mod, "load_table", None) is original
    ]
    for mod in patched:
        mod.load_table = traced
    try:
        yield
    finally:
        for mod in patched:
            mod.load_table = original
