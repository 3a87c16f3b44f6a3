"""Outside-in tracer: spans around the benchmark's calls into the program,
with the Spark job and stage counters of the jobs that ran inside each span.

A span records name, start, end, parent and run id.  Spans are held in
memory and written once when the run ends.  Nothing here touches program
code: job attribution is by job id — the client is one closed-loop thread,
so every job submitted between a span's start and end (including jobs from
thread pools the call starts) belongs to that span.

Counters per span, from the Spark status store:

- ``jobs``, ``tasks``, ``executor_s`` (task run time), ``gc_s``,
  ``shuffle_mb`` (bytes written to shuffle), ``spill_mb`` (bytes spilled
  to disk), ``input_rows``;
- ``driver_s``: span time during which no job of the span was running —
  Python, py4j and Catalyst time on the driver;
- ``evicted``: jobs and stages of the span the status store no longer held,
  so their counters are missing (the run raises the store's retention so
  this stays 0; the run's artifact flags any that were).

``Tracer(None)`` is the disabled tracer: ``span`` still yields a record, but
queries nothing from Spark, so untraced runs pay only a clock read.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    id: int
    run_id: str
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.wall_s - union_length(
            [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def coverage(span: Span, spans: list[Span]) -> float:
    """Share of ``span`` covered by its direct children."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return union_length(kids, span.start, span.end) / max(span.wall_s, 1e-9)


class Tracer:
    """Span recorder.  ``sc`` is the SparkContext to read job counters
    from, or None to disable tracing.

    While spans run, each records only the range of job ids submitted
    inside it (one py4j call per boundary); :meth:`resolve` turns the ranges
    into counters from the status store once the timed loop is over."""

    def __init__(self, sc=None, run_id: str = ""):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jobs: dict[int, tuple[int, int]] = {}
        #: seconds spent inside the tracer's own bookkeeping during spans
        self.overhead_s = 0.0
        self._epoch = time.time() - time.perf_counter()

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def next_job(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent, len(self.spans), self.run_id)
        self.spans.append(sp)
        self._stack.append(sp.id)
        first = None
        if self.enabled:
            t = time.perf_counter()
            first = self.next_job()
            self.overhead_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                self._jobs[sp.id] = (first, self.next_job())
                self.overhead_s += time.perf_counter() - t

    def resolve(self) -> int:
        """Fill every span's counters from the jobs of its id range;
        returns the number of jobs and stages found evicted."""
        for sp in self.spans:
            if sp.id in self._jobs:
                sp.counters.update(self.job_counters(range(*self._jobs[sp.id]), sp))
        return sum(sp.counters.get("evicted", 0) for sp in self.spans
                   if sp.parent is None)

    def job_counters(self, jobs, sp: Span) -> dict:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        lo, hi = sp.start + self._epoch, sp.end + self._epoch
        c = {"jobs": 0, "tasks": 0, "executor_s": 0.0, "gc_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "input_rows": 0,
             "evicted": 0}
        intervals = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:  # no longer in the status store
                c["evicted"] += 1
                continue
            c["jobs"] += 1
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            intervals.append((
                sub.get().getTime() / 1000 if sub.isDefined() else lo,
                done.get().getTime() / 1000 if done.isDefined() else hi))
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # no longer in the status store
                    c["evicted"] += 1
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["executor_s"] += st.executorRunTime() / 1000
                c["gc_s"] += st.jvmGcTime() / 1000
                c["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                c["spill_mb"] += st.diskBytesSpilled() / 1e6
                c["input_rows"] += st.inputRecords()
        c["driver_s"] = sp.wall_s - union_length(intervals, lo, hi)
        return c


def catalyst_ms(df) -> float:
    """Catalyst analysis + optimisation + planning milliseconds of ``df``'s
    query execution (0 for phases that have not run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total
