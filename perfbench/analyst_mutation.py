"""``analyst_mutation``: the analyst's read-only query families
(``analyst_pack``) and the mutation mix (``mutation_mix``) in one process.

Each loop iteration, one closed-loop client runs one analyst pass (every
family once over the fixture) and then one mutation compaction cycle on the
``Warehouse`` table; iterations repeat until ``--seconds`` have passed.  The
two halves touch disjoint data: the queries read the fixture, the mutations
write their own table.

They share one process because Spark's cold start (session, then code
generation and Python workers on the first run of each code path) is most of
a run's cost, and a run per half would pay it twice.  For the same reason the
two halves warm up concurrently: the analyst's warm-up passes run on a second
thread, with tracing off, while the main thread seeds and warms the mutated
table.  The timed loop is single-threaded.

The end-to-end ``pass_s`` is the analyst pass; the mutated table's reads and
writes are per-layer metrics (see the README for why).  Every per-layer
metric of both halves is kept apart.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from analyst import AnalystPack
from mutation import MutationMix
from spans import Tracer


class AnalystMutation:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.analyst = AnalystPack(spark, tracer, seed, work)
        self.mutation = MutationMix(spark, tracer, seed, work)
        self.halves = (self.analyst, self.mutation)
        #: span names whose child coverage the traced run reports
        self.UNITS = self.analyst.UNITS + self.mutation.UNITS
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._analyst_warm = None

    @property
    def attempted(self) -> int:
        return sum(h.attempted for h in self.halves)

    @property
    def failed(self) -> int:
        return sum(h.failed for h in self.halves)

    @property
    def errors(self) -> list[str]:
        return [e for h in self.halves for e in h.errors]

    def generate(self) -> float:
        return sum(h.generate() for h in self.halves)

    def prepare(self) -> None:
        """Start the analyst's cold pass on the second thread, then seed the
        mutated table."""
        self._analyst_warm = self._pool.submit(self._warm_analyst)
        self.mutation.prepare()

    def _warm_analyst(self) -> None:
        tracer, self.analyst.tracer = self.analyst.tracer, Tracer(None)
        try:
            self.analyst.warm_up()
        finally:
            self.analyst.tracer = tracer

    def warm_up(self) -> None:
        self.mutation.warm_up()
        self._analyst_warm.result()
        self._pool.shutdown()

    def run(self, seconds: float) -> None:
        """At least one iteration, then more until ``seconds`` have passed."""
        self.mutation.start_timing()
        t_end = time.perf_counter() + seconds
        while True:
            self.analyst.passes.append(self.analyst.one_pass())
            self.mutation.one_cycle()
            if time.perf_counter() >= t_end:
                break

    def end_to_end(self) -> dict:
        return self.analyst.end_to_end()

    def per_layer(self) -> dict:
        return {**self.analyst.per_layer(), **self.mutation.per_layer()}

    def check(self) -> list[str]:
        return [f for h in self.halves for f in h.check()]

    def extra(self) -> dict:
        return {**self.analyst.extra(), **self.mutation.extra()}
