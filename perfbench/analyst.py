"""``analyst_pack``: read-only registry queries over the sf0.1 fixture.

One closed-loop client builds each query with ``REGISTRY[name].fn`` and
collects it.  A pass runs every family once; the seed permutes the family
order and the query order inside each family on every pass.  The work is
bound by joins, shuffles and the pandas/Arrow kernels in ``operators/``,
``llm/``, ``queries/`` and ``io.py``; there are no warehouse writes and no
gold tables.  Results are checked against each query's DuckDB oracle after
the timed passes.
"""

from __future__ import annotations

import time

import numpy as np

from checks import check_query_results, oracle_answers
from common import FIXTURE, median
from spans import catalyst_ms

#: query families.  Each family is a cut of the registry pack sized so a warm
#: pass of all three takes about 6 s on 4 cores; the README lists what was
#: left out and why.
FAMILIES = {
    "olap": ["q3_shipping_priority", "events_5min_buckets"],
    "vector": ["ann_ivf_topk"],
    "text_dedup": ["dedup_minhash_lsh_pairs"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
WARM_PASSES = 2
FAMILY_COUNTERS = ("wall_s", "build_s", "driver_s", "executor_s", "catalyst_ms",
                   "shuffle_mb", "spill_mb", "tasks", "jobs", "gc_s", "input_rows")


def per_layer_names() -> list[str]:
    names = [f"queries.{f}.{c}" for f in FAMILIES for c in FAMILY_COUNTERS]
    names += [f"queries.{q}.{c}" for q in QUERIES for c in ("wall_s", "build_s")]
    return names


class AnalystPack:
    #: span names whose child coverage the traced run reports
    UNITS = ("family.", "pass")

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.data = FIXTURE
        self.rng = np.random.default_rng(seed)
        self.results: list[tuple[str, list, list]] = []  # (query, cols, rows)
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- setup -------------------------------------------------------------

    def generate(self) -> float:
        """Nothing to generate: the seed only orders the queries."""
        return 0.0

    def prepare(self) -> None:
        """Nothing to seed: the tables are the fixture, read in place."""

    def warm_up(self) -> None:
        """Two passes: the first pays code generation and Python worker
        start, the second lets the JIT settle before the timed passes."""
        for _ in range(WARM_PASSES):
            self.one_pass()

    # -- the closed loop ---------------------------------------------------

    def _query(self, name: str) -> dict:
        from dev_clickhouse_spark.queries import REGISTRY

        rec = {"query": name}
        self.attempted += 1
        with self.tracer.span(f"queries.{name}") as sp:
            try:
                with self.tracer.span("build"):
                    t0 = time.perf_counter()
                    df = REGISTRY[name].fn(self.spark, self.data)
                    t1 = time.perf_counter()
                with self.tracer.span("collect"):
                    rows = [tuple(r) for r in df.collect()]
                    t2 = time.perf_counter()
            except Exception as e:  # a failed query is counted, not fatal
                self.failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
                rec.update(wall_s=time.perf_counter() - t0, build_s=0.0, ok=False)
                return rec
        rec.update(wall_s=t2 - t0, build_s=t1 - t0, ok=True, span=sp.id)
        self.results.append((name, list(df.columns), rows))
        if self.tracer.enabled:
            from bench import _plan_hash

            t = time.perf_counter()
            rec.update(catalyst_ms=catalyst_ms(df), plan_hash=_plan_hash(df))
            self.tracer.overhead_s += time.perf_counter() - t
        return rec

    def one_pass(self) -> dict:
        """Every family once, in a seeded order."""
        fams = list(FAMILIES)
        self.rng.shuffle(fams)
        recs = []
        with self.tracer.span("pass"):
            for fam in fams:
                qs = list(FAMILIES[fam])
                self.rng.shuffle(qs)
                with self.tracer.span(f"family.{fam}"):
                    recs += [dict(self._query(q), family=fam) for q in qs]
        return {"pass_s": sum(r["wall_s"] for r in recs), "queries": recs}

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict:
        """``pass_s`` sums each query's median over the timed passes, so
        one stalled query in one pass does not move it."""
        per_query = {}
        for p in self.passes:
            for r in p["queries"]:
                per_query.setdefault(r["query"], []).append(r["wall_s"])
        return {"pass_s": (sum(median(v) for v in per_query.values()), "s")}

    def per_layer(self) -> dict:
        """Medians over the timed passes; job counters come from the
        resolved spans of a traced run (zero when untraced)."""
        for p in self.passes:
            for r in p["queries"]:
                if "span" in r:
                    r.update(self.tracer.spans[r["span"]].counters)
        m = {}
        for fam in FAMILIES:
            for c in FAMILY_COUNTERS:
                m[f"queries.{fam}.{c}"] = median([
                    sum(r.get(c, 0) for r in p["queries"] if r["family"] == fam)
                    for p in self.passes])
        for q in QUERIES:
            recs = [r for p in self.passes for r in p["queries"]
                    if r["query"] == q]
            m[f"queries.{q}.wall_s"] = median([r["wall_s"] for r in recs])
            m[f"queries.{q}.build_s"] = median([r["build_s"] for r in recs])
        return m

    def check(self) -> list[str]:
        return check_query_results(self.results, oracle_answers(self.data, QUERIES))

    def extra(self) -> dict:
        return {"plan_hashes": {r["query"]: r["plan_hash"] for p in self.passes
                                for r in p["queries"] if r.get("plan_hash")}}
