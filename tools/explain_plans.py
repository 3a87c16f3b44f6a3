#!/usr/bin/env python
"""Plan-audit harness: capture ``.explain("formatted")`` + noop-sink timings
for the bench registry queries (time the computation, not the collect; read
the plan).

Writes ``plans/<round>/<name>_<tag>.txt`` (the committed plan artifact) and
prints a JSON timing line per query.  The artifact holds the final plan,
then the plan of every SQL job the query's BUILD ran (driver-side collects
and eager localCheckpoints, e.g. an index build), since those never show
in the final plan.  Usage:

    python tools/explain_plans.py <round> before|after [name ...]
    # e.g. ``r15 before``; default names: all bench names
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import BENCH_QUERIES  # noqa: E402


def _executions(store) -> list:
    execs = store.executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _build_plans(store, seen: set) -> list[str]:
    """Physical plan of every SQL execution not in ``seen`` — the jobs a
    query builder ran before returning its frame."""
    return [
        e.physicalPlanDescription()
        for e in _executions(store) if e.executionId() not in seen
    ]


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    label, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dev_clickhouse_spark.queries import REGISTRY
    from dev_clickhouse_spark.session import get_spark

    spark = get_spark(app_name=f"explain_{label}_{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(REPO, "plans", label)
    os.makedirs(outdir, exist_ok=True)

    store = spark._jsparkSession.sharedState().statusStore()
    timings = {}
    for name in names:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"{label} {tag}: {name}")
        runs = []
        df = None
        build = []
        for i in range(3):
            seen = {e.executionId() for e in _executions(store)}
            t0 = time.time()
            df = fn(spark, sf_dir)
            if i == 0:
                build = _build_plans(store, seen)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        timings[name] = sorted(runs)[1]
        # formatted plan AFTER execution (includes AQE final where applicable)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
            for j, bplan in enumerate(build, start=1):
                fh.write(f"\n\n== Build job {j} ==\n{bplan}")
        print(json.dumps({"name": name, "median_noop_sec": timings[name],
                          "runs": runs}))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tag": tag, "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
