#!/usr/bin/env python3
"""The repo benchmark.  One command runs one workload and prints one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics``.

    python3 perfbench/run.py --workload siem_live --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
records spans and Spark job counters and prints the per-layer metrics.  A
detailed artifact (environment stamp, setup split, spans' self times,
coverage, plan hashes, failures) goes to ``.perfbench_out/``.  See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("siem_live", "analyst_mutation")
#: workload -> (module, class)
CLASSES = {"siem_live": ("siem", "SiemLive"),
           "analyst_mutation": ("analyst_mutation", "AnalystMutation")}
#: end-to-end metrics every workload prints (the order of BENCHMARK.json)
E2E_NAMES = ("setup_s", "pass_s")


def load_names() -> tuple[list[str], list[str]]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def per_layer_names() -> list[str]:
    import analyst
    import mutation
    import siem

    return (siem.per_layer_names() + analyst.per_layer_names()
            + mutation.per_layer_names()
            + ["trace.coverage_min", "trace.overhead_share", "trace.evicted"])


def trace_summary(tracer, first: int, unit_prefixes: tuple[str, ...]) -> dict:
    """Self times per span name and the least child coverage of any span
    whose name starts with one of ``unit_prefixes``, over the spans from
    index ``first`` on (the timed loop)."""
    from spans import coverage, self_times

    timed = tracer.spans[first:]
    selfs = self_times(timed)
    by_name: dict[str, float] = {}
    for s in timed:
        by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.id]
    counters: dict[str, dict] = {}
    for s in timed:
        agg = counters.setdefault(s.name, {"spans": 0, "wall_s": 0.0})
        agg["spans"] += 1
        agg["wall_s"] += s.wall_s
        for k, v in s.counters.items():
            agg[k] = agg.get(k, 0) + v
    units = [s for s in timed if s.name.startswith(unit_prefixes)]
    cov = [coverage(s, timed) for s in units]
    return {"self_s_by_name": by_name, "counters_by_name": counters,
            "coverage_min": min(cov, default=0.0), "coverage_units": len(units)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from common import ROOT, prepare_env

    try:  # the program under test must be present in the checkout
        sys.path.insert(0, ROOT)
        import dev_clickhouse_spark  # noqa: F401
        import pyspark  # noqa: F401
        e2e_names, layer_names = load_names()
    except (ImportError, OSError) as e:
        print(f"perfbench: program not found in {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    spark = None
    try:
        from common import (Clock, env_stamp, median, result_line, start_spark,
                            write_artifact)
        from spans import Tracer

        clock = Clock()
        spark = start_spark()
        setup = {"session_s": clock.lap()}
        import dev_clickhouse_spark.queries  # noqa: F401  (fills REGISTRY)

        stamp = env_stamp(spark)
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark.sparkContext if args.trace else None, run_id)
        module, cls = CLASSES[args.workload]
        w = getattr(importlib.import_module(module), cls)(
            spark, tracer, args.seed, work)
        clock.lap()
        # input generation is repeated and its median kept; the session
        # start, seeding and warm-up are once-per-process costs
        setup["generate_s"] = median([w.generate() for _ in range(3)])
        clock.lap()
        w.prepare()
        setup["seed_s"] = clock.lap()
        w.warm_up()
        setup["warmup_s"] = clock.lap()
        setup_s = sum(setup.values())

        span_mark, overhead_mark = len(tracer.spans), tracer.overhead_s
        t0 = time.perf_counter()
        w.run(args.seconds)
        timed_s = time.perf_counter() - t0
        overhead_s = tracer.overhead_s - overhead_mark

        evicted = tracer.resolve()
        fails = w.check()
        layers = w.per_layer()
        extra = w.extra()
        metrics = {"setup_s": (setup_s, "s"), **w.end_to_end()}
        if sorted(metrics) != sorted(E2E_NAMES):
            raise RuntimeError(f"{args.workload} measured {list(metrics)}")
        if args.trace:
            summary = trace_summary(tracer, span_mark, w.UNITS)
            layers["trace.coverage_min"] = summary["coverage_min"]
            layers["trace.overhead_share"] = overhead_s / timed_s
            layers["trace.evicted"] = evicted
            if evicted:  # some job counters are missing from this run
                print(f"perfbench: {evicted} jobs/stages were evicted from "
                      "the status store; their counters are missing",
                      file=sys.stderr)
            extra["trace"] = {**summary, "overhead_s": overhead_s,
                              "counters_complete": not evicted,
                              "vs_untraced": _vs_untraced(args, metrics),
                              "spans": [asdict(sp) for sp in tracer.spans]}
            printed = {n: (layers.get(n, 0.0), _unit(n)) for n in layer_names}
        else:
            printed = {n: metrics[n] for n in e2e_names}
        correct = not fails and w.failed == 0
        write_artifact(args.workload, args.seed, args.trace, {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "env": stamp,
            "setup": setup, "timed_s": timed_s,
            "end_to_end": {k: v[0] for k, v in metrics.items()},
            "per_layer": layers, "attempted": w.attempted, "failed": w.failed,
            "errors": w.errors, "check_failures": fails, **extra,
        })
        for f in fails[:20]:
            print(f"check failed: {f}", file=sys.stderr)
        print(result_line(correct, w.attempted, w.failed, printed))
        return 0
    finally:
        if spark is not None:
            from common import stop_spark

            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _vs_untraced(args, metrics: dict) -> dict | None:
    """Tracing overhead: this traced run's end-to-end numbers over those of
    the untraced run of the same workload and seed, when one was made."""
    from common import ROOT

    path = os.path.join(ROOT, ".perfbench_out",
                        f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as fh:
            base = json.load(fh)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    return {k: metrics[k][0] / base[k] for k in base if base.get(k)}


def _unit(name: str) -> str:
    counter = name.rsplit(".", 1)[-1]
    if counter.endswith("_ms"):
        return "ms"
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    if counter in ("read_amp", "space_amp", "coverage_min", "overhead_share",
                   "stale_share", "rows_read_per_row_written"):
        return "ratio"
    if counter.endswith("_per_s"):
        return "1/s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
