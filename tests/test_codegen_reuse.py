"""Each generated class compiles once per session.

Spark keeps compiled whole-stage classes in a JVM-wide cache whose size is
the static conf ``spark.sql.codegen.cache.maxEntries`` (``STATIC_CONF``, the
test session is built with it).  A query whose plan is unchanged reuses its
classes only while they stay in that cache, and only while its generated
code carries no per-call literal: the gold refresh therefore reads the run's
cached bronze windows without re-filtering them on the run's own start."""

from __future__ import annotations

from dev_clickhouse_spark.plans import PipelineSpec
from tests.test_runner_schedule import W, _runner


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_query_compiles_nothing_after_many_others(spark):
    def query():
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    query().collect()
    # more distinct plans than Spark's default cache of 100 classes holds
    for i in range(150):
        spark.range(10).selectExpr(f"id + {i} AS v").collect()
    before = _compilations(spark)
    query().collect()
    assert _compilations(spark) - before == 0


def test_pipeline_window_filters_the_cache_only_when_narrower(spark, tmp_path):
    """A pipeline starting with the run's bronze cache reads the cached
    relation as it is (no ``event_ts`` literal in its plan); one with a
    narrower window still filters it."""
    specs = [
        PipelineSpec("dim_a", "dim_a", window_minutes=60),  # widest
        PipelineSpec("fact_a", "fact_a", window_minutes=10),  # narrower
    ]
    shapes: dict[str, set[tuple[str, ...]]] = {}

    def shape(df) -> tuple[str, ...]:
        """Node names down the first-child path of the cache-substituted
        plan; a filter must be on ``event_ts``."""
        plan, names = df._jdf.queryExecution().withCachedData(), []
        while True:
            names.append(plan.nodeName())
            if plan.nodeName() == "Filter":
                assert "event_ts" in plan.toString()
            if plan.children().isEmpty():
                return tuple(names)
            plan = plan.children().head()

    runner = _runner(spark, tmp_path, lambda pid: None, specs=specs)
    stand_in = runner._run_one

    def run_one(spec, start_ts, end_ts, cache, **kw):
        shapes[spec.pipeline_id] = {shape(df) for df in cache.values()}
        return stand_in(spec, start_ts, end_ts, cache=cache, **kw)

    runner._run_one = run_one
    runner.run_window(*W, honor_pipeline_windows=True)
    assert shapes["dim_a"] == {("InMemoryRelation",)}
    assert shapes["fact_a"] == {("Filter", "InMemoryRelation")}
