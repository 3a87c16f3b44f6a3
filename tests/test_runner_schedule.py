"""PipelineRunner scheduling: each pipeline starts once its own dependencies
are done, a failure stops new starts and propagates, ``pipeline_ids`` picks a
subset, and metrics come back in topological order.

The pipelines are stand-ins (``_run_one`` is replaced), so only the
scheduler runs; the warehouse is empty and the bronze windows are empty."""

from __future__ import annotations

import datetime as dt
import threading

import pytest

from dev_clickhouse_spark.plans import PipelineRunner, PipelineSpec

W = (dt.datetime(2026, 1, 8, 9, 0), dt.datetime(2026, 1, 8, 10, 0))
WAIT_S = 10  # how long a stand-in waits for an event before giving up

SPECS = [
    PipelineSpec("dim_a", "dim_a"),
    PipelineSpec("dim_slow", "dim_slow"),
    PipelineSpec("fact_a", "fact_a", depends_on=("dim_a",)),
    PipelineSpec("fact_slow", "fact_slow", depends_on=("dim_slow",)),
]


def _runner(spark, tmp_path, behave, specs=SPECS, max_active_tasks=8):
    """A runner whose pipelines run ``behave(pipeline_id)`` and record their
    start order in ``runner.started``."""
    runner = PipelineRunner(
        spark, str(tmp_path / "wh"), max_active_tasks=max_active_tasks,
        pipelines=specs,
    )
    runner.started = []

    def run_one(spec, start_ts, end_ts, **_):
        runner.started.append(spec.pipeline_id)
        behave(spec.pipeline_id)
        return {
            "pipeline_id": spec.pipeline_id, "target_table": spec.target_table,
            "start_ts": str(start_ts), "end_ts": str(end_ts),
            "rows_before": 0, "rows_after": 0, "rows_delta": 0, "seconds": 0.0,
        }

    runner._run_one = run_one
    return runner


def test_pipeline_starts_when_its_own_dependencies_are_done(spark, tmp_path):
    fact_a_started = threading.Event()
    release = threading.Event()

    def behave(pid):
        if pid == "fact_a":
            fact_a_started.set()
        if pid == "dim_slow":
            release.wait(WAIT_S)

    runner = _runner(spark, tmp_path, behave)
    out = {}
    t = threading.Thread(target=lambda: out.setdefault("m", runner.run_window(*W)))
    t.start()
    try:
        # fact_a needs only dim_a: it must start while dim_slow is blocked
        assert fact_a_started.wait(WAIT_S), runner.started
        assert "fact_slow" not in runner.started
    finally:
        release.set()
        t.join(60)
    assert not t.is_alive()
    assert [m["pipeline_id"] for m in out["m"]] == [
        "dim_a", "dim_slow", "fact_a", "fact_slow"
    ]
    assert runner.started.index("dim_slow") < runner.started.index("fact_slow")


def test_failure_stops_new_starts_and_propagates(spark, tmp_path):
    specs = [
        PipelineSpec("dim_bad", "dim_bad"),
        PipelineSpec("dim_later", "dim_later"),
        PipelineSpec("fact_bad", "fact_bad", depends_on=("dim_bad",)),
    ]

    def behave(pid):
        if pid == "dim_bad":
            raise RuntimeError("dim_bad failed")

    runner = _runner(spark, tmp_path, behave, specs, max_active_tasks=1)
    with pytest.raises(RuntimeError, match="dim_bad failed"):
        runner.run_window(*W)
    # one slot: dim_bad ran first and failed, so nothing else may start —
    # neither its dependent nor the independent dim queued behind it
    assert runner.started == ["dim_bad"]
    assert runner.metrics == []

    # with free slots the independent dim was already running and finishes;
    # the dependent still never starts
    runner = _runner(spark, tmp_path, behave, specs, max_active_tasks=8)
    with pytest.raises(RuntimeError, match="dim_bad failed"):
        runner.run_window(*W)
    assert sorted(runner.started) == ["dim_bad", "dim_later"]


def test_subset_runs_in_topological_order(spark, tmp_path):
    fact_a_done = threading.Event()
    waited = {}

    def behave(pid):
        # dim_slow finishes only after fact_a: completion order differs
        # from the topological order the metrics must come back in
        if pid == "dim_slow":
            waited["fact_a_done"] = fact_a_done.wait(WAIT_S)
        if pid == "fact_a":
            fact_a_done.set()

    runner = _runner(spark, tmp_path, behave)
    # fact_a's dependency dim_a is outside the subset: it counts as done
    got = runner.run_window(*W, pipeline_ids={"dim_slow", "fact_a"})
    assert waited == {"fact_a_done": True}
    assert sorted(runner.started) == ["dim_slow", "fact_a"]
    assert [m["pipeline_id"] for m in got] == ["dim_slow", "fact_a"]
    assert runner.metrics == got
