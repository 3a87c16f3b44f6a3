"""Lightweight-delete (deletion vector) guarantees the oracle row can't
see: no member rewrite, time-travel overlay semantics, compaction
materialization + DV garbage collection, tiered-compaction partial GC,
and projection invalidation on delete."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.io import load_table
from dev_clickhouse_spark.plans.projection import (
    Measure,
    Metric,
    ProjectionSet,
    ProjectionSpec,
)
from dev_clickhouse_spark.plans.warehouse import Warehouse

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    for b in range(3):
        w.append("ev", ev.filter(F.col("event_id") % 3 == b), batch_id=b)
    return w


def _kinds(w, table):
    return [e["kind"] for e in w.load_manifest(table)["overlays"]]


def _member_files(w, table):
    out = []
    root = w.path(table)
    for m in w.load_manifest(table)["members"]:
        for dirpath, _, files in os.walk(os.path.join(root, m)):
            out += [
                (os.path.join(dirpath, f), os.path.getmtime(
                    os.path.join(dirpath, f)))
                for f in files
                if f.endswith(".parquet")
            ]
    return sorted(out)


def test_delete_touches_no_data_file(spark, wh):
    before = _member_files(wh, "ev")
    n_before = wh.read("ev").count()
    r = wh.delete_where_lightweight("ev", "event_type = 'click'")
    assert r["rows_deleted"] > 0
    assert _member_files(wh, "ev") == before  # same files, same mtimes
    assert wh.read("ev").count() == n_before - r["rows_deleted"]
    assert wh.read("ev").filter("event_type = 'click'").count() == 0


def test_masked_rows_are_excluded_from_rematch(spark, wh):
    wh.delete_where_lightweight("ev", "event_type = 'click'")
    # overlapping predicate: clicks already masked must not re-count
    r = wh.delete_where_lightweight(
        "ev", "event_type IN ('click', 'view')"
    )
    views = (
        load_table(spark, SF, "events")
        .filter("event_type = 'view'")
        .count()
    )
    assert r["rows_deleted"] == views


def test_snapshot_reads_apply_their_own_deletes(spark, wh):
    """A snapshot read serves exactly what its manifest version listed: a
    DV committed after ``v0`` does not mask ``v0``, and a version whose
    own DV a full compaction later materialized still masks with it."""
    n = wh.read("ev").count()
    v0 = wh.load_manifest("ev")["version"]
    wh.delete_where_lightweight("ev", "event_type = 'error'")
    v1 = wh.load_manifest("ev")["version"]
    assert wh.read_at_version("ev", v0).count() == n
    errors = wh.read_at_version("ev", v0).filter("event_type = 'error'")
    assert errors.count() > 0
    kept = wh.read("ev").count()
    wh.compact("ev")
    assert _kinds(wh, "ev") == []
    snap = wh.read_at_version("ev", v1)
    assert snap.count() == kept
    assert snap.filter("event_type = 'error'").count() == 0
    assert wh.read_at_version("ev", v0).count() == n


def test_full_compaction_materializes_and_gcs(spark, wh):
    wh.delete_where_lightweight("ev", "event_type = 'error'")
    kept = wh.read("ev").count()
    wh.compact("ev")
    assert _kinds(wh, "ev") == []
    assert wh.read("ev").count() == kept
    assert wh.read("ev").filter("event_type = 'error'").count() == 0


def test_tiered_compaction_keeps_dvs_for_untouched_generations(spark, wh):
    """A tiered (minor) merge folds only fresh batch members; a DV that
    references an older compacted generation must survive the merge and
    keep masking."""
    wh.compact("ev")  # generation 1 holds everything
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.filter(F.col("event_id") % 3 == 0), batch_id=9)
    # delete rows living in generation 1 (error events were all there)
    wh.delete_where_lightweight(
        "ev", "event_type = 'error' AND event_id % 3 != 0"
    )
    kept = wh.read("ev").count()
    wh.compact("ev", mode="tiered")  # folds only batch 9
    assert _kinds(wh, "ev") == ["dv"]  # still addressing generation 1
    assert wh.read("ev").count() == kept
    wh.compact("ev")  # major merge materializes the mask
    assert _kinds(wh, "ev") == []
    assert wh.read("ev").count() == kept


def test_delete_invalidates_aggregate_projection(spark, wh):
    spec = ProjectionSpec(
        name="by_type",
        dims=("event_type",),
        measures=(Measure("count"), Measure("sum", "value")),
    )
    ps = ProjectionSet(wh, "ev", [spec])
    metrics = [
        Metric("count", None, "cnt"),
        Metric("sum", "value", "sum_value", 2),
    ]
    before, _ = ps.answer(["event_type"], metrics)
    n_before = {r.event_type: r.cnt for r in before.collect()}
    wh.delete_where_lightweight("ev", "event_type = 'click'")
    after, rep = ps.answer(["event_type"], metrics)
    # member-scoped invalidation: clicks live in every member here, so
    # all 3 re-fold — but through refold, never a wholesale rebuild
    assert not rep.rebuilt and rep.refolded == 3 and rep.folded_now == 3
    n_after = {r.event_type: r.cnt for r in after.collect()}
    assert "click" not in n_after
    assert n_after["view"] == n_before["view"]


def test_skip_index_pruned_read_honors_dvs(spark, wh):
    from dev_clickhouse_spark.plans.skip_index import SkipIndex

    lo, hi = wh.read("ev").agg(F.min("user_id"), F.max("user_id")).first()
    idx = SkipIndex(wh, "ev", minmax_cols=("user_id",))
    idx.ensure()
    preds = [("between", "user_id", lo, hi)]
    before = idx.read(preds).count()
    r = wh.delete_where_lightweight("ev", "event_type = 'click'")
    after = idx.read(preds)
    assert after.count() == before - r["rows_deleted"]
    assert after.filter("event_type = 'click'").count() == 0
