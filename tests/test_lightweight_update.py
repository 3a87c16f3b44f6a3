"""Lightweight UPDATE (patch parts): no member rewrite, patch-on-read
replacement, stacking, composition with DELETE / compaction / tiered
merges / projections / skip indexes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.io import load_table
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
                (os.path.join(dirpath, f),
                 os.path.getmtime(os.path.join(dirpath, f)))
                for f in files
                if f.endswith(".parquet")
            ]
    return sorted(out)


def test_update_touches_no_data_file(spark, wh):
    before_files = _member_files(wh, "ev")
    members0 = wh.load_manifest("ev")["members"]
    n = wh.read("ev").count()
    n_click = wh.read("ev").filter("event_type = 'click'").count()
    r = wh.update_where_lightweight(
        "ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
    )
    assert r["rows_updated"] == n_click > 0
    assert _member_files(wh, "ev") == before_files  # zero rewrite
    # membership untouched: the commit lists one patch entry
    assert wh.load_manifest("ev")["members"] == members0
    assert _kinds(wh, "ev") == ["patch"]
    got = wh.read("ev")
    assert got.count() == n  # row count preserved
    assert got.filter("event_type = 'click'").count() == 0
    assert got.filter("event_type = 'tap'").count() == n_click


def test_update_is_idempotent_and_stacks(spark, wh):
    wh.update_where_lightweight(
        "ev", {"value": "value + 1000"}, "event_type = 'click'"
    )
    # re-issuing with the now-false predicate matches nothing
    r2 = wh.update_where_lightweight(
        "ev", {"value": "value + 1000"}, "event_type = 'click' AND value < 1000"
    )
    assert r2["rows_updated"] == 0
    # a second update on the PATCHED values composes (latest patch wins)
    n_big = wh.read("ev").filter("value >= 1000").count()
    r3 = wh.update_where_lightweight(
        "ev", {"event_type": F.lit("boosted")}, "value >= 1000"
    )
    assert r3["rows_updated"] == n_big
    assert wh.read("ev").filter(
        "event_type = 'boosted' AND value >= 1000"
    ).count() == n_big


def test_update_then_delete_masks_patched_rows(spark, wh):
    n = wh.read("ev").count()
    wh.update_where_lightweight(
        "ev", {"event_type": F.lit("doomed")}, "event_type = 'error'"
    )
    n_doomed = wh.read("ev").filter("event_type = 'doomed'").count()
    assert n_doomed > 0
    r = wh.delete_where_lightweight("ev", "event_type = 'doomed'")
    assert r["rows_deleted"] == n_doomed
    got = wh.read("ev")
    assert got.count() == n - n_doomed
    assert got.filter("event_type IN ('doomed', 'error')").count() == 0


def test_compaction_materializes_patches(spark, wh):
    wh.update_where_lightweight(
        "ev", {"value": "value * 2"}, "event_type = 'view'"
    )
    snap = wh.read("ev").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(19,4)")).alias("s"),
    ).first()
    assert _kinds(wh, "ev") == ["patch"]
    wh.compact("ev")
    assert _kinds(wh, "ev") == []  # spent patch collected
    after = wh.read("ev").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(19,4)")).alias("s"),
    ).first()
    assert (snap.n, snap.s) == (after.n, after.s)


def test_tiered_compaction_keeps_patch_scope(spark, wh):
    """A tiered merge folds only fresh members; a patch addressing an
    untouched generation must neither duplicate rows nor get lost."""
    wh.compact("ev")  # generation 1
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.limit(50).withColumn(
        "event_type", F.lit("fresh")), batch_id=9)
    # patch rows living in generation 1
    wh.update_where_lightweight(
        "ev", {"event_type": F.lit("patched")},
        "event_type = 'click'",
    )
    n = wh.read("ev").count()
    n_patched = wh.read("ev").filter("event_type = 'patched'").count()
    assert n_patched > 0
    wh.compact("ev", mode="tiered")  # folds only batch 9
    assert _kinds(wh, "ev") == ["patch"]  # still addressing gen 1
    got = wh.read("ev")
    assert got.count() == n
    assert got.filter("event_type = 'patched'").count() == n_patched
    wh.compact("ev")  # major merge materializes
    assert _kinds(wh, "ev") == []
    assert wh.read("ev").filter("event_type = 'patched'").count() == n_patched


def test_update_invalidates_projection_and_skip_index(spark, wh):
    from dev_clickhouse_spark.plans.projection import (
        Measure, Metric, ProjectionSet, ProjectionSpec,
    )
    from dev_clickhouse_spark.plans.skip_index import SkipIndex

    spec = ProjectionSpec(
        name="by_type", dims=("event_type",),
        measures=(Measure("count"),),
    )
    ps = ProjectionSet(wh, "ev", [spec])
    metrics = [Metric("count", None, "cnt")]
    ps.answer(["event_type"], metrics)
    wh.update_where_lightweight(
        "ev", {"event_type": F.lit("mutated")}, "event_type = 'click'"
    )
    after, rep = ps.answer(["event_type"], metrics)
    # clicks live in every member: all 3 re-fold member-scoped
    assert not rep.rebuilt and rep.refolded == 3
    counts = {r.event_type: r.cnt for r in after.collect()}
    assert "click" not in counts and counts["mutated"] > 0
    # skip index: pruned read falls back to the full masked scan
    lo, hi = wh.read("ev").agg(
        F.min("user_id"), F.max("user_id")).first()
    idx = SkipIndex(wh, "ev", minmax_cols=("user_id",))
    idx.ensure()
    got = idx.read([("between", "user_id", lo, hi)])
    assert idx.last_stats.get("fallback") == "patches_present"
    assert got.filter("event_type = 'mutated'").count() == counts["mutated"]


def test_parts_reports_overlays(spark, wh):
    """system.parts analog: live DVs and patches appear as part rows
    (the state an operator must see) and vanish once a merge folds them."""
    wh.update_where_lightweight(
        "ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
    )
    wh.delete_where_lightweight("ev", "event_type = 'error'")
    kinds = [r["kind"] for r in wh.parts("ev").collect()]
    assert kinds.count("patch") == 1
    assert kinds.count("deletion_vector") == 1
    wh.compact("ev")
    kinds = {r["kind"] for r in wh.parts("ev").collect()}
    assert "patch" not in kinds and "deletion_vector" not in kinds


def test_patches_across_a_widening_modify_read_with_own_schemas(
    spark, tmp_path
):
    """MODIFY COLUMN between two lightweight UPDATEs: the two patch dirs
    share column names but not types, so each is read with its own footer
    schema (reusing the first patch's int schema for the bigint patch
    fails the parquet scan)."""
    from pyspark.sql import types as T

    from dev_clickhouse_spark.quality import SchemaMigrator

    narrow = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("n", T.IntegerType()),
    ])
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.save_schema_override("nums", narrow)
    rows = [(i, i * 10) for i in range(1, 7)]
    for b in range(2):
        w.append("nums", spark.createDataFrame(
            [r for r in rows if r[0] % 2 == b], narrow), batch_id=b)
    w.update_where_lightweight("nums", {"n": F.lit(-1)}, "event_id = 1")
    SchemaMigrator(w).modify_column_type("nums", "n", T.LongType())
    w.update_where_lightweight(
        "nums", {"n": F.lit(5_000_000_000)}, "event_id = 2"
    )
    assert _kinds(w, "nums") == ["patch", "patch"]
    got = w.read("nums")
    assert dict(got.dtypes) == {"event_id": "bigint", "n": "bigint"}
    assert sorted(map(tuple, got.collect())) == [
        (1, -1), (2, 5_000_000_000), (3, 30), (4, 40), (5, 50), (6, 60),
    ]
