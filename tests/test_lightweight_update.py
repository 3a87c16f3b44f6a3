"""Lightweight UPDATE: a deletion vector over the matched rows plus a new
member holding them re-assigned, committed in one manifest flip — no
member rewrite, stacking, composition with DELETE / compaction / tiered
merges / projections / skip indexes, and every metadata ALTER and stats
prune working with an update live."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dev_clickhouse_spark.io import load_table
from dev_clickhouse_spark.plans.warehouse import Warehouse, member_kind

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


def _adds(w, table):
    """The members the live UPDATE entries appended."""
    return [
        e["adds"] for e in w.load_manifest(table)["overlays"] if "adds" in e
    ]


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
    # zero rewrite: the original members' files are untouched
    (added,) = _adds(wh, "ev")
    assert [f for f in _member_files(wh, "ev")
            if f"/{added}/" not in f[0]] == before_files
    # one flip lists one deletion vector and the one member it appended
    assert wh.load_manifest("ev")["members"] == members0 + [added]
    assert member_kind(added) == "updated"
    assert _kinds(wh, "ev") == ["dv"]
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
    # a second update on the UPDATED values composes (latest wins): its
    # deletion vector addresses the rows in the first update's member
    n_big = wh.read("ev").filter("value >= 1000").count()
    r3 = wh.update_where_lightweight(
        "ev", {"event_type": F.lit("boosted")}, "value >= 1000"
    )
    assert r3["rows_updated"] == n_big
    assert wh.read("ev").filter(
        "event_type = 'boosted' AND value >= 1000"
    ).count() == n_big
    first, second = _adds(wh, "ev")
    assert wh.load_manifest("ev")["overlays"][-1]["members"] == [first]
    assert wh.read("ev").count() == wh.read("ev").select(
        "event_id").distinct().count()  # one live copy per row


def test_update_then_delete_masks_patched_rows(spark, wh):
    """A DELETE of updated rows masks them in the member the update
    appended."""
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
    assert wh.load_manifest("ev")["overlays"][-1]["members"] == _adds(
        wh, "ev")


def test_compaction_materializes_patches(spark, wh):
    wh.update_where_lightweight(
        "ev", {"value": "value * 2"}, "event_type = 'view'"
    )
    snap = wh.read("ev").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(19,4)")).alias("s"),
    ).first()
    assert _kinds(wh, "ev") == ["dv"]
    wh.compact("ev")
    assert _kinds(wh, "ev") == []  # spent deletion vector collected
    (member,) = wh.load_manifest("ev")["members"]
    assert member_kind(member) == "compacted"
    after = wh.read("ev").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(19,4)")).alias("s"),
    ).first()
    assert (snap.n, snap.s) == (after.n, after.s)


def test_tiered_compaction_keeps_patch_scope(spark, wh):
    """A tiered merge folds only fresh members — the update's member among
    them; the deletion vector addressing the untouched generation stays,
    so updated rows neither duplicate nor get lost."""
    wh.compact("ev")  # generation 1
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.limit(50).withColumn(
        "event_type", F.lit("fresh")), batch_id=9)
    # updated rows living in generation 1
    wh.update_where_lightweight(
        "ev", {"event_type": F.lit("patched")},
        "event_type = 'click'",
    )
    n = wh.read("ev").count()
    n_patched = wh.read("ev").filter("event_type = 'patched'").count()
    assert n_patched > 0
    (added,) = _adds(wh, "ev")
    wh.compact("ev", mode="tiered")  # folds batch 9 and the update member
    assert _kinds(wh, "ev") == ["dv"]  # still addressing gen 1
    assert added not in wh.load_manifest("ev")["members"]
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
    # skip index: the update's member is indexed like any other, and the
    # pruned read goes through the one member scan, no fallback
    lo, hi = wh.read("ev").agg(
        F.min("user_id"), F.max("user_id")).first()
    idx = SkipIndex(wh, "ev", minmax_cols=("user_id",))
    assert idx.ensure() == 4
    got = idx.read([("between", "user_id", lo, hi)])
    assert "fallback" not in idx.last_stats
    assert idx.last_stats["members_scanned"] == 4
    assert got.filter("event_type = 'mutated'").count() == counts["mutated"]


def test_parts_reports_overlays(spark, wh):
    """system.parts analog: live DVs (the UPDATE's among them) appear as
    part rows, the update's member as an ``updated`` part (the state an
    operator must see), and the DVs vanish once a merge folds them."""
    wh.update_where_lightweight(
        "ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
    )
    wh.delete_where_lightweight("ev", "event_type = 'error'")
    kinds = [r["kind"] for r in wh.parts("ev").collect()]
    assert kinds.count("updated") == 1
    assert kinds.count("deletion_vector") == 2
    wh.compact("ev")
    kinds = {r["kind"] for r in wh.parts("ev").collect()}
    assert kinds == {"compacted"}


def test_patches_across_a_widening_modify_read_with_own_schemas(
    spark, tmp_path
):
    """MODIFY COLUMN between two lightweight UPDATEs: the two update
    members share column names but not types, so each is read in its own
    footer group (reusing the first member's int schema for the bigint
    member fails the parquet scan)."""
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
    assert _kinds(w, "nums") == ["dv", "dv"]
    first, second = _adds(w, "nums")
    footers = w._footers("nums", [first, second])
    assert [footers[m]["n"].dataType for m in (first, second)] == [
        T.IntegerType(), T.LongType()]
    got = w.read("nums")
    assert dict(got.dtypes) == {"event_id": "bigint", "n": "bigint"}
    assert sorted(map(tuple, got.collect())) == [
        (1, -1), (2, 5_000_000_000), (3, 30), (4, 40), (5, 50), (6, 60),
    ]


# -- every ALTER and stats prune runs with an update live, no compaction --

_D1 = dt.datetime(2026, 1, 1, 10, 0)
_D2 = dt.datetime(2026, 1, 2, 10, 0)
_COLS = ["event_id", "user_id", "value", "event_date"]


_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("event_date", T.DateType()),
])


@pytest.fixture()
def live(spark, tmp_path):
    """Three members disjoint on user_id over two days, then a live
    lightweight UPDATE of two rows of the middle member.  Returns the
    warehouse, the table and a pandas model of what it reads."""
    w = Warehouse(spark, str(tmp_path / "live"))
    t = "upd_events"
    w.set_partitioning(t, ["event_ts", "event_id"])
    w.save_schema_override(t, _SCHEMA)
    rows = []
    for b in range(3):
        part = [
            (b * 10 + i, d, b * 100 + i, float(i), d.date())
            for i, d in enumerate([_D1, _D2, _D1, _D2])
        ]
        w.append(t, spark.createDataFrame(part, _SCHEMA), batch_id=b)
        rows += part
    r = w.update_where_lightweight(
        t, {"value": "value + 1000"},
        "user_id BETWEEN 100 AND 199 AND value >= 2",
    )
    assert r["rows_updated"] == 2
    model = pd.DataFrame(rows, columns=["event_id", "event_ts", *_COLS[1:]])
    hit = (model.user_id // 100 == 1) & (model.value >= 2)
    model.loc[hit, "value"] += 1000
    return w, t, model[_COLS]


def _got(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*_COLS).collect())


def _want(model) -> list[tuple]:
    m = model.astype(object).where(model.notna(), None)
    return sorted(tuple(r) for r in m.itertuples(index=False))


def test_clear_column_with_a_live_update(spark, live):
    w, t, model = live
    w.clear_column_in_partition(t, "value", _D1.date())
    model.loc[model.event_date == _D1.date(), "value"] = None
    # the updated row of day 1 is masked in the update's member too
    assert _got(w.read(t)) == _want(model)
    assert w.read(t).filter("event_id = 12 AND value IS NULL").count() == 1


def test_non_widening_modify_with_a_live_update(spark, live):
    from dev_clickhouse_spark.quality import SchemaMigrator

    w, t, model = live
    SchemaMigrator(w).modify_column_type(t, "user_id", T.StringType())
    model["user_id"] = model.user_id.astype(str)
    assert dict(w.read(t).dtypes)["user_id"] == "string"
    assert _got(w.read(t)) == _want(model)


def test_skip_index_prunes_with_a_live_update(spark, live):
    from dev_clickhouse_spark.plans.skip_index import SkipIndex

    w, t, model = live
    idx = SkipIndex(w, t, minmax_cols=("user_id", "value"))
    assert idx.ensure() == 4
    got = idx.read([("between", "value", 1000.0, 2000.0)])
    assert "fallback" not in idx.last_stats
    # the updated values live in the update's member alone
    assert idx.last_stats["members_scanned"] == 1
    assert _got(got) == _want(model[model.value.between(1000, 2000)])
    assert len(_got(got)) == 2


def test_pruned_mutation_with_a_live_update(spark, live):
    w, t, model = live
    res = w.delete_where(t, "value >= 1000")
    assert res["rows_deleted"] == 2
    assert res["members_skipped_by_stats"] == 3
    assert _got(w.read(t)) == _want(model[model.value < 1000])
