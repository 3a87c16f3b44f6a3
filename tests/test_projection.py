"""Projection maintenance + selection guarantees that the oracle rows
can't see: files actually read, fallback choice, compaction rebuild,
crash-replay idempotence, HLL state merge identity."""

from __future__ import annotations

import os
import shutil

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

SPEC = ProjectionSpec(
    name="by_date_type",
    dims=("event_date", "event_type"),
    measures=(
        Measure("count"),
        Measure("sum", "value"),
        Measure("min", "value"),
        Measure("max", "value"),
        Measure("moments", "value"),
        Measure("uniq", "user_id"),
    ),
)

METRICS = [
    Metric("count", None, "cnt"),
    Metric("sum", "value", "sum_value", 2),
    Metric("avg", "value", "avg_value", 4),
    Metric("var_samp", "value", "var_value", 4),
    Metric("stddev_samp", "value", "std_value", 4),
    Metric("min", "value", "min_value"),
    Metric("max", "value", "max_value"),
]


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    part = F.col("event_id") % 3
    for b in range(3):
        w.append("ev", ev.filter(part == b), batch_id=b)
    return w


def _sorted_rows(df, keys=("event_type",)):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


def test_projection_answers_from_projection_files_only(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    df, rep = ps.answer(["event_type"], METRICS)
    assert rep.used == SPEC.name and rep.folded_now == 3
    files = df.inputFiles()
    assert files and all("__proj__" in f for f in files)
    # identical numbers to the base scan (bit-identical derivations)
    base = ps._base_scan(["event_type"], METRICS)
    assert _sorted_rows(df) == _sorted_rows(base)


def test_second_answer_folds_nothing(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    _, rep = ps.answer(["event_type"], METRICS)
    assert rep.folded_now == 0 and not rep.rebuilt


def test_append_folds_exactly_the_new_member(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.filter(F.col("event_id") % 3 == 0), batch_id=9)
    df, rep = ps.answer(["event_type"], METRICS)
    assert rep.folded_now == 1 and not rep.rebuilt
    base = ps._base_scan(["event_type"], METRICS)
    assert _sorted_rows(df) == _sorted_rows(base)


def test_fallback_when_group_key_not_in_dims(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    df, rep = ps.answer(["user_id"], [Metric("count", None, "cnt")])
    assert rep.used is None
    assert df.count() > 0
    with pytest.raises(LookupError):
        ps.answer(
            ["user_id"], [Metric("count", None, "cnt")],
            require_projection=True,
        )


def test_fallback_when_metric_not_derivable(spark, wh):
    lean = ProjectionSpec(
        name="lean", dims=("event_type",), measures=(Measure("count"),)
    )
    ps = ProjectionSet(wh, "ev", [lean])
    _, rep = ps.answer(["event_type"], [Metric("sum", "value", "s", 2)])
    assert rep.used is None


def test_compaction_refolds_member_scoped_not_double_count(spark, wh):
    """A full compaction replaces every member with one generation: the
    old fold batches drop, exactly the new generation folds — no
    wholesale rebuild path, no double counting."""
    ps = ProjectionSet(wh, "ev", [SPEC])
    before, _ = ps.answer(["event_type"], METRICS)
    before_rows = _sorted_rows(before)
    wh.compact("ev")
    after, rep = ps.answer(["event_type"], METRICS)
    assert not rep.rebuilt and rep.folded_now == 1
    assert _sorted_rows(after) == before_rows


def test_tiered_compaction_refolds_only_new_generation(spark, wh):
    """The production cadence: a tiered (minor) merge folds only the
    fresh batch members into a generation — the projection must refold
    exactly that generation and keep every untouched member's state
    (before r10 EVERY compaction wholesale-rebuilt every projection)."""
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)  # folds the 3 initial members
    wh.compact("ev")  # generation 1
    ps.ensure()
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.filter(F.col("event_id") % 3 == 0), batch_id=9)
    wh.append("ev", ev.filter(F.col("event_id") % 3 == 1), batch_id=10)
    ps.ensure()  # folds the two fresh batches
    proj = "ev__proj__" + SPEC.name
    man0 = set(wh.load_manifest(proj)["members"])
    gen_fold = min(
        int(m.rsplit("-", 1)[1]) for m in man0
    )  # the generation's fold batch (folded first)
    wh.compact("ev", mode="tiered")  # folds ONLY batches 9+10 into gen 2
    df, rep = ps.answer(["event_type"], METRICS)
    assert not rep.rebuilt and rep.folded_now == 1  # just the new gen
    man1 = set(wh.load_manifest(proj)["members"])
    # the generation-1 fold batch survived untouched
    assert f"member=batch-{gen_fold}" in man1
    assert _sorted_rows(df) == _sorted_rows(
        ps._base_scan(["event_type"], METRICS)
    )


def test_crash_replay_does_not_double_fold(spark, wh):
    """Crash between the state append and the sidecar update: the next
    ensure() re-runs the same fold with the same batch id — the manifest
    replay ledger must swallow it instead of doubling every state."""
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    base_rows = _sorted_rows(ps._base_scan(["event_type"], METRICS))
    # simulate the crash: roll the sidecar back one fold
    side = ps._load_sidecar(SPEC)
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.filter(F.col("event_id") % 3 == 0), batch_id=9)
    df1, rep1 = ps.answer(["event_type"], METRICS)  # folds member 9
    assert rep1.folded_now == 1
    ps._save_sidecar(SPEC, side)  # sidecar lost the fold, append committed
    df2, rep2 = ps.answer(["event_type"], METRICS)
    assert rep2.folded_now == 1  # re-attempted ...
    assert _sorted_rows(df2) == _sorted_rows(df1)  # ... but not re-applied


def test_uniq_state_merge_equals_single_pass(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    m = [Metric("uniq_approx", "user_id", "u")]
    merged, rep = ps.answer(["event_type"], m)
    assert rep.used == SPEC.name
    single = ps._base_scan(["event_type"], m)
    assert _sorted_rows(merged) == _sorted_rows(single)


def test_sort_projection_prunes_and_matches_base(spark, wh):
    from dev_clickhouse_spark.plans.projection import SortProjection

    sp = SortProjection(wh, "ev", "by_user", ("user_id",), files_per_fold=6)
    hi = wh.read("ev").agg(F.max("user_id")).first()[0]
    preds = [("between", "user_id", 1, hi // 4)]
    df, rep = sp.scan(preds, require_projection=True)
    assert rep.used == "by_user" and rep.folded_now == 3
    st = sp.last_stats
    assert st["files_scanned"] < st["files_total"]
    expect = wh.read("ev").filter(
        F.col("user_id").between(1, hi // 4)
    )
    assert df.count() == expect.count()
    assert sorted(r.event_id for r in df.collect()) == sorted(
        r.event_id for r in expect.collect()
    )


def test_sort_projection_falls_back_off_key(spark, wh):
    from dev_clickhouse_spark.plans.projection import SortProjection

    sp = SortProjection(wh, "ev", "by_user", ("user_id",))
    df, rep = sp.scan([("eq", "event_type", "click")])
    assert rep.used is None
    assert df.count() == wh.read("ev").filter(
        F.col("event_type") == "click"
    ).count()


def test_sort_projection_incremental_fold_and_rebuild(spark, wh):
    from dev_clickhouse_spark.plans.projection import SortProjection

    sp = SortProjection(wh, "ev", "by_user", ("user_id",))
    sp.ensure()
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh.append("ev", ev.filter(F.col("event_id") % 3 == 1), batch_id=9)
    rep = sp.ensure()
    assert rep.folded_now == 1 and not rep.rebuilt
    wh.compact("ev")
    rep2 = sp.ensure()
    # r10: a full compaction replaces all members with one generation —
    # member-scoped drop + refold of exactly that generation
    assert not rep2.rebuilt and rep2.folded_now == 1
    hi = wh.read("ev").agg(F.max("user_id")).first()[0]
    df, _ = sp.scan([("between", "user_id", 1, hi // 3)])
    expect = wh.read("ev").filter(F.col("user_id").between(1, hi // 3))
    assert df.count() == expect.count()


def _dates_of(wh):
    return sorted(
        r[0] for r in wh.read("ev").select("event_date").distinct().collect()
    )


def test_lightweight_delete_refolds_only_affected_member(spark, wh):
    """r9 verdict #1: a delete addressing rows of ONE member must drop and
    re-fold exactly that member's fold batch; every other member's
    partial states (fold batches) survive untouched."""
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    proj = "ev__proj__" + SPEC.name
    man0 = wh.load_manifest(proj)
    assert len(man0["members"]) == 3  # one fold batch per base member
    # one row, addressed to exactly one member (event_id % 3 == 1 → batch 1)
    victim = wh.read("ev").filter(F.col("event_id") % 3 == 1).first()
    r = wh.delete_where_lightweight(
        "ev", F.col("event_id") == victim.event_id
    )
    assert r["rows_deleted"] == 1
    df, rep = ps.answer(["event_type"], METRICS)
    assert not rep.rebuilt
    assert rep.refolded == 1 and rep.folded_now == 1
    man1 = wh.load_manifest(proj)
    # fold batches 0 and 2 survive byte-identical; batch 1 was replaced
    assert "member=batch-0" in man1["members"]
    assert "member=batch-2" in man1["members"]
    assert "member=batch-1" not in man1["members"]
    assert "member=batch-3" in man1["members"]  # the refold, new seq
    # answers still match the masked base scan exactly
    base = ps._base_scan(["event_type"], METRICS)
    assert _sorted_rows(df) == _sorted_rows(base)


def test_second_delete_same_member_refolds_one_again(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    vic = wh.read("ev").filter(F.col("event_id") % 3 == 2).limit(2).collect()
    wh.delete_where_lightweight("ev", F.col("event_id") == vic[0].event_id)
    _, rep1 = ps.answer(["event_type"], METRICS)
    assert rep1.refolded == 1
    wh.delete_where_lightweight("ev", F.col("event_id") == vic[1].event_id)
    df, rep2 = ps.answer(["event_type"], METRICS)
    assert rep2.refolded == 1 and not rep2.rebuilt
    assert _sorted_rows(df) == _sorted_rows(
        ps._base_scan(["event_type"], METRICS)
    )


def test_lightweight_update_refolds_only_affected_member(spark, wh):
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    victim = wh.read("ev").filter(F.col("event_id") % 3 == 0).first()
    wh.update_where_lightweight(
        "ev", {"value": "value + 1000.0"},
        F.col("event_id") == victim.event_id,
    )
    df, rep = ps.answer(["event_type"], METRICS)
    assert not rep.rebuilt and rep.refolded == 1
    assert _sorted_rows(df) == _sorted_rows(
        ps._base_scan(["event_type"], METRICS)
    )


def test_sort_projection_refolds_member_scoped(spark, wh):
    from dev_clickhouse_spark.plans.projection import SortProjection

    sp = SortProjection(wh, "ev", "by_user", ("user_id",), files_per_fold=4)
    sp.ensure()
    victim = wh.read("ev").filter(F.col("event_id") % 3 == 1).first()
    wh.delete_where_lightweight("ev", F.col("event_id") == victim.event_id)
    rep = sp.ensure()
    assert not rep.rebuilt and rep.refolded == 1 and rep.folded_now == 1
    lo, hi = wh.read("ev").agg(
        F.min("user_id"), F.max("user_id")
    ).first()
    df, _ = sp.scan([("between", "user_id", lo, hi)])
    assert df.filter(F.col("event_id") == victim.event_id).count() == 0
    assert df.count() == wh.read("ev").count()


def test_compaction_after_refolds_converges(spark, wh):
    """Membership rewrite after overlay refolds: the compaction (which
    materializes the DV and gc's it) drops all old fold batches and
    folds the generation — answers must converge to the masked scan."""
    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    victim = wh.read("ev").first()
    wh.delete_where_lightweight("ev", F.col("event_id") == victim.event_id)
    ps.answer(["event_type"], METRICS)
    wh.compact("ev")
    df, rep = ps.answer(["event_type"], METRICS)
    assert not rep.rebuilt and rep.folded_now == 1
    assert _sorted_rows(df) == _sorted_rows(
        ps._base_scan(["event_type"], METRICS)
    )


def test_legacy_sidecar_triggers_one_time_rebuild(spark, wh):
    """A pre-r10 sidecar (folded_members/dv_epoch format) rebuilds once,
    then continues member-scoped."""
    import json as _json
    import os as _os

    ps = ProjectionSet(wh, "ev", [SPEC])
    ps.answer(["event_type"], METRICS)
    p = ps._sidecar_path(SPEC)
    with open(p) as fh:
        side = _json.load(fh)
    legacy = {
        "dims": side["dims"],
        "folded_members": [m for f in side["folds"] for m in f["members"]],
        "fold_seq": side["fold_seq"],
        "dv_epoch": "",
    }
    with open(p, "w") as fh:
        _json.dump(legacy, fh)
    _os.utime(p)
    df, rep = ps.answer(["event_type"], METRICS)
    assert rep.rebuilt and rep.folded_now == 3
    assert _sorted_rows(df) == _sorted_rows(
        ps._base_scan(["event_type"], METRICS)
    )
    _, rep2 = ps.answer(["event_type"], METRICS)
    assert not rep2.rebuilt and rep2.folded_now == 0
