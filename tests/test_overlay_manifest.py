"""Lightweight DELETE/UPDATE overlays are manifest entries.

A deletion vector — a lightweight DELETE's, or a lightweight UPDATE's
together with the member it appended — is visible only once the manifest
lists it, every rewrite (compaction, ALTER mutation) refuses to flip over
an overlay committed after its snapshot, an UPDATE refuses to commit over
an overlay addressing its members committed after its snapshot (and a
DELETE over such an UPDATE), an overlay never committed is swept by
``gc()``, and the overlay bookkeeping (``gc_deletes``, projection
invalidation) reads the manifest instead of running Spark jobs.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.io import load_table
from dev_clickhouse_spark.plans.projection import (
    Measure,
    ProjectionSet,
    ProjectionSpec,
    _plan_folds,
)
from dev_clickhouse_spark.plans.warehouse import Warehouse
from tests.test_deletion_vectors import SF


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


def _member_dirs(w, table):
    return sorted(e for e in os.listdir(w.path(table)) if "=" in e)


def _inside_rewrite(monkeypatch, w, write):
    """Run ``write()`` once, right after the first member a rewrite (or a
    lightweight UPDATE) writes, before its manifest flip; returns the list
    its result lands in."""
    orig = w._rewrite_member
    got: list = []

    def racing(table, df, kind):
        member = orig(table, df, kind)
        if not got:
            got.append(None)  # ``write`` may itself write a member
            got[0] = write()
        return member

    monkeypatch.setattr(w, "_rewrite_member", racing)
    return got


def test_delete_committed_inside_compaction_stays_deleted(
    spark, wh, monkeypatch
):
    n = wh.read("ev").count()
    members = wh.load_manifest("ev")["members"]
    got = _inside_rewrite(
        monkeypatch, wh,
        lambda: wh.delete_where_lightweight("ev", "event_type = 'click'"),
    )
    wh.compact("ev")
    deleted = got[0]["rows_deleted"]
    assert deleted > 0
    # the compaction never applied the DV: it discarded its rewrite
    assert wh.load_manifest("ev")["members"] == members
    assert _member_dirs(wh, "ev") == sorted(members)
    assert _kinds(wh, "ev") == ["dv"]
    assert wh.read("ev").filter("event_type = 'click'").count() == 0
    assert wh.read("ev").count() == n - deleted
    monkeypatch.undo()
    wh.compact("ev")  # the next merge materializes the mask
    assert _kinds(wh, "ev") == []
    assert wh.read("ev").filter("event_type = 'click'").count() == 0
    assert wh.read("ev").count() == n - deleted


def test_update_committed_inside_compaction_stays_updated(
    spark, wh, monkeypatch
):
    n = wh.read("ev").count()
    got = _inside_rewrite(
        monkeypatch, wh,
        lambda: wh.update_where_lightweight(
            "ev", {"value": "value + 1000"}, "event_type = 'click'"
        ),
    )
    wh.compact("ev")
    updated = got[0]["rows_updated"]
    assert updated > 0
    for kinds in (["dv"], []):  # then the next merge materializes it
        clicks = wh.read("ev").filter("event_type = 'click'")
        assert clicks.filter("value >= 1000").count() == updated
        assert clicks.count() == updated
        assert wh.read("ev").count() == n
        assert _kinds(wh, "ev") == kinds
        monkeypatch.undo()
        wh.compact("ev")


@pytest.mark.parametrize("racer", ["delete", "update"])
def test_update_racing_an_overlapping_mutation_retries(
    spark, wh, monkeypatch, racer
):
    """An UPDATE whose matched rows another lightweight mutation
    addressed after the UPDATE's snapshot would resurrect the deleted
    rows or duplicate the moved ones: its commit refuses, lists nothing
    and removes both its deletion vector and its member."""
    n = wh.read("ev").count()
    n_click = wh.read("ev").filter("event_type = 'click'").count()
    members = wh.load_manifest("ev")["members"]
    race = {
        "delete": lambda: wh.delete_where_lightweight(
            "ev", "event_type = 'click'"),
        "update": lambda: wh.update_where_lightweight(
            "ev", {"value": "value + 1000"}, "event_type = 'click'"),
    }[racer]
    got = _inside_rewrite(monkeypatch, wh, race)
    with pytest.raises(RuntimeError, match="retry"):
        wh.update_where_lightweight(
            "ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
        )
    monkeypatch.undo()
    verb = "rows_deleted" if racer == "delete" else "rows_updated"
    assert got[0][verb] == n_click > 0
    man = wh.load_manifest("ev")
    (entry,) = man["overlays"]  # the racer's alone
    assert man["members"] == members + ([entry["adds"]] if "adds" in entry
                                        else [])
    assert _member_dirs(wh, "ev") == sorted(man["members"])
    assert os.listdir(os.path.join(wh.path("ev"), "_deletes")) == [
        entry["name"]
    ]
    got = wh.read("ev")
    assert got.filter("event_type = 'tap'").count() == 0
    if racer == "delete":
        assert got.filter("event_type = 'click'").count() == 0
        assert got.count() == n - n_click
    else:
        clicks = got.filter("event_type = 'click'")
        assert clicks.filter("value >= 1000").count() == n_click
        assert clicks.count() == n_click and got.count() == n


def _commit_after(monkeypatch, w, write):
    """Run ``write()`` once, right before the next lightweight mutation's
    commit flip (after its scan and writes)."""
    orig = w._commit_overlay

    def late(*args):
        monkeypatch.setattr(w, "_commit_overlay", orig)
        write()
        return orig(*args)

    monkeypatch.setattr(w, "_commit_overlay", late)


def test_delete_racing_an_overlapping_update_retries(spark, wh, monkeypatch):
    """The UPDATE moved the rows the DELETE matched to its own member,
    where the DELETE's mask would miss them: the DELETE refuses."""
    n = wh.read("ev").count()
    n_click = wh.read("ev").filter("event_type = 'click'").count()
    _commit_after(monkeypatch, wh, lambda: wh.update_where_lightweight(
        "ev", {"value": "value + 1000"}, "event_type = 'click'"))
    with pytest.raises(RuntimeError, match="retry"):
        wh.delete_where_lightweight("ev", "event_type = 'click'")
    (entry,) = wh.load_manifest("ev")["overlays"]
    assert "adds" in entry
    assert os.listdir(os.path.join(wh.path("ev"), "_deletes")) == [
        entry["name"]
    ]
    clicks = wh.read("ev").filter("event_type = 'click'")
    assert clicks.filter("value >= 1000").count() == n_click
    assert wh.read("ev").count() == n


def test_concurrent_deletes_both_apply(spark, wh, monkeypatch):
    n = wh.read("ev").count()
    n_gone = wh.read("ev").filter(
        "event_type IN ('click', 'view')").count()
    _commit_after(monkeypatch, wh, lambda: wh.delete_where_lightweight(
        "ev", "event_type = 'view'"))
    assert wh.delete_where_lightweight("ev", "event_type = 'click'")[
        "rows_deleted"] > 0
    assert _kinds(wh, "ev") == ["dv", "dv"]
    assert wh.read("ev").filter(
        "event_type IN ('click', 'view')").count() == 0
    assert wh.read("ev").count() == n - n_gone


def test_alter_delete_raises_when_a_delete_commits_inside_it(
    spark, wh, monkeypatch
):
    views = wh.read("ev").filter("event_type = 'view'").count()
    members = wh.load_manifest("ev")["members"]
    got = _inside_rewrite(
        monkeypatch, wh,
        lambda: wh.delete_where_lightweight("ev", "event_type = 'click'"),
    )
    with pytest.raises(RuntimeError, match="retry"):
        wh.delete_where("ev", "event_type = 'view'")
    assert got[0]["rows_deleted"] > 0
    # the ALTER changed nothing; the lightweight DELETE stands
    assert wh.load_manifest("ev")["members"] == members
    assert _member_dirs(wh, "ev") == sorted(members)
    assert wh.read("ev").filter("event_type = 'view'").count() == views
    assert wh.read("ev").filter("event_type = 'click'").count() == 0


def test_delete_scanned_before_a_compaction_flip_raises(
    spark, wh, monkeypatch
):
    """The other order: the compaction flips while the DELETE writes, so
    the DV's rows address members no read scans any more.  Committing it
    would lose the delete silently; it raises and leaves no overlay."""
    n = wh.read("ev").count()
    orig = wh._commit_overlay

    def late(*args):
        wh.compact("ev")
        return orig(*args)

    monkeypatch.setattr(wh, "_commit_overlay", late)
    with pytest.raises(RuntimeError, match="retry"):
        wh.delete_where_lightweight("ev", "event_type = 'click'")
    assert _kinds(wh, "ev") == []
    assert os.listdir(os.path.join(wh.path("ev"), "_deletes")) == []
    assert wh.read("ev").count() == n


@pytest.mark.parametrize("kind", ["dv", "update"])
def test_uncommitted_overlay_is_invisible_and_swept(
    spark, wh, monkeypatch, kind
):
    class Crash(Exception):
        pass

    def crash(table, edit):
        raise Crash("killed before the manifest flip")

    n_click = wh.read("ev").filter("event_type = 'click'").count()
    version = wh.load_manifest("ev")["version"]
    members = _member_dirs(wh, "ev")
    monkeypatch.setattr(wh, "_flip", crash)
    with pytest.raises(Crash):
        if kind == "dv":
            wh.delete_where_lightweight("ev", "event_type = 'click'")
        else:
            wh.update_where_lightweight(
                "ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
            )
    monkeypatch.undo()
    (left,) = os.listdir(os.path.join(wh.path("ev"), "_deletes"))
    # the UPDATE's member was written too, and is no more listed than its
    # deletion vector
    added = sorted(set(_member_dirs(wh, "ev")) - set(members))
    assert len(added) == (kind == "update")
    assert wh.load_manifest("ev")["version"] == version
    assert wh.load_manifest("ev")["members"] == members
    assert wh.overlay_files("ev") == []
    assert wh.read("ev").filter("event_type = 'click'").count() == n_click
    assert wh.gc("ev", min_age_sec=3600) == []  # in-flight guard
    assert wh.gc("ev", min_age_sec=0) == sorted(
        added + [os.path.join("_deletes", left)]
    )
    assert os.listdir(os.path.join(wh.path("ev"), "_deletes")) == []
    assert _member_dirs(wh, "ev") == members


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"overlay-probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_overlay_bookkeeping_starts_no_spark_job(spark, wh):
    spec = ProjectionSpec(
        name="by_type", dims=("event_type",), measures=(Measure("count"),)
    )
    ps = ProjectionSet(wh, "ev", [spec])
    ps.ensure()
    # a DV addressing only the member of batch 1
    wh.delete_where_lightweight("ev", "event_id % 3 = 1 AND value > 200")
    (entry,) = wh.load_manifest("ev")["overlays"]
    assert entry["members"] == ["member=batch-1"]
    man = wh.load_manifest("ev")
    (folds, _seq, rebuilt, refolded, changed), jobs = _jobs(
        spark,
        lambda: _plan_folds(
            wh, ps._proj_table(spec), ps._load_sidecar(spec),
            man["members"], man["overlays"],
        ),
    )
    assert jobs == 0
    assert not rebuilt and refolded == 1 and changed
    assert [f["members"] for f in folds] == [
        ["member=batch-0"], ["member=batch-2"]
    ]
    # an ALTER rewrite of batch 1 replaces the member the DV addresses, and
    # its commit drops the then spent DV entry; the DV directory stays for
    # the versions that list it, until gc
    wh.delete_where("ev", "event_id % 3 = 1 AND event_type = 'view'")
    assert _kinds(wh, "ev") == []
    assert os.listdir(os.path.join(wh.path("ev"), "_deletes")) == [
        entry["name"]
    ]
    assert wh.parts("ev").filter("kind = 'deletion_vector'").count() == 0
    assert all(
        r.is_materialized for r in wh.mutations("ev").collect()
    )
    # no longer refused as an ATTACH source (``ev`` stores no
    # ``event_date=`` directories, so nothing is linked)
    assert wh.attach_partition("ev", "ev_copy", "2024-01-01") == 0
    removed, jobs = _jobs(spark, lambda: wh.gc_deletes("ev"))
    assert (removed, jobs) == (0, 0)


def test_maintenance_tick_compacts_appended_gold_tables(spark, tmp_path):
    import datetime as dt

    from tests.test_siem import (
        W1, W2, _mk_runner, raw_df, suricata_payload, wazuh_payload,
        zeek_payload,
    )

    runner = _mk_runner(spark, tmp_path)
    runner.ingest_raw(raw_df(spark, [
        wazuh_payload("w5", "10.1.0.9", "2026-01-08T11:10:00.000Z"),
        suricata_payload("s3", "2026-01-08T11:20:00.000Z"),
        zeek_payload("z3", "2026-01-08T11:30:00.000Z"),
    ]))
    for w in (W1, W2, (W2[1], W2[1] + dt.timedelta(hours=1))):
        runner.run_window(*w)
    wh = runner.wh
    appended = [
        s.target_table for s in runner.pipelines
        if s.mode == "append" and wh.exists(s.target_table)
    ]
    snapshots = [
        s.target_table for s in runner.pipelines if s.mode != "append"
    ]
    before = {t: sorted(map(tuple, wh.read(t).collect())) for t in appended}
    scd2 = {t: wh.load_manifest(t)["members"] for t in snapshots}
    assert len(wh.load_manifest("fact_wazuh_events")["members"]) == 3
    out = runner.maintenance_tick(gc_min_age_sec=0.0)
    assert set(appended) <= set(out)
    for t in appended:
        members = wh.load_manifest(t)["members"]
        # the tiered merge folds every fresh member into one generation
        assert len(members) <= 1, (t, members)
        assert sorted(map(tuple, wh.read(t).collect())) == before[t], t
    for t in ("fact_wazuh_events", "bridge_wazuh_event_tag"):
        assert len(wh.load_manifest(t)["members"]) == 1
    # SCD2 snapshots are not merged: they are one member already
    assert {t: wh.load_manifest(t)["members"] for t in snapshots} == scd2


def test_concurrent_deletes_and_compactions_lose_no_delete(spark, wh):
    """Stress: lightweight DELETEs race repeated compactions on threads.
    A write whose snapshot went stale raises and is retried; every delete
    that reported success stays applied.  The compactions leave the old
    members on disk for ``gc``, as they must while readers — here the
    deletes' scans — may hold a plan over them."""
    import sys
    import threading

    n = wh.read("ev").count()
    deleted: dict[int, int] = {}
    errors: list[BaseException] = []

    def retried(fn):
        for _ in range(20):
            try:
                return fn()
            except RuntimeError as e:
                if "retry" not in str(e):
                    raise
        raise AssertionError("no attempt committed in 20 tries")

    def deleter():
        try:
            for k in range(4):
                deleted[k] = retried(lambda: wh.delete_where_lightweight(
                    "ev", f"event_id % 7 = {k}"))["rows_deleted"]
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    def compactor():
        try:
            for _ in range(3):
                wh.compact("ev")
        except BaseException as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=f) for f in (deleter, compactor)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert sorted(deleted) == [0, 1, 2, 3] and all(deleted.values())
    got = wh.read("ev")
    assert got.filter("event_id % 7 < 4").count() == 0
    assert got.count() == n - sum(deleted.values())
