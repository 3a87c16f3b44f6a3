"""One deletion path: a directory some manifest version listed leaves the
disk only through ``Warehouse.gc``.

A plan built over a table (a held DataFrame, a serving view) keeps
reading the rows it was built over across every kind of commit, a
snapshot read serves exactly what its version listed, and ``gc`` sweeps
the superseded directories once no retained version lists them.
"""

from __future__ import annotations

import json
import os

from dev_clickhouse_spark.plans.warehouse import Warehouse
from dev_clickhouse_spark.serving import SqlServingEndpoint
from tests.test_mutations import _mk_events


def _member_dirs(wh: Warehouse, table: str) -> list[str]:
    return sorted(e for e in os.listdir(wh.path(table)) if "=" in e)


def _overlay_dirs(wh: Warehouse, table: str) -> list[str]:
    return sorted(
        e
        for sub in ("_deletes", "_patches")
        if os.path.isdir(os.path.join(wh.path(table), sub))
        for e in os.listdir(os.path.join(wh.path(table), sub))
    )


def _retained_members(wh: Warehouse, table: str) -> list[str]:
    """The members any retained manifest version lists."""
    d = os.path.join(wh.path(table), "_manifest")
    return sorted({
        m
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
        for m in json.load(open(os.path.join(d, f)))["members"]
    })


def _ids(rows) -> list[str]:
    return sorted(r["event_id"] for r in rows)


def test_held_plans_survive_every_commit(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6, 2: 6}), batch_id=1)
    wh.append(t, _mk_events(spark, {3: 4}), batch_id=2)
    wh.delete_where_lightweight(t, "event_id = 'ev-1-0'")
    v0 = wh.load_manifest(t)["version"]
    held = wh.read(t)
    ep = SqlServingEndpoint(spark, {t: lambda s: Warehouse(s, wh.root).read(t)})
    before = _ids(held.collect())
    # the rows each commit leaves, as event ids (``i`` odd is 'high')
    live = set(before)
    assert len(live) == 15

    steps = [
        (lambda: wh.append(t, _mk_events(spark, {4: 3}), batch_id=3),
         lambda ids: ids | {"ev-4-0", "ev-4-1", "ev-4-2"}),
        (lambda: wh.overwrite(t, wh.read(t).filter("event_id != 'ev-2-1'")),
         lambda ids: ids - {"ev-2-1"}),
        (lambda: wh.compact(t), lambda ids: ids),
        (lambda: wh.delete_where_lightweight(t, "event_id = 'ev-2-2'"),
         lambda ids: ids - {"ev-2-2"}),
        (lambda: wh.delete_where(t, "severity = 'high'"),
         lambda ids: {i for i in ids if int(i.rsplit("-", 1)[1]) % 2 == 0}),
        (lambda: wh.drop_partition(t, "2024-01-03"),
         lambda ids: {i for i in ids if not i.startswith("ev-3-")}),
    ]
    for commit, effect in steps:
        commit()
        live = effect(live)
        assert _ids(held.collect()) == before
        assert _ids(ep.execute(f"SELECT event_id FROM {t}")) == before
        assert _ids(wh.read_at_version(t, v0).collect()) == before
        assert _ids(wh.read(t).collect()) == sorted(live)

    # once the keep window has passed, gc sweeps every unlisted directory
    for _ in range(Warehouse._MANIFEST_KEEP):
        wh._flip(t, lambda man: True)
    assert wh.gc(t, min_age_sec=0)
    man = wh.load_manifest(t)
    assert _member_dirs(wh, t) == sorted(man["members"])
    assert _overlay_dirs(wh, t) == sorted(e["name"] for e in man["overlays"])
    assert _ids(wh.read(t).collect()) == sorted(live)


def test_maintenance_tick_gcs_scd2_snapshots(spark, tmp_path):
    from tests.test_siem import W2, _mk_runner

    runner = _mk_runner(spark, tmp_path)
    runner.pipelines = [s for s in runner.pipelines if s.mode != "append"]
    snapshots = [s.target_table for s in runner.pipelines]
    assert sorted(snapshots) == ["dim_agent", "dim_host", "dim_rule"]
    wh = runner.wh
    # every run overwrites each snapshot, one version per run; run until
    # the first run's version has left the keep window
    runner.run_window(*W2)
    first = {t: wh.load_manifest(t)["members"] for t in snapshots}
    for _ in range(Warehouse._MANIFEST_KEEP + 1):
        runner.run_window(*W2)
    assert set(first["dim_agent"]) <= set(_member_dirs(wh, "dim_agent"))
    rows = {t: sorted(map(tuple, wh.read(t).collect())) for t in snapshots}
    runner.maintenance_tick(gc_min_age_sec=0.0)
    for t in snapshots:
        assert _member_dirs(wh, t) == _retained_members(wh, t)
        assert not set(first[t]) & set(_member_dirs(wh, t))
        assert sorted(map(tuple, wh.read(t).collect())) == rows[t]


def test_maintenance_tick_gcs_projection_fold_tables(spark, tmp_path):
    from dev_clickhouse_spark.plans import PipelineRunner

    runner = PipelineRunner(spark, str(tmp_path / "wh"), pipelines=[])
    wh = runner.wh
    t = "suricata_events_raw"
    for b, days in enumerate([{1: 4}, {2: 4}, {3: 4}]):
        wh.append(t, _mk_events(spark, days), batch_id=b)
    wh.declare_projection(t, "by_sev", ["severity"], [("count", None)])
    fold = f"{t}__proj__by_sev"
    runner.maintenance_tick(tables=[t], gc_min_age_sec=0.0)
    folded = wh.load_manifest(fold)["members"]
    assert folded
    # a lightweight DELETE invalidates the fold batch of the member it
    # addresses: ensure() drops that fold member and folds it again
    wh.delete_where_lightweight(t, "event_id = 'ev-2-0'")
    wh.projection_set_for(t).ensure()
    assert set(folded) - set(wh.load_manifest(fold)["members"])
    for _ in range(Warehouse._MANIFEST_KEEP):
        wh._flip(fold, lambda man: True)
    runner.maintenance_tick(tables=[t], gc_min_age_sec=0.0)
    assert _member_dirs(wh, fold) == sorted(wh.load_manifest(fold)["members"])
