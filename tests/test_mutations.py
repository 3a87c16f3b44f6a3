"""Mutations: ALTER TABLE … DELETE / UPDATE, DROP PARTITION, row TTL.

ClickHouse mutations rewrite only the parts whose rows match and commit by
swapping the part set (reference MergeTree tables are maintained with
ALTER … DELETE/UPDATE, e.g. scripts/alter_bronze_timezone_asia_jakarta.sql
runs point ALTERs against live tables); DROP PARTITION and
``ttl_only_drop_parts`` remove whole partitions without reading a row.
The manifest layout reproduces all of it: affected members → new
``member=mutated-*`` members, pointer flip, ledger untouched.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.plans.warehouse import Warehouse


def _mk_events(spark, day_rows):
    """day_rows: {day_int: n_rows}; event_ts = 2024-01-<day> 12:00 + i sec."""
    rows = []
    for day, n in day_rows.items():
        for i in range(n):
            rows.append(
                (
                    f"ev-{day}-{i}",
                    datetime.datetime(2024, 1, day, 12, 0, i),
                    "suricata",
                    f"sensor-{i % 3}",
                    "alert",
                    "high" if i % 2 else "low",
                    f"10.0.0.{i % 5}",
                    "10.1.0.1",
                    1000 + i,
                    443,
                    "tcp",
                    100 + i,
                    3,
                    f"flow-{i}",
                    "sig",
                    7,
                    "cat",
                    "allowed",
                    None,
                    ["t1"],
                    "msg",
                    "{}",
                )
            )
    from dev_clickhouse_spark.schemas import BRONZE_SCHEMAS

    return spark.createDataFrame(rows, BRONZE_SCHEMAS["suricata_events_raw"])


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_delete_where_manifest_rewrites_only_affected_members(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6}), batch_id=1)
    wh.append(t, _mk_events(spark, {2: 6}), batch_id=2)
    before = wh.read(t).count()
    res = wh.delete_where(t, "event_date = DATE'2024-01-02' AND severity = 'high'")
    assert res["rows_deleted"] == 3
    # only the batch containing 2024-01-02 rows was rewritten
    assert res["members_rewritten"] == 1 and res["members_kept"] == 1
    man = wh.load_manifest(t)
    assert any(m.startswith("member=mutated-") for m in man["members"])
    assert "member=batch-1" in man["members"]
    assert wh.read(t).count() == before - 3
    # the replay ledger is untouched: a replayed batch still skips
    assert wh.batch_committed(t, 2)
    wh.append(t, _mk_events(spark, {2: 6}), batch_id=2)  # replay → no-op
    assert wh.read(t).count() == before - 3


def test_update_set_applies_only_to_matching_rows(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6}), batch_id=1)
    res = wh.update_set(
        t, {"severity": "'critical'", "dest_port": "dest_port + 1"},
        "severity = 'high'",
    )
    assert res["rows_updated"] == 3
    got = wh.read(t)
    assert got.filter("severity = 'critical'").count() == 3
    assert got.filter("severity = 'high'").count() == 0
    # untouched rows keep their values
    assert got.filter("severity = 'low' AND dest_port = 443").count() == 3
    assert got.filter("dest_port = 444").count() == 3


def test_update_unknown_column_refused(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 2}), batch_id=1)
    with pytest.raises(ValueError, match="unknown columns"):
        wh.update_set(t, {"nope": "1"}, "1=1")


def test_delete_where_plain_layout(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6}))
    res = wh.delete_where(t, F.col("severity") == "high")
    assert res["rows_deleted"] == 3
    assert wh.read(t).filter("severity = 'high'").count() == 0
    assert wh.read(t).count() == 3


def test_delete_no_match_is_metadata_noop(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 4}), batch_id=1)
    v0 = wh.load_manifest(t)["version"]
    res = wh.delete_where(t, "severity = 'nonexistent'")
    assert res["rows_deleted"] == 0 and res["members_rewritten"] == 0
    assert wh.load_manifest(t)["version"] == v0  # no pointer flip


def test_drop_partition_is_metadata_only(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 4, 2: 5}), batch_id=1)
    wh.append(t, _mk_events(spark, {3: 2}), batch_id=2)
    # capture inodes of a kept partition's files: a hardlink clone must NOT
    # rewrite them (metadata-only guarantee)
    member = "member=batch-1"
    kept_dir = os.path.join(wh.path(t), member, "event_date=2024-01-01")
    inodes_before = {
        f: os.stat(os.path.join(kept_dir, f)).st_ino
        for f in os.listdir(kept_dir)
        if f.endswith(".parquet")
    }
    n = wh.drop_partition(t, "2024-01-02")
    assert n == 1  # only batch 1 contained that date
    got = wh.read(t)
    assert got.filter("event_date = DATE'2024-01-02'").count() == 0
    assert got.count() == 4 + 2
    man = wh.load_manifest(t)
    new_member = [
        m for m in man["members"] if m.startswith("member=mutated-")
    ][0]
    new_kept = os.path.join(wh.path(t), new_member, "event_date=2024-01-01")
    inodes_after = {
        f: os.stat(os.path.join(new_kept, f)).st_ino
        for f in os.listdir(new_kept)
        if f.endswith(".parquet")
    }
    assert inodes_after == inodes_before  # same files, hardlinked


def test_drop_partition_entire_member_vanishes(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 3}), batch_id=1)
    wh.append(t, _mk_events(spark, {2: 3}), batch_id=2)
    assert wh.drop_partition(t, "2024-01-02") == 1
    man = wh.load_manifest(t)
    # batch 2 was ONLY the dropped date → member removed, not replaced
    assert man["members"] == ["member=batch-1"]
    assert wh.read(t).count() == 3
    assert wh.batch_committed(t, 2)  # ledger still prevents replay


def test_apply_ttl_drops_old_partitions_and_trims_boundary(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 4, 2: 4, 3: 4}), batch_id=1)
    # cutoff mid-day on Jan 2: Jan 1 partition drops whole (fast path),
    # Jan 2 is the boundary (rows at 12:00:00..03 → 2 before 12:00:02)
    res = wh.apply_ttl(t, datetime.datetime(2024, 1, 2, 12, 0, 2))
    assert res["partitions_dropped"] == 1
    assert res["rows_deleted"] == 2  # boundary-day rows only
    got = wh.read(t)
    assert got.filter("event_date = DATE'2024-01-01'").count() == 0
    assert got.filter("event_date = DATE'2024-01-02'").count() == 2
    assert got.filter("event_date = DATE'2024-01-03'").count() == 4


def test_compact_with_ttl_folds_expiry_into_merge(spark, wh):
    t = "suricata_events_raw"
    for b in range(3):
        wh.append(t, _mk_events(spark, {b + 1: 3}), batch_id=b)
    wh.compact(t, ttl_older_than=datetime.datetime(2024, 1, 2, 0, 0, 0))
    got = wh.read(t)
    assert got.filter("event_date = DATE'2024-01-01'").count() == 0
    assert got.count() == 6
    man = wh.load_manifest(t)
    assert len(man["members"]) == 1  # merged


def test_tiered_compaction_bounds_generations(spark, wh):
    t = "suricata_events_raw"
    total = 0
    n_gens = []
    for b in range(10):
        wh.append(t, _mk_events(spark, {(b % 3) + 1: 4}), batch_id=b)
        total += 4
        if (b + 1) % 2 == 0:
            wh.compact(t, mode="tiered", max_generations=3)
            members = wh.load_manifest(t)["members"]
            assert not any(m.startswith("member=batch-") for m in members)
            n_gens.append(
                sum(1 for m in members if m.startswith("member=compacted-"))
            )
    # generations accumulate 1, 2, 3 then a major merge folds them to 1
    assert max(n_gens) <= 3
    assert min(n_gens[2:]) == 1  # a major merge happened
    assert wh.read(t).count() == total
    # ledger intact through every tier flip
    assert all(wh.batch_committed(t, b) for b in range(10))


def test_tiered_noop_without_new_batches(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 4}), batch_id=0)
    wh.compact(t, mode="tiered")
    v = wh.load_manifest(t)["version"]
    n = wh.compact(t, mode="tiered")  # nothing new → no rewrite
    assert wh.load_manifest(t)["version"] == v
    assert n >= 1
    assert wh.read(t).count() == 4


def test_batch_append_writes_one_part_per_date(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 50, 2: 50}), batch_id=0)
    root = os.path.join(wh.path(t), "member=batch-0")
    for d in ("2024-01-01", "2024-01-02"):
        files = [
            f for f in os.listdir(os.path.join(root, f"event_date={d}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1  # MergeTree one-part-per-insert shape


def test_parts_reports_member_inventory(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 10, 2: 10}), batch_id=0)
    wh.append(t, _mk_events(spark, {3: 10}), batch_id=1)
    wh.compact(t, mode="tiered")
    wh.append(t, _mk_events(spark, {4: 10}), batch_id=2)
    got = {r["member"]: r for r in wh.parts(t).collect()}
    kinds = sorted(r["kind"] for r in got.values())
    assert kinds == ["batch", "compacted"]
    comp = next(r for r in got.values() if r["kind"] == "compacted")
    assert comp["n_partitions"] == 3 and comp["n_files"] == 3
    assert comp["bytes"] > 0
    batch = next(r for r in got.values() if r["kind"] == "batch")
    assert batch["n_partitions"] == 1


def test_mutation_preserves_time_travel(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 5}), batch_id=1)
    v_before = wh.load_manifest(t)["version"]
    wh.delete_where(t, "severity = 'high'")
    # pre-mutation snapshot still serves its exact member set
    assert wh.read_at_version(t, v_before).count() == 5
    assert wh.read(t).count() == 3


def test_gc_sweeps_superseded_mutated_members(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 5}), batch_id=1)
    wh.delete_where(t, "severity = 'high'")
    wh.delete_where(t, "severity = 'low'")
    # age out: prune retained versions by forcing flips past the keep window
    with wh._manifest_lock(t):
        man = wh.load_manifest(t)
        man["version"] += Warehouse._MANIFEST_KEEP + 1
        wh._write_manifest(t, man)
    for e in os.listdir(wh.path(t)):
        full = os.path.join(wh.path(t), e)
        if os.path.isdir(full) and not e.startswith("_"):
            os.utime(full, (0, 0))
    swept = wh.gc(t, min_age_sec=0)
    live = set(wh.load_manifest(t)["members"])
    assert all(s not in live for s in swept)
    assert any(
        s.startswith(("member=mutated-", "member=batch-")) for s in swept
    )
    assert wh.read(t).count() == 0  # both severities deleted


def test_tables_reports_warehouse_inventory(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 10}), batch_id=0)
    wh.append(t, _mk_events(spark, {2: 10}), batch_id=1)
    got = {r["table"]: r for r in wh.tables().collect()}
    assert t in got
    row = got[t]
    assert row["n_members"] == 2
    assert row["n_committed_batches"] == 2
    assert row["n_files"] >= 2 and row["bytes"] > 0
    assert row["version"] == wh.load_manifest(t)["version"]
    # the folded batch members stay on disk until gc: the inventory counts
    # only the member the manifest lists
    wh.compact(t)
    assert len(os.listdir(wh.path(t))) > 2
    (row,) = [r for r in wh.tables().collect() if r["table"] == t]
    (part,) = wh.parts(t).collect()
    assert row["n_members"] == 1
    assert (row["n_files"], row["bytes"]) == (part["n_files"], part["bytes"])


def test_table_columns_reports_schema(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 3}), batch_id=0)
    cols = {r["column"]: r for r in wh.table_columns(t).collect()}
    data_cols = wh.read(t).columns
    assert set(cols) == set(data_cols)
    # positions are a permutation of 0..n-1 in declared order
    assert sorted(r["position"] for r in cols.values()) == list(
        range(len(data_cols))
    )
    assert all(r["type"] for r in cols.values())


def test_drop_partition_preserves_lightweight_deletes(spark, wh):
    """ADVICE r9 (high): DROP PARTITION hardlink-clones members under new
    names; live deletion vectors address the OLD paths, so without a
    remap the masked rows of the SURVIVING partitions resurrect (and the
    next gc_deletes collects the orphaned DV permanently)."""
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6, 2: 6}), batch_id=1)
    r = wh.delete_where_lightweight(
        t, "event_date = DATE'2024-01-01' AND severity = 'high'"
    )
    assert r["rows_deleted"] == 3
    wh.drop_partition(t, "2024-01-02")
    got = wh.read(t)
    assert got.filter("event_date = DATE'2024-01-02'").count() == 0
    # the day-1 deletes must still mask after the member swap
    assert got.filter("severity = 'high'").count() == 0
    assert got.count() == 3
    # and the remapped DV survives a GC pass (it references live files)
    wh.gc_deletes(t)
    assert got.filter("severity = 'high'").count() == 0
    assert wh.read(t).count() == 3


def test_drop_partition_preserves_patches_and_kills_dropped_ones(spark, wh):
    """Patched rows of surviving partitions keep their patch; patch rows
    addressing the dropped partition must NOT be re-injected by the
    patch union after their originals vanish."""
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6, 2: 6}), batch_id=1)
    r = wh.update_where_lightweight(
        t, {"alert_action": "'patched'"}, "severity = 'high'"
    )
    assert r["rows_updated"] == 6  # 3 per day
    wh.drop_partition(t, "2024-01-01")
    got = wh.read(t)
    assert got.count() == 6  # day-1 rows (incl. its patched ones) gone
    assert got.filter("event_date = DATE'2024-01-01'").count() == 0
    assert got.filter("alert_action = 'patched'").count() == 3
    wh.gc_deletes(t)
    assert wh.read(t).filter("alert_action = 'patched'").count() == 3


def test_drop_partition_overlay_noop_when_no_overlays(spark, wh):
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 4, 2: 4}), batch_id=1)
    assert wh.drop_partition(t, "2024-01-02") == 1
    assert wh.load_manifest(t)["overlays"] == []
    assert wh.read(t).count() == 4


def test_patch_seq_survives_partial_gc(spark, wh):
    """ADVICE r9 (medium): a patch seq derived from the entry COUNT reuses
    a live sequence after a partial GC removes an older patch while a
    newer one survives — two patches with equal seq make latest-wins
    nondeterministic.  Seq must come from the max live sequence."""
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 4}), batch_id=1)
    wh.update_where_lightweight(t, {"alert_action": "'p0'"}, "dest_port = 443")
    wh.update_where_lightweight(t, {"alert_action": "'p1'"}, "dest_port = 443")
    entries = wh.load_manifest(t)["overlays"]
    assert [e["seq"] for e in entries] == [0, 1]

    # simulate a partial GC: the older patch retires, the newer survives
    def retire(man):
        man["overlays"] = man["overlays"][1:]
        return True

    wh._flip(t, retire)
    wh.update_where_lightweight(t, {"alert_action": "'p2'"}, "dest_port = 443")
    seqs = sorted(e["seq"] for e in wh.load_manifest(t)["overlays"])
    assert seqs == [1, 2]  # no collision with the survivor
    got = wh.read(t).filter("dest_port = 443").select("alert_action").collect()
    assert {r.alert_action for r in got} == {"p2"}  # latest wins, deterministic


def test_lightweight_update_assignments_see_pre_update_row(spark, wh):
    """ADVICE r9 (low): all assignment RHS evaluate against the ORIGINAL
    row (ClickHouse ALTER UPDATE and _mutate semantics) — a swap must
    swap, not chain."""
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 2}), batch_id=1)
    before = {
        r.event_id: (r.src_ip, r.dest_ip) for r in wh.read(t).collect()
    }
    wh.update_where_lightweight(
        t, {"src_ip": "dest_ip", "dest_ip": "src_ip"}, "1=1"
    )
    after = {
        r.event_id: (r.src_ip, r.dest_ip) for r in wh.read(t).collect()
    }
    for k, (s, d) in before.items():
        assert after[k] == (d, s)


def test_mutations_log_reports_all_kinds_and_materialization(spark, wh):
    """system.mutations analog: every mutation command gets a log row with
    its text, rows affected, and is_materialized — part rewrites are
    materialized by construction, lightweight overlays only once a merge
    folds them and GC collects the overlay file."""
    t = "suricata_events_raw"
    wh.append(t, _mk_events(spark, {1: 6}), batch_id=1)
    wh.append(t, _mk_events(spark, {2: 6}), batch_id=2)
    wh.delete_where(t, "event_date = DATE'2024-01-02' AND severity = 'high'")
    wh.delete_where_lightweight(t, "severity = 'high'")
    wh.update_where_lightweight(
        t, {"alert_action": "'blocked'"}, "severity = 'low'"
    )
    rows = {r["mutation_id"]: r for r in wh.mutations(t).collect()}
    assert len(rows) == 3
    assert rows[0]["kind"] == "ALTER_DELETE"
    assert rows[0]["rows_affected"] == 3
    assert rows[0]["members_rewritten"] == 1
    assert rows[0]["is_materialized"]  # part rewrite: done by construction
    assert "severity = 'high'" in rows[1]["command"]
    assert rows[1]["kind"] == "DELETE_LIGHTWEIGHT"
    assert rows[1]["rows_affected"] == 3  # day-1 highs (day-2 already gone)
    assert not rows[1]["is_materialized"]  # DV still live
    assert rows[2]["kind"] == "UPDATE_LIGHTWEIGHT"
    assert "alert_action = 'blocked'" in rows[2]["command"]
    assert rows[2]["rows_affected"] == 6
    assert not rows[2]["is_materialized"]
    # a no-op re-delete logs rows_affected=0 and is immediately "done"
    wh.delete_where_lightweight(t, "severity = 'high'")
    rows = {r["mutation_id"]: r for r in wh.mutations(t).collect()}
    assert rows[3]["rows_affected"] == 0 and rows[3]["is_materialized"]
    # merge + GC materializes the overlays: every row flips to done
    wh.compact(t)
    wh.gc_deletes(t)
    assert all(r["is_materialized"] for r in wh.mutations(t).collect())
    # log survives, data unaffected: 12 - 3 deleted - 3 lightweight = 6
    assert wh.read(t).count() == 6


def test_ttl_group_by_rollup(spark, tmp_path):
    """Rollup TTL: expired rows collapse per group with aggregated SET
    columns; live rows pass through; totals conserved; mutation logged."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    old = dt.datetime(2026, 1, 1, 0, 0)
    new = dt.datetime(2026, 2, 1, 0, 0)
    df = spark.createDataFrame(
        [
            (1, 10, "a", old, 1.0),
            (2, 10, "a", old, 2.0),
            (3, 10, "b", old, 4.0),
            (4, 20, "a", new, 8.0),
            (5, 10, "a", new, 16.0),
        ],
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double",
    )
    wh.save_schema_override("t", df.schema)
    wh.append(t := "t", df, batch_id=0)
    stats = wh.apply_ttl_group_by(
        t, dt.datetime(2026, 1, 15), group_by=["user_id", "event_type"],
        aggregates={"value": "sum(value)", "ts": "max(ts)",
                    "event_id": "min(event_id)"},
        ttl_col="ts", stats=True,
    )
    assert stats == {"rows_before": 5, "rows_after": 4, "groups": 2}
    rows = {
        (r.user_id, r.event_type, r.event_id): r.value
        for r in wh.read(t).collect()
    }
    # the two old (10, a) rows collapsed, keeping min id + summed value
    assert rows[(10, "a", 1)] == 3.0
    assert rows[(10, "b", 3)] == 4.0
    # live rows untouched
    assert rows[(20, "a", 4)] == 8.0 and rows[(10, "a", 5)] == 16.0
    # value total conserved
    assert abs(sum(rows.values()) - 31.0) < 1e-9
    kinds = [r["kind"] for r in wh.mutations(t).collect()]
    assert "ttl_group_by" in kinds


def test_ttl_group_by_is_one_pass_without_stats(spark, tmp_path):
    """Default (stats=False) TTL rollup triggers no bookkeeping actions:
    the count of Spark jobs in the apply's job group must be strictly
    lower than with stats=True, whose rows_before/rows_after/groups cost
    three extra full-table actions.  (The rollup itself is one compact
    pass; at 100 TB bookkeeping must not triple it.)"""
    import datetime as dt

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    old = dt.datetime(2026, 1, 1, 0, 0)
    new = dt.datetime(2026, 2, 1, 0, 0)

    def run(label: str, with_stats: bool) -> int:
        wh = Warehouse(spark, str(tmp_path / label))
        df = spark.createDataFrame(
            [(1, 10, "a", old, 1.0), (2, 10, "a", old, 2.0),
             (3, 20, "a", new, 4.0)],
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double",
        )
        wh.save_schema_override("t", df.schema)
        wh.append("t", df, batch_id=0)
        sc = spark.sparkContext
        group = f"ttl-probe-{label}"
        sc.setJobGroup(group, "ttl job-count probe")
        try:
            wh.apply_ttl_group_by(
                "t", dt.datetime(2026, 1, 15),
                group_by=["user_id", "event_type"],
                aggregates={"value": "sum(value)", "ts": "max(ts)",
                            "event_id": "min(event_id)"},
                ttl_col="ts", stats=with_stats,
            )
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs_plain = run("plain", False)
    jobs_stats = run("stats", True)
    # stats adds >= 3 actions (rows_before, rows_after, groups)
    assert jobs_stats >= jobs_plain + 3, (jobs_plain, jobs_stats)


def test_summing_and_collapsing_reads(spark, tmp_path):
    """SummingMergeTree / VersionedCollapsingMergeTree read semantics on
    tiny hand-checked parts."""
    from pyspark.sql import functions as F  # noqa: F811

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    s = spark.createDataFrame(
        [(1, "a", 1.0, 100), (1, "a", 2.0, 101), (2, "b", 5.0, 102)],
        "k long, g string, v double, other long",
    )
    wh.save_schema_override("sm", s.schema)
    wh.append("sm", s.filter(F.col("other") == 100), batch_id=0)
    wh.append("sm", s.filter(F.col("other") > 100), batch_id=1)
    got = {
        (r.k, r.g): (r.v, r.other)
        for r in wh.read_summed(
            "sm", keys=["k", "g"], sum_cols=["v"], order_col="other"
        ).collect()
    }
    assert got == {(1, "a"): (3.0, 100), (2, "b"): (5.0, 102)}

    c = spark.createDataFrame(
        [
            (1, 10.0, 1, 1),             # survives untouched
            (2, 20.0, 1, 1), (2, 20.0, -1, 1),  # cancelled
            (3, 30.0, 1, 1), (3, 30.0, -1, 1), (3, 99.0, 1, 2),  # updated
        ],
        "k long, v double, sign int, ver int",
    )
    wh.save_schema_override("cl", c.schema)
    wh.append("cl", c, batch_id=0)
    got = {
        r.k: r.v
        for r in wh.read_collapsed(
            "cl", keys=["k"], sign_col="sign", version_col="ver"
        ).collect()
    }
    assert got == {1: 10.0, 3: 99.0}


def test_declared_ttl_enforced_by_compact(spark, tmp_path):
    """``ALTER TABLE … MODIFY TTL``: declare once, every compact (the
    merge analog) enforces it — delete form drops expired rows, rollup
    form collapses them, REMOVE TTL stops enforcement, SHOW CREATE
    renders the clause, and the declaration travels through
    DETACH/ATTACH."""
    import datetime as dt

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    old = dt.datetime(2026, 1, 1, 0, 0)
    new = dt.datetime(2026, 2, 1, 0, 0)
    now = dt.datetime(2026, 2, 2, 0, 0)
    df = spark.createDataFrame(
        [(1, 10, old, 1.0), (2, 10, old, 2.0), (3, 20, new, 4.0),
         (4, 30, None, 8.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    wh.save_schema_override("t", df.schema)
    wh.append("t", df, batch_id=0)

    # delete TTL: rows older than 7 days vanish at the next compact;
    # NULL-ts rows can never expire
    wh.set_table_ttl("t", interval_days=7, ttl_col="ts")
    assert "TTL ts + INTERVAL 7 DAY" in wh.show_create_table("t")
    wh.compact("t", now=now)
    ids = {r.event_id for r in wh.read("t").collect()}
    assert ids == {3, 4}
    # idempotent: a second compact changes nothing
    wh.compact("t", now=now)
    assert wh.read("t").count() == 2
    # explicit ttl_older_than still wins over the declaration
    kinds = [r["kind"] for r in wh.mutations("t").collect()]
    assert "modify_ttl" in kinds

    # REMOVE TTL: expired rows survive compaction again
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    wh2.save_schema_override("t", df.schema)
    wh2.append("t", df, batch_id=0)
    wh2.set_table_ttl("t", interval_days=7, ttl_col="ts")
    wh2.remove_table_ttl("t")
    wh2.compact("t", now=now)
    assert wh2.read("t").count() == 4

    # rollup TTL: expired rows collapse per group at the merge
    wh3 = Warehouse(spark, str(tmp_path / "wh3"))
    wh3.save_schema_override("t", df.schema)
    wh3.append("t", df, batch_id=0)
    wh3.set_table_ttl(
        "t", interval_days=7, ttl_col="ts", group_by=["user_id"],
        aggregates={"value": "sum(value)", "ts": "max(ts)",
                    "event_id": "min(event_id)"},
    )
    ddl = wh3.show_create_table("t")
    assert "GROUP BY user_id" in ddl and "value = sum(value)" in ddl
    wh3.compact("t", now=now)
    rows = {r.event_id: r.value for r in wh3.read("t").collect()}
    assert rows == {1: 3.0, 3: 4.0, 4: 8.0}  # (1,2) collapsed into 1

    # the declaration travels through DETACH/ATTACH
    wh3.detach_table("t")
    assert wh3.table_ttl("t") is None
    wh3.attach_table("t")
    assert wh3.table_ttl("t")["interval_days"] == 7.0


def test_mutation_member_pruning_by_footer_stats(spark, tmp_path):
    """VERDICT r11 #4: mutations choose candidate members from parquet
    footer min/max BEFORE launching probe jobs, so mutation cost scales
    with MATCHED parts.  Four members with disjoint key ranges: a
    range-predicate DELETE rewrites exactly one and reports the other
    three skipped by stats."""
    import datetime as dt

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "k long, v long, event_date date"
    for b in range(4):
        wh.append("t", spark.createDataFrame(
            [(b * 100 + i, i, dt.date(2026, 1, 1)) for i in range(10)],
            schema), batch_id=b)
    res = wh.delete_where("t", F.col("k") >= 300)
    assert res["rows_deleted"] == 10
    assert res["members_rewritten"] == 1
    assert res["members_skipped_by_stats"] == 3
    assert wh.read("t").count() == 30

    # conjunct extraction: attribute-vs-literal comparisons only,
    # from Columns AND SQL strings; OR/col-col compares extract nothing
    assert wh._simple_conjuncts(F.col("v") > 2.5) == [("v", ">", 2.5)]
    assert wh._simple_conjuncts(
        F.expr("v = 'x' AND k > 250.0")
    ) == [("v", "=", "x"), ("k", ">", 250.0)]
    assert wh._simple_conjuncts(F.lit(5) < F.col("k")) == [("k", ">", 5)]
    assert wh._simple_conjuncts(F.col("a") == F.col("b")) == []
    assert wh._simple_conjuncts((F.col("a") > 1) | (F.col("b") > 2)) == []


def test_mutation_pruning_sound_under_live_patches(spark, tmp_path):
    """A live patch can rewrite a row so it matches a predicate its
    ORIGINAL file's stats exclude — the prune consults the patch files'
    own stats and stands down when any patch row could match."""
    import datetime as dt

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "k long, v long, event_date date"
    for b in range(4):
        wh.append("t", spark.createDataFrame(
            [(b * 100 + i, i, dt.date(2026, 1, 1)) for i in range(10)],
            schema), batch_id=b)
    wh.update_where_lightweight("t", {"v": "v + 1000"}, "k = 105")
    members = wh.load_manifest("t")["members"]

    # k untouched by the patch: k-pruning still fully active
    kept, skipped = wh._prune_members_for_mutation(
        "t", members, F.expr("k > 100000"))
    assert kept == [] and skipped == 4
    # v REWRITTEN by the patch into the predicate's range: no pruning
    kept, skipped = wh._prune_members_for_mutation(
        "t", members, F.expr("v >= 1000"))
    assert len(kept) == 4 and skipped == 0
    # and the patched row is actually found by the current-state delete
    res = wh.delete_where_lightweight("t", "v >= 1000")
    assert res["rows_deleted"] == 1
    assert wh.read("t").count() == 39
