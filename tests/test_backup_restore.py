"""BACKUP TABLE / RESTORE TABLE: consistent snapshot with overlay remap."""

from __future__ import annotations

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
    for b in range(2):
        w.append("ev", ev.filter(F.col("event_id") % 2 == b), batch_id=b)
    # overlays that must survive the round-trip with remapped addresses
    w.delete_where_lightweight("ev", "event_type = 'error'")
    w.update_where_lightweight(
        "ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
    )
    return w


def _snapshot(w, table):
    return sorted(map(tuple, w.read(table).collect()))


def test_backup_restore_roundtrip_with_overlays(spark, wh, tmp_path):
    at_backup = _snapshot(wh, "ev")
    r = wh.backup_table("ev", str(tmp_path / "bak"))
    # two batches and the member the lightweight UPDATE appended
    assert r["files"] > 0 and r["members"] == 3
    # mutate the source AFTER the backup — the snapshot must not follow
    wh.delete_where_lightweight("ev", "event_type = 'tap'")
    wh.compact("ev")
    rr = wh.restore_table(str(tmp_path / "bak"), "ev_restored")
    assert rr["members"] == 3
    got = _snapshot(wh, "ev_restored")
    assert got == at_backup
    # deleted/updated state specifically: no errors, clicks renamed
    restored = wh.read("ev_restored")
    assert restored.filter("event_type = 'error'").count() == 0
    assert restored.filter("event_type = 'click'").count() == 0
    assert restored.filter("event_type = 'tap'").count() > 0


def test_restore_into_other_warehouse(spark, wh, tmp_path):
    at_backup = _snapshot(wh, "ev")
    wh.backup_table("ev", str(tmp_path / "bak2"))
    other = Warehouse(spark, str(tmp_path / "wh2"))
    other.restore_table(str(tmp_path / "bak2"), "ev")
    assert _snapshot(other, "ev") == at_backup
    # the restored copy is independently mutable
    other.delete_where_lightweight("ev", "event_type = 'tap'")
    assert other.read("ev").filter("event_type = 'tap'").count() == 0
    assert wh.read("ev").filter("event_type = 'tap'").count() > 0


def test_backup_restore_carries_every_declaration(spark, tmp_path):
    """The backup stores the table's whole metadata document: a restored
    table keeps its rename chain (old members still name the column
    ``event_type``), engine and TTL, not just the schema."""
    from dev_clickhouse_spark.quality import SchemaMigrator

    w = Warehouse(spark, str(tmp_path / "wh"))
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    w.save_schema_override("ev", ev.schema)
    for b in range(2):
        w.append("ev", ev.filter(F.col("event_id") % 2 == b), batch_id=b)
    SchemaMigrator(w).rename_column("ev", "event_type", "kind")
    w.set_table_engine("ev", "ReplacingMergeTree", version_col="ts")
    w.set_table_ttl("ev", 30, ttl_col="ts")
    w.backup_table("ev", str(tmp_path / "bak"))
    w.restore_table(str(tmp_path / "bak"), "ev2")
    assert w.read("ev").filter("kind IS NULL").count() == 0
    assert w.read("ev2").filter("kind IS NULL").count() == 0
    assert _snapshot(w, "ev2") == _snapshot(w, "ev")
    assert w.renames("ev2") == {"kind": ["event_type"]}
    assert w.table_engine("ev2") == w.table_engine("ev")
    assert w.table_ttl("ev2") == w.table_ttl("ev")


def test_restore_refuses_existing_table(spark, wh, tmp_path):
    wh.backup_table("ev", str(tmp_path / "bak3"))
    with pytest.raises(ValueError, match="already exists"):
        wh.restore_table(str(tmp_path / "bak3"), "ev")
    with pytest.raises(ValueError, match="not empty"):
        wh.backup_table("ev", str(tmp_path / "bak3"))


def test_incremental_backup_chain(spark, tmp_path):
    """CH ``BACKUP … SETTINGS base_backup=`` analog: an incremental
    backup records (not re-clones) members inode-identical to its base,
    clones only what changed, and restore resolves the whole chain —
    including overlay remaps against each link's own source path.  A
    member re-minted under the SAME name (batch replay) fails the inode
    check and is cloned fully, never trusted by name."""
    import datetime as dt

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "k long, v long, event_date date"
    for b in range(3):
        wh.append("t", spark.createDataFrame(
            [(b * 10 + i, i, dt.date(2026, 1, 1)) for i in range(5)],
            schema), batch_id=b)
    full = str(tmp_path / "b_full")
    r0 = wh.backup_table("t", full)
    assert r0["members_from_base"] == 0

    # new batch + a lightweight delete → only the deltas clone
    wh.append("t", spark.createDataFrame(
        [(100 + i, i, dt.date(2026, 1, 1)) for i in range(5)], schema),
        batch_id=3)
    wh.delete_where_lightweight("t", "k = 1")
    incr = str(tmp_path / "b_incr")
    r1 = wh.backup_table("t", incr, base=full)
    assert r1["members_from_base"] == 3        # the untouched batches
    assert r1["members"] == 4

    # replay-replace batch 0 under the SAME member name → inode check
    # forces a full clone of it in the next incremental
    wh.append("t", spark.createDataFrame(
        [(0, 999, dt.date(2026, 1, 1))], schema), batch_id=0)
    wh2root = str(tmp_path / "wh2")
    incr2 = str(tmp_path / "b_incr2")
    # batch replay SKIPS (committed ledger) — so force a rewrite instead
    wh.delete_where("t", __import__("pyspark.sql.functions",
                                    fromlist=["col"]).col("k") == 21)
    r2 = wh.backup_table("t", incr2, base=incr)
    assert r2["members_from_base"] == 3        # the mutated member cloned

    # restore the chain tip into a fresh warehouse: rows equal the live
    # table exactly (mutation + DV applied through the chain)
    wh2 = Warehouse(spark, wh2root)
    wh2.restore_table(incr2, "t")
    live = sorted((r.k, r.v) for r in wh.read("t").collect())
    restored = sorted((r.k, r.v) for r in wh2.read("t").collect())
    assert restored == live
    assert (1, 1) not in {(k, v) for k, v in restored}   # DV survived
    assert all(k != 21 for k, _ in restored)             # mutation survived
