"""DETACH TABLE / ATTACH TABLE (plans/warehouse.py)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from dev_clickhouse_spark.plans.warehouse import Warehouse

_TS = dt.datetime(2026, 1, 8, 9, 0)


def _wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_detach_attach_roundtrip(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "a", _TS), (2, "b", _TS)], wh.schema_for("dim_tag")
    ))
    wh.detach_table("dim_tag")
    # invisible: reads serve declared-empty, catalog listing omits it
    assert wh.read("dim_tag").count() == 0
    assert "dim_tag" not in [r["table"] for r in wh.tables().collect()]
    assert wh.detached_tables() == ["dim_tag"]
    # data survives on disk; attach restores it bit-for-bit
    wh.attach_table("dim_tag")
    assert wh.detached_tables() == []
    assert {r.tag_key for r in wh.read("dim_tag").collect()} == {1, 2}


def test_detach_preserves_manifest_version(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    ev = spark.createDataFrame(
        [(1, "a", _TS), (2, "b", _TS)], wh.schema_for("dim_tag")
    )
    wh.append("mdt", ev, batch_id=0)
    wh.append("mdt", ev, batch_id=1)
    v_before = wh.load_manifest("mdt")["version"]
    wh.detach_table("mdt")
    wh.attach_table("mdt")
    assert wh.load_manifest("mdt")["version"] == v_before
    assert wh.read("mdt").count() == 4


def test_detach_carries_schema_metadata(spark, tmp_path):
    """Schema overrides and computed-column metadata travel with the
    detached table: a NEW table created under the same name while the old
    one is detached must NOT inherit the detached table's declared schema
    or computed columns; attach restores them."""
    from pyspark.sql import types as T

    from dev_clickhouse_spark.quality import SchemaMigrator

    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "alpha", _TS)], wh.schema_for("dim_tag")
    ))
    SchemaMigrator(wh).add_computed_column(
        "dim_tag", "tag_upper", T.StringType(), "upper(tag_value)",
        kind="default",
    )
    SchemaMigrator(wh).rename_column("dim_tag", "updated_at", "seen_at")
    wh.set_table_engine("dim_tag", "ReplacingMergeTree", version_col="seen_at")
    wh.declare_skip_index("dim_tag", "idx_key", "tag_key")
    wh.stop_merges("dim_tag")
    assert "tag_upper" in wh.computed_columns("dim_tag")
    schemas = os.path.join(wh.root, "_schemas")
    assert os.listdir(schemas) == ["dim_tag.json"]
    wh.detach_table("dim_tag")
    # metadata is gone from the live surface with the table
    assert wh.computed_columns("dim_tag") == {}
    assert wh.schema_override("dim_tag") is None
    assert wh.renames("dim_tag") == {}
    assert wh.table_engine("dim_tag") is None
    assert wh.declared_skip_indexes("dim_tag") == {}
    assert not wh.merges_stopped("dim_tag")
    assert os.listdir(schemas) == []
    # a fresh same-name table has the pristine declared shape
    wh.append("dim_tag", spark.createDataFrame(
        [(9, "zeta", _TS)], wh.schema_for("dim_tag")
    ))
    assert "tag_upper" not in wh.read("dim_tag").columns
    # swap back: drop the interloper, attach the original with metadata
    import shutil

    shutil.rmtree(wh.path("dim_tag"))
    wh.attach_table("dim_tag")
    assert "tag_upper" in wh.computed_columns("dim_tag")
    assert wh.renames("dim_tag") == {"seen_at": ["updated_at"]}
    assert wh.table_engine("dim_tag")["version_col"] == "seen_at"
    assert list(wh.declared_skip_indexes("dim_tag")) == ["idx_key"]
    assert wh.merges_stopped("dim_tag")
    assert os.listdir(schemas) == ["dim_tag.json"]
    rows = {r.tag_key: r for r in wh.read("dim_tag").collect()}
    assert rows[1].tag_upper == "ALPHA"
    assert rows[1].seen_at == _TS


def test_detach_attach_refusals(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    with pytest.raises(ValueError, match="no such table"):
        wh.detach_table("ghost")
    with pytest.raises(ValueError, match="no detached table"):
        wh.attach_table("ghost")
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "a", _TS)], wh.schema_for("dim_tag")
    ))
    wh.detach_table("dim_tag")
    # a new live table under the same name blocks attach
    wh.append("dim_tag", spark.createDataFrame(
        [(9, "z", _TS)], wh.schema_for("dim_tag")
    ))
    with pytest.raises(ValueError, match="live table"):
        wh.attach_table("dim_tag")


def test_freeze_partition_snapshot(spark, tmp_path):
    """FREEZE PARTITION: hardlink snapshot of one partition, immune to a
    later mutation (which mints new members instead of rewriting)."""

    from pyspark.sql import functions as F

    wh = _wh(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 8, 9), 1.0),
         (2, dt.datetime(2026, 1, 9, 9), 2.0)],
        "event_id long, event_ts timestamp, value double",
    )
    wh.save_schema_override("fz", df.schema)
    wh.set_partitioning("fz", ["event_ts", "event_id"])
    wh.append("fz", df, batch_id=0)
    shadow = wh.freeze_partition("fz", "2026-01-08")
    files = [
        os.path.join(r, f) for r, _d, fs in os.walk(shadow) for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    frozen = spark.read.parquet(*[os.path.dirname(files[0])])
    assert frozen.count() == 1
    # a mutation after the freeze does not disturb the snapshot
    wh.update_set("fz", {"value": "value * 10"}, "event_id = 1")
    assert spark.read.parquet(os.path.dirname(files[0])).collect()[0][
        "value"
    ] == 1.0
    assert {r.value for r in wh.read("fz").collect()} == {10.0, 2.0}
    # freezing an absent partition refuses
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no files"):
        wh.freeze_partition("fz", "1999-01-01")
