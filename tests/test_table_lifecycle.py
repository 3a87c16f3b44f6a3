"""Table lifecycle (round 11b): DROP TABLE to trash / UNDROP / purge,
TRUNCATE keeping the declared shape, EXCHANGE TABLES swapping data and
metadata."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import types as T

from dev_clickhouse_spark.plans.warehouse import Warehouse
from dev_clickhouse_spark.quality import SchemaMigrator

_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("v", T.LongType()),
    T.StructField("event_date", T.DateType()),
])
_D = dt.datetime(2026, 2, 1, 8, 0)


def _mk(spark, wh, table, ids):
    wh.set_partitioning(table, ["event_ts", "event_id"])
    wh.save_schema_override(table, _SCHEMA)
    wh.append(table, spark.createDataFrame(
        [(i, _D, i * 10, _D.date()) for i in ids], _SCHEMA), batch_id=0)


def test_drop_undrop_roundtrip_with_metadata(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _mk(spark, wh, "t1", [1, 2])
    SchemaMigrator(wh).modify_column_type("t1", "v", T.StringType())
    entry = wh.drop_table("t1")
    assert not wh.exists("t1")
    # the declared shape went to the trash WITH the data: an ad-hoc
    # table's name resolves to nothing after DROP (CH: table is gone)
    with pytest.raises(KeyError):
        wh.read("t1")
    assert entry in wh.dropped_tables()
    wh.undrop_table("t1")
    out = {r["event_id"]: r["v"] for r in wh.read("t1").collect()}
    assert out == {1: "10", 2: "20"}           # data AND cast chain back
    assert wh.column_casts("t1") == {"v": "string"}
    assert wh.dropped_tables() == []           # trash entry consumed
    # UNDROP refused while a live table holds the name
    wh.drop_table("t1")
    _mk(spark, wh, "t1", [9])
    with pytest.raises(ValueError, match="live table"):
        wh.undrop_table("t1")


def test_purge_dropped_respects_retention(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _mk(spark, wh, "t2", [1])
    wh.drop_table("t2")
    assert wh.purge_dropped(older_than_sec=3600) == []   # too young
    purged = wh.purge_dropped(older_than_sec=0)
    assert len(purged) == 1
    with pytest.raises(LookupError):
        wh.undrop_table("t2")


def test_truncate_keeps_declared_shape(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _mk(spark, wh, "t3", [1, 2, 3])
    SchemaMigrator(wh).add_computed_column(
        "t3", "v2", T.LongType(), "v * 2", kind="default")
    wh.set_table_ttl("t3", 365, ttl_col="event_ts")
    wh.truncate_table("t3")
    assert wh.read("t3").count() == 0
    # declared shape intact: schema override, computed column, TTL
    assert "v2" in wh.computed_columns("t3")
    assert wh.table_ttl("t3")["interval_days"] == 365.0
    wh.append("t3", spark.createDataFrame(
        [(7, _D, 70, _D.date())], _SCHEMA), batch_id=0)
    r = wh.read("t3").collect()[0]
    assert (r["event_id"], r["v2"]) == (7, 140)


def test_exchange_tables_swaps_data_and_metadata(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    mig = SchemaMigrator(wh)
    _mk(spark, wh, "blue", [1])
    _mk(spark, wh, "green", [2, 3])
    mig.apply("blue", T.StructType(
        [*_SCHEMA.fields, T.StructField("tag", T.StringType())]))
    mig.rename_column("blue", "tag", "label")
    mig.modify_column_type("green", "v", T.StringType())
    wh.set_table_engine("green", "ReplacingMergeTree", version_col="v")
    wh.declare_skip_index("green", "idx_v", "v")
    wh.stop_merges("green")
    wh.exchange_tables("blue", "green")
    assert wh.read("blue").count() == 2            # green's rows
    assert wh.read("green").count() == 1
    # the cast chain followed green's data into the 'blue' name
    assert wh.column_casts("blue") == {"v": "string"}
    assert wh.column_casts("green") == {}
    assert dict(wh.read("blue").dtypes)["v"] == "string"
    assert dict(wh.read("green").dtypes)["v"] == "bigint"
    # ... and so did every other declaration, in both directions
    assert wh.table_engine("blue")["engine"] == "ReplacingMergeTree"
    assert wh.table_engine("green") is None
    assert list(wh.declared_skip_indexes("blue")) == ["idx_v"]
    assert wh.declared_skip_indexes("green") == {}
    assert wh.merges_stopped("blue") and not wh.merges_stopped("green")
    assert wh.renames("green") == {"label": ["tag"]}
    assert wh.renames("blue") == {}
    assert "label" in wh.read("green").columns
    assert sorted(os.listdir(tmp_path / "wh" / "_schemas")) == [
        "blue.json", "green.json"]
    with pytest.raises(ValueError, match="both tables"):
        wh.exchange_tables("blue", "nope")
