"""Storage/ops introspection parity (round 11b): system.parts_columns,
EXPLAIN ESTIMATE from parquet row-group statistics, SYSTEM STOP/START
MERGES."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dev_clickhouse_spark.plans.warehouse import Warehouse

_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("k", T.LongType()),
    T.StructField("payload", T.StringType()),
    T.StructField("event_date", T.DateType()),
])

_D = dt.datetime(2026, 1, 5, 9, 0)


def _wh(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.set_partitioning("sys_events", ["k", "event_id"])
    wh.save_schema_override("sys_events", _SCHEMA)
    return wh


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, _D, i, f"p{i:06d}" * 8, _D.date()) for i in range(lo, hi)],
        _SCHEMA,
    ).coalesce(1)


def test_parts_columns_census(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("sys_events", _batch(spark, 0, 500), batch_id=0)
    wh.append("sys_events", _batch(spark, 500, 900), batch_id=1)
    pc = wh.parts_columns("sys_events")
    rows = {(r["member"], r["column"]): r for r in pc.collect()}
    members = {m for m, _c in rows}
    assert len(members) == 2
    for m in members:
        r = rows[(m, "payload")]
        assert r["compressed_bytes"] > 0
        assert r["uncompressed_bytes"] >= r["compressed_bytes"]
        assert r["compression_ratio"] >= 1.0
    # per-member row counts add up to the table
    total = sum(r["rows"] for (m, c), r in rows.items() if c == "event_id")
    assert total == 900
    # event_date is a partition directory, not a stored column
    assert not any(c == "event_date" for _m, c in rows)


def test_explain_estimate_prunes_by_rowgroup_stats(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    # two members with DISJOINT k ranges, one file each (sorted on k)
    wh.append("sys_events", _batch(spark, 0, 1000), batch_id=0)
    wh.append("sys_events", _batch(spark, 10_000, 11_000), batch_id=1)

    full = wh.explain_estimate("sys_events")
    assert full["estimate"] == full["total"]
    assert full["total"]["parts"] == 2 and full["total"]["rows"] == 2000

    # selective predicate: only the second member's range can match
    est = wh.explain_estimate("sys_events", [("k", ">=", 10_000)])
    assert est["estimate"]["parts"] == 1
    assert est["estimate"]["rows"] == 1000
    assert est["total"]["rows"] == 2000

    # point lookup outside every range: nothing survives
    none = wh.explain_estimate("sys_events", [("k", "=", 5_000)])
    assert none["estimate"]["rows"] == 0
    assert none["estimate"]["parts"] == 0

    # the estimate is an upper bound on the true count
    true_n = wh.read("sys_events").filter(F.col("k") >= 10_000).count()
    assert est["estimate"]["rows"] >= true_n

    # unknown/partition column → conservative (no pruning on it)
    part = wh.explain_estimate(
        "sys_events", [("event_date", "=", _D.date())]
    )
    assert part["estimate"]["rows"] == 2000


def test_stop_start_merges(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    for b in range(3):
        wh.append("sys_events", _batch(spark, b * 100, b * 100 + 100),
                  batch_id=b)
    # the folded batch members stay on disk until gc
    wh.compact("sys_events")
    wh.append("sys_events", _batch(spark, 300, 400), batch_id=3)
    n_files = sum(r.n_files for r in wh.parts("sys_events").collect())
    wh.stop_merges("sys_events")
    assert wh.merges_stopped("sys_events")
    members_before = list(wh.load_manifest("sys_events")["members"])
    # no-op while stopped; it counts the files of the listed members only
    assert wh.compact("sys_events") == n_files
    assert wh.load_manifest("sys_events")["members"] == members_before
    # appends and mutations continue while merges are stopped
    wh.append("sys_events", _batch(spark, 900, 950), batch_id=9)
    wh.delete_where_lightweight("sys_events", "event_id = 0")
    assert wh.read("sys_events").count() == 449
    wh.start_merges("sys_events")
    assert not wh.merges_stopped("sys_events")
    wh.compact("sys_events")
    assert len(wh.load_manifest("sys_events")["members"]) == 1
    assert wh.read("sys_events").count() == 449
