"""Round-11 ALTER column surface: MODIFY COLUMN type (cast-on-read),
CLEAR COLUMN IN PARTITION (member-scoped reset overlays), column-level TTL
(merge-enforced resets), and MATERIALIZE COLUMN (footer-targeted rewrite).

ClickHouse applies all four as mutations/merges over the parts that need
them (reference evolves live bronze tables with point ALTERs,
scripts/alter_bronze_timezone_asia_jakarta.sql:1-16); here each is O(1)
metadata at ALTER time, applied on read per member and materialized as
merges rewrite members."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dev_clickhouse_spark.io import first_parquet
from dev_clickhouse_spark.plans.warehouse import Warehouse
from dev_clickhouse_spark.quality import SchemaMigrator


_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("event_date", T.DateType()),
])

_D1 = dt.datetime(2026, 1, 1, 10, 0)
_D2 = dt.datetime(2026, 1, 2, 10, 0)
_D3 = dt.datetime(2026, 1, 3, 10, 0)


def _wh(spark, tmp_path, table="alt_events"):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.set_partitioning(table, ["event_ts", "event_id"])
    wh.save_schema_override(table, _SCHEMA)
    return wh


def _rows(spark, ids_ts):
    return spark.createDataFrame(
        [(i, ts, i * 10, float(i), ts.date()) for i, ts in ids_ts], _SCHEMA
    )


def test_modify_widening_is_metadata_only(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    narrow = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("user_id", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_date", T.DateType()),
    ])
    wh.save_schema_override("alt_events", narrow)
    wh.append("alt_events", spark.createDataFrame(
        [(1, _D1, 11, 1.0, _D1.date())], narrow), batch_id=0)
    SchemaMigrator(wh).modify_column_type(
        "alt_events", "user_id", T.LongType()
    )
    assert wh.column_casts("alt_events") == {}  # widening: no chain
    out = wh.read("alt_events")
    assert dict(out.dtypes)["user_id"] == "bigint"
    assert out.select("user_id").first()[0] == 11


def test_modify_cast_on_read_mixed_members(spark, tmp_path):
    """Non-widening retype: pre-ALTER members scan with the footer type and
    fold cast(declared); post-ALTER appends store the new type natively."""
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D2)]), batch_id=0)
    SchemaMigrator(wh).modify_column_type(
        "alt_events", "user_id", T.StringType()
    )
    assert wh.column_casts("alt_events") == {"user_id": "string"}
    post = T.StructType([
        f if f.name != "user_id" else T.StructField("user_id", T.StringType())
        for f in _SCHEMA.fields
    ])
    wh.append("alt_events", spark.createDataFrame(
        [(3, _D3, "30", 3.0, _D3.date())], post), batch_id=1)
    out = wh.read("alt_events").orderBy("event_id")
    assert dict(out.dtypes)["user_id"] == "string"
    assert [r["user_id"] for r in out.collect()] == ["10", "20", "30"]


def test_compact_materializes_cast_and_retires_chain(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D2)]), batch_id=0)
    SchemaMigrator(wh).modify_column_type(
        "alt_events", "user_id", T.StringType()
    )
    wh.compact("alt_events")
    assert wh.column_casts("alt_events") == {}  # retired: footers agree
    man = wh.load_manifest("alt_events")
    fp = first_parquet(
        os.path.join(wh.path("alt_events"), man["members"][0])
    )
    assert str(pq.read_schema(fp).field("user_id").type) in (
        "string", "large_string"
    )
    out = wh.read("alt_events").orderBy("event_id")
    assert [r["user_id"] for r in out.collect()] == ["10", "20"]


def test_modify_refusals(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1)]), batch_id=0)
    mig = SchemaMigrator(wh)
    with pytest.raises(ValueError, match="layout column"):
        mig.modify_column_type("alt_events", "event_ts", T.StringType())
    with pytest.raises(ValueError, match="no column"):
        mig.modify_column_type("alt_events", "nope", T.StringType())


def test_clear_column_masks_only_snapshot_members(spark, tmp_path):
    """CLEAR COLUMN addresses the members live at ALTER time: their rows in
    the partition read as NULL, while rows appended afterwards keep their
    values (the CH mutation-snapshot contract)."""
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D2)]), batch_id=0)
    wh.clear_column_in_partition("alt_events", "value", _D1.date())
    # post-clear append INTO the cleared partition
    wh.append("alt_events", _rows(spark, [(9, _D1)]), batch_id=1)
    out = {r["event_id"]: r["value"]
           for r in wh.read("alt_events").collect()}
    assert out[1] is None          # cleared member, cleared partition
    assert out[2] == 2.0           # cleared member, other partition
    assert out[9] == 9.0           # post-clear append keeps its value
    # compact materializes the mask and retires the entry
    wh.compact("alt_events")
    assert wh.cleared_entries("alt_events") == []
    out2 = {r["event_id"]: r["value"]
            for r in wh.read("alt_events").collect()}
    assert out2 == out


def test_clear_column_resets_to_declared_default(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1)]), batch_id=0)
    SchemaMigrator(wh).add_computed_column(
        "alt_events", "bucket", T.StringType(),
        "CASE WHEN value >= 0 THEN 'pos' ELSE 'neg' END", kind="default",
    )
    wh.append("alt_events", spark.createDataFrame(
        [(2, _D1, 20, -2.0, _D1.date(), "CUSTOM")],
        T.StructType([*_SCHEMA.fields,
                      T.StructField("bucket", T.StringType())]),
    ), batch_id=1)
    wh.clear_column_in_partition("alt_events", "bucket", _D1.date())
    out = {r["event_id"]: r["bucket"]
           for r in wh.read("alt_events").collect()}
    # reset value = the DEFAULT expression, not NULL
    assert out[1] == "pos" and out[2] == "neg"


def test_clear_column_refusals(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1)]), batch_id=0)
    with pytest.raises(ValueError, match="layout column"):
        wh.clear_column_in_partition("alt_events", "event_ts", _D1.date())
    with pytest.raises(ValueError, match="no column"):
        wh.clear_column_in_partition("alt_events", "nope", _D1.date())
    # unpartitioned table (no event_date): refused before anything else —
    # the mask keys on the partition column, a silent no-op would be worse
    wh.overwrite("dim_tag", spark.createDataFrame(
        [(1, "t", _D1)], wh.schema_for("dim_tag")))
    with pytest.raises(ValueError, match="date-partitioned"):
        wh.clear_column_in_partition("dim_tag", "tag_value", _D1.date())


def test_column_ttl_applied_on_merge(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D3)]), batch_id=0)
    wh.set_column_ttl("alt_events", "value", 1.0, ttl_col="event_ts")
    # reads BEFORE the merge still serve stored values (CH column TTL is
    # merge-applied, not read-applied)
    pre = {r["event_id"]: r["value"]
           for r in wh.read("alt_events").collect()}
    assert pre == {1: 1.0, 2: 2.0}
    wh.compact("alt_events", now=_D3 + dt.timedelta(hours=1))
    post = {r["event_id"]: r["value"]
            for r in wh.read("alt_events").collect()}
    assert post[1] is None     # expired: event_ts < now - 1 day
    assert post[2] == 2.0      # live row untouched
    # row count unchanged — column TTL resets values, never drops rows
    assert wh.read("alt_events").count() == 2
    wh.remove_column_ttl("alt_events", "value")
    assert wh.column_ttls("alt_events") == {}


def test_column_ttl_composes_with_table_ttl(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(
        spark, [(1, _D1), (2, _D2), (3, _D3)]), batch_id=0)
    wh.set_table_ttl("alt_events", 2.0, ttl_col="event_ts")   # delete
    wh.set_column_ttl("alt_events", "value", 1.0, ttl_col="event_ts")
    wh.compact("alt_events", now=_D3 + dt.timedelta(hours=1))
    out = {r["event_id"]: r["value"]
           for r in wh.read("alt_events").collect()}
    assert 1 not in out            # table TTL deleted the oldest row
    assert out[2] is None          # column TTL reset the mid row
    assert out[3] == 3.0           # live row untouched


def test_materialize_column_targets_lacking_members(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1)]), batch_id=0)
    SchemaMigrator(wh).add_computed_column(
        "alt_events", "value_cents", T.LongType(),
        "CAST(round(value * 100, 0) AS BIGINT)", kind="default",
    )
    # post-ALTER member with an EXPLICIT NULL (must survive materialize)
    wh.append("alt_events", spark.createDataFrame(
        [(2, _D2, 20, 2.0, _D2.date(), None)],
        T.StructType([*_SCHEMA.fields,
                      T.StructField("value_cents", T.LongType())]),
    ), batch_id=1)
    before = set(wh.load_manifest("alt_events")["members"])
    res = wh.materialize_column("alt_events", "value_cents")
    assert res == {"members_rewritten": 1, "members_kept": 1}
    after = wh.load_manifest("alt_events")["members"]
    # the post-ALTER member is untouched; the pre-ALTER one was rewritten
    assert len(set(after) & before) == 1
    for m in after:
        fp = first_parquet(os.path.join(wh.path("alt_events"), m))
        assert "value_cents" in pq.read_schema(fp).names
    out = {r["event_id"]: r["value_cents"]
           for r in wh.read("alt_events").collect()}
    assert out[1] == 100 and out[2] is None
    with pytest.raises(ValueError, match="not a stored"):
        wh.materialize_column("alt_events", "value")


def test_clear_survives_drop_partition_clone(spark, tmp_path):
    """DROP PARTITION replaces affected members with hardlink clones under
    NEW names; CLEAR COLUMN entries address members BY NAME, so they must
    follow the rename — otherwise the mask silently stops applying to the
    surviving partitions (found by the round-11 maintenance soak)."""
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D2), (3, _D3)]),
              batch_id=0)
    wh.clear_column_in_partition("alt_events", "value", _D1.date())
    assert wh.read("alt_events").filter(
        (F.col("event_date") == F.lit(_D1.date()))
        & F.col("value").isNotNull()
    ).count() == 0
    # drop a DIFFERENT partition: the member is cloned to a new name
    wh.drop_partition("alt_events", _D3.date())
    out = {r["event_id"]: r["value"]
           for r in wh.read("alt_events").collect()}
    assert out == {1: None, 2: 2.0}      # mask still applies post-clone
    ent = wh.cleared_entries("alt_events")
    assert len(ent) == 1
    man = wh.load_manifest("alt_events")
    assert set(ent[0]["members"]) & set(man["members"])  # remapped names
    # compaction still materializes + retires
    wh.compact("alt_events")
    assert wh.cleared_entries("alt_events") == []
    out2 = {r["event_id"]: r["value"]
            for r in wh.read("alt_events").collect()}
    assert out2 == out


def test_append_conforms_types_after_modify(spark, tmp_path):
    """Post-MODIFY appends carrying the OLD type are cast at write
    (ClickHouse inserts cast to the column type) — and even un-conformed
    old-type files are served correctly by the footer-driven cast-on-read,
    independent of the cast-chain registry state."""
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1)]), batch_id=0)
    SchemaMigrator(wh).modify_column_type(
        "alt_events", "user_id", T.StringType()
    )
    # writer unaware of the ALTER: supplies bigint user_id
    wh.append("alt_events", _rows(spark, [(2, _D2)]), batch_id=1)
    man = wh.load_manifest("alt_events")
    fp = first_parquet(os.path.join(
        wh.path("alt_events"),
        next(m for m in man["members"] if "1" in m.split("=")[-1]),
    ))
    assert str(pq.read_schema(fp).field("user_id").type) in (
        "string", "large_string"
    )  # _prep conformed the insert
    wh.compact("alt_events")   # retires the chain
    assert wh.column_casts("alt_events") == {}
    # an old-type file minted AFTER retirement (bypassing _prep) must
    # still read correctly via the footer-driven per-member cast
    import pyarrow as pa
    import pyarrow.parquet as pqw

    rogue = os.path.join(wh.path("alt_events"), "member=batch-7",
                         "event_date=2026-01-03")
    os.makedirs(rogue)
    pqw.write_table(pa.table({
        "event_id": pa.array([9], pa.int64()),
        "event_ts": pa.array([_D3], pa.timestamp("us")),
        "user_id": pa.array([90], pa.int64()),     # OLD physical type
        "value": pa.array([9.0], pa.float64()),
    }), os.path.join(rogue, "part-0.parquet"))
    with wh._manifest_lock("alt_events"):
        cur = wh.load_manifest("alt_events")
        cur["members"].append("member=batch-7")
        cur["version"] += 1
        wh._write_manifest("alt_events", cur)
    out = {r["event_id"]: r["user_id"]
           for r in wh.read("alt_events").collect()}
    assert out == {1: "10", 2: "20", 9: "90"}


def test_in_partition_mutation_scopes_members(spark, tmp_path):
    """``ALTER … DELETE/UPDATE IN PARTITION``: members without the
    partition directory are never probed (no job at all), and rows
    outside the partition are untouched even when the predicate alone
    would match them."""
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D1)]), batch_id=0)
    wh.append("alt_events", _rows(spark, [(3, _D2)]), batch_id=1)
    wh.append("alt_events", _rows(spark, [(4, _D3)]), batch_id=2)
    res = wh.delete_where("alt_events", "value >= 0",
                          partition=_D2.date())
    assert res["rows_deleted"] == 1
    assert res["members_skipped_by_partition"] == 2
    assert res["members_rewritten"] == 1
    left = {r["event_id"] for r in wh.read("alt_events").collect()}
    assert left == {1, 2, 4}
    res2 = wh.update_set("alt_events", {"value": "value * 10"},
                         "event_id >= 0", partition=_D1.date())
    assert res2["rows_updated"] == 2
    assert res2["members_skipped_by_partition"] >= 1
    out = {r["event_id"]: r["value"]
           for r in wh.read("alt_events").collect()}
    assert out == {1: 10.0, 2: 20.0, 4: 4.0}


def test_table_ttl_where_clause(spark, tmp_path):
    """Conditional TTL: only rows matching the WHERE expire at the merge;
    non-matching rows survive regardless of age, and SHOW CREATE renders
    the clause."""
    wh = _wh(spark, tmp_path)
    rows = spark.createDataFrame(
        [(1, _D1, 10, 1.0, _D1.date()),     # old, low value  -> expires
         (2, _D1, 20, 99.0, _D1.date()),    # old, high value -> kept
         (3, _D3, 30, 1.0, _D3.date())],    # young           -> kept
        _SCHEMA,
    )
    wh.append("alt_events", rows, batch_id=0)
    wh.set_table_ttl("alt_events", 1.0, ttl_col="event_ts",
                     where="value < 50")
    assert "WHERE value < 50" in wh.show_create_table("alt_events")
    wh.compact("alt_events", now=_D3)
    left = {r["event_id"] for r in wh.read("alt_events").collect()}
    assert left == {2, 3}
    import pytest as _pt

    with _pt.raises(ValueError, match="delete form"):
        wh.set_table_ttl("alt_events", 1.0, where="value < 50",
                         group_by=["event_date"],
                         aggregates={"value": "sum(value)"})


def test_alter_metadata_travels_through_detach_attach(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(1, _D1), (2, _D2)]), batch_id=0)
    SchemaMigrator(wh).modify_column_type(
        "alt_events", "user_id", T.StringType()
    )
    wh.clear_column_in_partition("alt_events", "value", _D1.date())
    wh.set_column_ttl("alt_events", "value", 1.0, ttl_col="event_ts")
    wh.detach_table("alt_events")
    assert wh.column_casts("alt_events") == {}  # gone with the table
    wh.attach_table("alt_events")
    assert wh.column_casts("alt_events") == {"user_id": "string"}
    assert len(wh.cleared_entries("alt_events")) == 1
    assert "value" in wh.column_ttls("alt_events")
    out = {r["event_id"]: (r["user_id"], r["value"])
           for r in wh.read("alt_events").collect()}
    assert out == {1: ("10", None), 2: ("20", 2.0)}


def test_clear_to_default_defeats_stats_pruning(spark, tmp_path):
    """CLEAR COLUMN resets a column to its DEFAULT, a value the stored
    footer and sidecar stats never saw: neither the mutation pruner nor
    the skip index may use those stats to skip the addressed members.  A
    member written before the ADD COLUMN stores no such column: the skip
    index builds no stats for it there, and it serves the DEFAULT."""
    from dev_clickhouse_spark.plans.skip_index import SkipIndex

    wh = _wh(spark, tmp_path)
    wh.append("alt_events", _rows(spark, [(90, _D2)]), batch_id=9)
    SchemaMigrator(wh).add_computed_column(
        "alt_events", "zone", T.StringType(), "'dmz'", kind="default",
    )
    zoned = T.StructType([*_SCHEMA.fields,
                          T.StructField("zone", T.StringType())])
    for b, days in enumerate([(_D1, _D2), (_D1, _D3)]):
        wh.append("alt_events", spark.createDataFrame(
            [(b * 10 + i, d, i, float(i), d.date(), "lan")
             for i, d in enumerate(days)], zoned), batch_id=b)
    wh.clear_column_in_partition("alt_events", "zone", _D1.date())
    dmz = F.col("zone") == "dmz"
    assert wh.read("alt_events").filter(dmz).count() == 3
    idx = SkipIndex(wh, "alt_events", minmax_cols=("zone",))
    assert idx.ensure() == 3
    got = idx.read([("eq", "zone", "dmz")])
    assert sorted(r["event_id"] for r in got.collect()) == [0, 10, 90]
    res = wh.delete_where("alt_events", dmz)
    assert res["rows_deleted"] == 3
    assert wh.read("alt_events").filter(dmz).count() == 0
    assert wh.read("alt_events").count() == 2


def test_one_scan_node_per_footer_group(spark, tmp_path):
    """Six members written under three footers (pre-ALTER, after ADD
    COLUMN DEFAULT, after MODIFY COLUMN) read as exactly three parquet
    scans, and the mixed read equals a pandas model of the ALTERs."""
    import pandas as pd

    wh = _wh(spark, tmp_path)
    mig = SchemaMigrator(wh)
    rows = []
    for b in range(2):
        ids = [(b * 2 + 1, _D1), (b * 2 + 2, _D2)]
        wh.append("alt_events", _rows(spark, ids), batch_id=b)
        rows += [(i, str(i * 10), float(i), "pos") for i, _ in ids]
    mig.add_computed_column(
        "alt_events", "bucket", T.StringType(),
        "CASE WHEN value >= 0 THEN 'pos' ELSE 'neg' END", kind="default",
    )
    bucketed = T.StructType([*_SCHEMA.fields,
                             T.StructField("bucket", T.StringType())])
    for b in (2, 3):
        wh.append("alt_events", spark.createDataFrame(
            [(b * 2 + 1, _D3, b, -1.0, _D3.date(), "stored")], bucketed),
            batch_id=b)
        rows.append((b * 2 + 1, str(b), -1.0, "stored"))
    mig.modify_column_type("alt_events", "user_id", T.StringType())
    retyped = T.StructType([
        T.StructField("user_id", T.StringType()) if f.name == "user_id"
        else f for f in bucketed.fields
    ])
    for b in (4, 5):
        wh.append("alt_events", spark.createDataFrame(
            [(b * 2 + 1, _D1, f"u{b}", 5.0, _D1.date(), None)], retyped),
            batch_id=b)
        rows.append((b * 2 + 1, f"u{b}", 5.0, None))
    assert len(wh.load_manifest("alt_events")["members"]) == 6
    df = wh.read("alt_events")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("FileScan parquet") == 3
    cols = ["event_id", "user_id", "value", "bucket"]
    got = (df.select(*cols).toPandas().sort_values("event_id")
           .reset_index(drop=True))
    want = pd.DataFrame(rows, columns=cols).sort_values(
        "event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
