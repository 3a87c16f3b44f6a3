"""File-level data-skipping index (plans/skip_index.py).

The contract under test is two-sided: (1) EQUALITY — a pruned read always
returns exactly ``wh.read(t).filter(pred)`` no matter how stale or absent
the sidecars are; (2) EVIDENCE — when members are genuinely disjoint on
the indexed column, the prune provably skips their files (files_scanned <
files_total), which is the whole point at 100 TB.
"""

import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark.sql import types as T

from dev_clickhouse_spark.io import load_table
from dev_clickhouse_spark.plans.skip_index import SkipIndex
from dev_clickhouse_spark.plans.warehouse import Warehouse
from dev_clickhouse_spark.quality import SchemaMigrator

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def scratch(tmp_path):
    root = str(tmp_path / "wh")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _events_wh(spark, root, batches=4):
    """Scratch manifest table: events split into user_id-range batches, so
    members are DISJOINT on user_id — the layout a skip index exploits."""
    wh = Warehouse(spark, root)
    ev = load_table(spark, SF, "events")
    hi = ev.agg(F.max("user_id")).first()[0]
    step = (hi // batches) + 1
    for b in range(batches):
        wh.append(
            "skip_events",
            ev.filter(
                (F.col("user_id") >= b * step)
                & (F.col("user_id") < (b + 1) * step)
            ),
            batch_id=b,
        )
    return wh


def test_minmax_prunes_disjoint_members_and_matches_full_scan(spark, scratch):
    wh = _events_wh(spark, scratch)
    idx = SkipIndex(wh, "skip_events", minmax_cols=("user_id", "value"))
    assert idx.ensure() == 4
    assert idx.ensure() == 0  # idempotent

    hi = wh.read("skip_events").agg(F.max("user_id")).first()[0]
    step = (hi // 4) + 1
    # a range entirely inside batch 1
    lo, up = step + 1, step + step // 2
    got = idx.read([("between", "user_id", lo, up)])
    want = wh.read("skip_events").filter(F.col("user_id").between(lo, up))
    assert _rows(got) == _rows(want)
    st = idx.last_stats
    assert st["files_scanned"] < st["files_total"]
    assert st["members_scanned"] < st["members_total"]


def test_eq_predicate_and_empty_result(spark, scratch):
    wh = _events_wh(spark, scratch)
    idx = SkipIndex(wh, "skip_events", minmax_cols=("user_id",))
    idx.ensure()
    some = wh.read("skip_events").select("user_id").first()[0]
    got = idx.read([("eq", "user_id", some)])
    want = wh.read("skip_events").filter(F.col("user_id") == some)
    assert _rows(got) == _rows(want)
    # a value outside every member prunes EVERYTHING and still returns
    # an empty frame with the right schema
    got0 = idx.read([("eq", "user_id", -12345)])
    assert got0.count() == 0
    assert set(got0.columns) == set(want.columns)


def test_unindexed_member_scans_whole_and_ensure_catches_up(spark, scratch):
    """A member written AFTER the index was built has no sidecar: the
    prune must scan it in full (correctness over speed) until ensure()
    builds its stats."""
    wh = _events_wh(spark, scratch, batches=3)
    idx = SkipIndex(wh, "skip_events", minmax_cols=("user_id",))
    idx.ensure()
    # late batch with user_ids shifted far outside every existing range
    ev = load_table(spark, SF, "events").limit(50)
    wh.append(
        "skip_events",
        ev.withColumn("user_id", F.col("user_id") + F.lit(10_000_000)),
        batch_id=99,
    )
    got = idx.read([("between", "user_id", 10_000_000, 20_000_000)])
    want = wh.read("skip_events").filter(
        F.col("user_id").between(10_000_000, 20_000_000)
    )
    assert _rows(got) == _rows(want)
    assert idx.ensure() == 1  # only the late member needed stats
    # after ensure, the same query skips the three old members entirely
    idx.read([("between", "user_id", 10_000_000, 20_000_000)])
    st = idx.last_stats
    assert st["members_scanned"] == 1


def test_mutation_invalidates_by_renaming_and_stays_correct(spark, scratch):
    wh = _events_wh(spark, scratch)
    idx = SkipIndex(wh, "skip_events", minmax_cols=("user_id",))
    idx.ensure()
    wh.delete_where("skip_events", "event_type = 'click'")
    # rewritten members have new names -> old sidecars ignored; the prune
    # must still agree with a full scan before AND after re-ensure
    pred = [("between", "user_id", 0, 10_000_000)]
    want = wh.read("skip_events").filter(
        F.col("user_id").between(0, 10_000_000)
    )
    assert _rows(idx.read(pred)) == _rows(want)
    assert idx.ensure() > 0
    assert _rows(idx.read(pred)) == _rows(want)
    assert (
        idx.read(pred).filter(F.col("event_type") == "click").count() == 0
    )


def test_token_bloom_skips_files_without_token(spark, scratch):
    """Token bloom: a unique token injected into ONE batch must prune the
    others (guaranteed-absent property); the residual filter keeps the
    result exact; a token present nowhere returns empty."""
    wh = Warehouse(spark, scratch)
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    third = max(1, n // 3)
    d = docs.withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
    for b in range(3):
        part = d.filter(
            (F.col("rn") > b * third)
            & (F.col("rn") <= (b + 1) * third if b < 2 else F.lit(True))
        ).drop("rn")
        if b == 1:
            part = part.withColumn(
                "text", F.concat(F.col("text"), F.lit(" zzqxuniquetoken"))
            )
        wh.append("skip_docs", part, batch_id=b)
    idx = SkipIndex(
        wh, "skip_docs", token_col="text", bloom_bits=1 << 16
    )
    idx.ensure()
    got = idx.read([("token", "zzqxuniquetoken")])
    st = idx.last_stats
    want = wh.read("skip_docs").filter(
        F.col("text").contains("zzqxuniquetoken")
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0
    assert st["members_scanned"] == 1, st
    # absent token: everything pruned, empty result
    got0 = idx.read([("token", "tokenthatappearsnowhere")])
    assert got0.count() == 0
    assert idx.last_stats["files_scanned"] == 0


def test_partitioned_member_keeps_partition_column(spark, scratch):
    """Date-partitioned tables (event_date= dirs inside each member): the
    pruned read goes through Warehouse._read_members, whose table-rooted
    scan keeps the partition column."""
    wh = Warehouse(spark, scratch)
    ev = load_table(spark, SF, "events").limit(200)
    base = ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("event_id"),
        F.col("ts").alias("event_ts"),
        F.lit("wazuh").alias("sensor_type"),
        F.lit("s1").alias("sensor_name"),
        "event_type",
        F.lit("low").alias("severity"),
        F.col("user_id").cast("string").alias("src_ip"),
    )
    wh.append("wazuh_events_raw", base.filter(F.col("event_type") == "click"),
              batch_id=0)
    wh.append("wazuh_events_raw", base.filter(F.col("event_type") != "click"),
              batch_id=1)
    idx = SkipIndex(wh, "wazuh_events_raw", minmax_cols=("event_type",))
    idx.ensure()
    got = idx.read([("eq", "event_type", "click")])
    assert "event_date" in got.columns
    want = wh.read("wazuh_events_raw").filter(F.col("event_type") == "click")
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in want.collect()
    )
    assert idx.last_stats["members_scanned"] == 1


def _alter_rename(wh, t, day):
    SchemaMigrator(wh).rename_column(t, "value", "amount")


def _alter_default(wh, t, day):
    SchemaMigrator(wh).add_computed_column(
        t, "v2", T.DoubleType(), "value * 2", kind="default"
    )


def _alter_clear(wh, t, day):
    wh.clear_column_in_partition(t, "props", day)


@pytest.mark.parametrize(
    "alter", [_alter_rename, _alter_default, _alter_clear],
    ids=["rename", "add_default", "clear_column"],
)
def test_pruned_read_applies_alter_metadata(spark, scratch, alter):
    """A pruned read of an ALTERed table equals ``wh.read(t).filter(pred)``
    in columns and rows: RENAME serves the new name, ADD COLUMN DEFAULT
    back-fills the pre-ALTER members, CLEAR COLUMN masks the addressed
    members' partition."""
    wh = Warehouse(spark, scratch)
    ev = load_table(spark, SF, "events").withColumnRenamed("ts", "event_ts")
    t = "alt_skip"
    wh.set_partitioning(t, ["event_ts", "event_id"])
    wh.save_schema_override(t, T.StructType(
        [*ev.schema.fields, T.StructField("event_date", T.DateType())]
    ))
    hi = ev.agg(F.max("user_id")).first()[0]
    step = hi // 3 + 1
    for b in range(3):
        wh.append(t, ev.filter(F.col("user_id").between(
            b * step, (b + 1) * step - 1)), batch_id=b)
    idx = SkipIndex(wh, t, minmax_cols=("user_id",))
    idx.ensure()
    day = wh.read(t).agg(F.min("event_date")).first()[0]
    alter(wh, t, day)
    pred = [("between", "user_id", 0, 2 * step - 1)]
    got = idx.read(pred)
    want = wh.read(t).filter(F.col("user_id").between(0, 2 * step - 1))
    assert got.columns == want.columns
    assert sorted(got.collect(), key=repr) == sorted(
        want.collect(), key=repr
    )
    assert idx.last_stats["members_scanned"] == 2
