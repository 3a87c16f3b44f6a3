"""One table layout: every Warehouse write is a committed manifest member.

Runner-written gold tables take every manifest verb, a read of many
partitioned members is one parquet scan, snapshot overwrites need no
checkpoint, zero-row writes list nothing, and a compaction never brings
back rows an overwrite replaced.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from dev_clickhouse_spark.plans.warehouse import Warehouse, member_kind


def _member_dirs(wh: Warehouse, table: str) -> list[str]:
    return sorted(e for e in os.listdir(wh.path(table)) if "=" in e)


def _gold_runner(spark, tmp_path):
    from tests.test_siem import W1, W2, _mk_runner

    runner = _mk_runner(spark, tmp_path)
    runner.run_window(*W1)
    runner.run_window(*W2)
    return runner


def test_runner_written_fact_takes_every_manifest_verb(spark, tmp_path):
    wh = _gold_runner(spark, tmp_path).wh
    t = "fact_wazuh_events"
    members = wh.load_manifest(t)["members"]
    assert len(members) == 2  # one insert per window
    first = wh.load_manifest(t)["version"] - 1  # after window 1
    assert {r.event_id for r in wh.read_at_version(t, first).collect()} == {
        "w1", "w2"
    }

    wh.declare_skip_index(t, "id_mm", "event_id")
    idx = wh.skip_index_for(t)
    assert idx.ensure() == 2
    hit = idx.read([("between", "event_id", "w3", "w4")])
    assert {r.event_id for r in hit.collect()} == {"w3", "w4"}
    assert idx.last_stats["members_scanned"] == 1

    assert wh.delete_where_lightweight(t, "event_id = 'w1'")[
        "rows_deleted"] == 1
    assert wh.update_where_lightweight(
        t, {"message": F.lit("patched")}, "event_id = 'w3'"
    )["rows_updated"] == 1
    got = {r.event_id: r.message for r in wh.read(t).collect()}
    assert set(got) == {"w2", "w3", "w4"} and got["w3"] == "patched"


def test_partitioned_multi_member_read_is_one_scan(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "ev"
    wh.set_partitioning(t, ["event_ts", "event_id"])

    def rows(ids):
        return spark.createDataFrame(
            [(i, dt.datetime(2026, 1, 1 + i % 4, 12, 0), f"v{i}") for i in ids],
            "event_id long, event_ts timestamp, v string",
        )

    wh.append(t, rows([0, 1, 2]), batch_id=0)
    wh.append(t, rows([3, 4]))
    wh.append(t, rows([5, 6, 7]), batch_id=1)
    assert len(wh.load_manifest(t)["members"]) == 3

    def scans(df) -> list[str]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]

    df = wh.read(t)
    assert len(scans(df)) == 1
    assert "member" not in df.columns and "event_date" in df.columns
    assert sorted(r.event_id for r in df.collect()) == list(range(8))
    pruned = df.filter(F.col("event_date") == F.lit(dt.date(2026, 1, 2)))
    assert sorted(r.event_id for r in pruned.collect()) == [1, 5]

    wh.delete_where_lightweight(t, "event_id IN (1, 4)")
    df = wh.read(t)
    dv_scans = [
        s for s in scans(df)
        if "ReadSchema: struct<__dv_file:string,__dv_pos:bigint>" in s
    ]
    assert len(dv_scans) == 1 and len(scans(df)) == 2  # one member scan
    assert sorted(r.event_id for r in df.collect()) == [0, 2, 3, 5, 6, 7]


def test_scd2_overwrite_reads_what_it_replaces(spark, tmp_path):
    runner = _gold_runner(spark, tmp_path)
    wh = runner.wh
    # window 2's SCD2 snapshot was built from window 1's (cur) and replaced
    # it: one member listed; window 1's stays on disk until gc
    (member,) = wh.load_manifest("dim_agent")["members"]
    assert member in _member_dirs(wh, "dim_agent")
    assert sorted(r.agent_ip for r in wh.read("dim_agent").collect()) == [
        "10.1.0.1", "10.1.0.9"
    ]
    # a snapshot whose plan reads the table it replaces, no checkpoint
    cur = wh.read("dim_agent")
    n = wh.overwrite(
        "dim_agent",
        cur.unionByName(cur.withColumn("agent_key", F.col("agent_key") + 100)),
    )
    assert n == 4 and wh.read("dim_agent").count() == 4
    assert len(wh.load_manifest("dim_agent")["members"]) == 1
    # a 0-row snapshot flips to no member and writes no directory
    dirs = _member_dirs(wh, "dim_agent")
    assert wh.overwrite("dim_agent", cur.limit(0)) == 0
    assert wh.load_manifest("dim_agent")["members"] == []
    assert _member_dirs(wh, "dim_agent") == dirs
    assert not wh.exists("dim_agent")  # the superseded dirs do not count
    assert wh.read("dim_agent").count() == 0


def test_rerun_of_refreshed_window_adds_no_parquet_file(spark, tmp_path):
    from dev_clickhouse_spark.schemas import GOLD_SCHEMAS
    from tests.test_siem import W2

    runner = _gold_runner(spark, tmp_path)
    wh = runner.wh

    def gold_files() -> int:
        # the files the manifests list: a rerun's superseded snapshots stay
        # on disk until gc
        return sum(
            r.n_files for r in wh.tables().collect() if r.table in GOLD_SCHEMAS
        )

    before = gold_files()
    runs = runner.run_window(*W2)
    assert all(
        r["rows_delta"] == 0 for r in runs if r["rows_before"] == r["rows_after"]
    )
    assert gold_files() <= before


def test_zero_row_batch_append_records_ledger_only(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "v long")
    assert wh.append("ingest_metrics", empty, batch_id=3) == 0
    assert wh.batch_committed("ingest_metrics", 3)
    assert wh.load_manifest("ingest_metrics")["members"] == []
    assert not wh.exists("ingest_metrics")


def test_compaction_flip_does_not_resurrect_overwritten_rows(
    spark, tmp_path, monkeypatch
):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "ingest_metrics"
    df = lambda vs: spark.createDataFrame(  # noqa: E731
        [(v,) for v in vs], "v long"
    )
    wh.append(t, df([1, 2]), batch_id=0)
    wh.append(t, df([3]), batch_id=1)

    real_write = Warehouse._write_compacted

    def write_then_overwrite(self, table, frame, target):
        real_write(self, table, frame, target)
        # lands between the compactor's snapshot and its flip
        wh.overwrite(t, df([9]))

    monkeypatch.setattr(Warehouse, "_write_compacted", write_then_overwrite)
    wh.compact(t)
    assert [r.v for r in wh.read(t).collect()] == [9]
    members = wh.load_manifest(t)["members"]
    assert [member_kind(m) for m in members] == ["insert"]
    # the rewrite was discarded; the replaced batch members stay until gc
    assert _member_dirs(wh, t) == sorted(
        members + ["member=batch-0", "member=batch-1"]
    )
