"""SIEM layer tests: JSON extraction fidelity + end-to-end bronze→gold.

Fixture payloads are synthetic but shaped like the reference's sample Kafka
events (scripts/data-{suricata-1,wazuh-2,zeek-3}.json — Malcolm/ECS style),
exercising every fallback branch SURVEY.md §2.2 P4 lists.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dev_clickhouse_spark.plans import PipelineRunner, topo_sorted_waves
from dev_clickhouse_spark.sources import extract_suricata, extract_wazuh, extract_zeek


def suricata_payload(h="s1", ts="2026-01-08T09:28:36.229Z", **over):
    p = {
        "event": {"hash": h, "provider": "suricata", "module": "suricata",
                  "dataset": "alert", "kind": "alert", "severity": 3},
        "@timestamp": ts,
        "suricata": {"timestamp": "2026-01-08T16:28:36.229+07:00",
                     "alert": {"severity": 2, "signature": "ET SCAN", "action": "allowed"},
                     "flow_id": 1234567, "http": {"url": "/index.html"}},
        "agent": {"name": "sensor-a"},
        "source": {"ip": "10.0.0.1", "port": 1234},
        "destination": {"ip": "10.0.0.2", "port": 80},
        "network": {"application": "http", "bytes": 2048, "packets": 10},
        "rule": {"name": "ET SCAN rule", "id": 2100498, "category": ["scan"]},
        "tags": ["ids", "external"],
        "message": "alert fired",
    }
    p.update(over)
    return p


def wazuh_payload(h="w1", agent_ip="10.1.0.1", ts="2026-01-08T09:28:36.229Z", **over):
    p = {
        "event": {"hash": h, "provider": "wazuh", "module": "audit.log",
                  "dataset": "alert", "kind": "alert",
                  "start": 1767864514640, "end": 1767864514640,
                  "ingested": "2026-01-08T09:28:40.000Z"},
        "@timestamp": ts,
        "agent": {"name": "agent7", "ip": agent_ip},
        "host": {"name": "host7", "ip": agent_ip},
        "rule": {"id": "200178", "level": 12, "name": "suspicious activity",
                 "ruleset": ["audit", "syscall"]},
        "tags": ["hids", "audit"],
        "message": None,
    }
    p.update(over)
    return p


def zeek_payload(h="z1", ts="2026-01-08T09:28:36.229Z", **over):
    p = {
        "event": {"hash": h, "provider": "zeek", "module": "conn",
                  "dataset": "conn", "kind": "event",
                  "start": 1767864514640, "end": 1767864515640,
                  "ingested": "2026-01-08T09:28:40.000Z"},
        "@timestamp": ts,
        "zeek": {"uid": "CxT1", "ts": "2026-01-08T09:28:36.000Z",
                 "conn": {"orig_bytes": "100", "resp_bytes": 200,
                          "orig_pkts": "2", "resp_pkts": 3,
                          "conn_state": "SF", "duration": "0.420037",
                          "conn_state_description": "normal termination"}},
        "node": "zeek-node-1",
        "source": {"ip": "192.168.1.10", "port": 51515,
                   "geo": {"location": {"lat": -6.2, "lon": 106.8},
                           "country_name": "Indonesia", "city_name": "Jakarta"},
                   "mac": ["aa:bb:cc:dd:ee:ff"]},
        "destination": {"ip": "2001:db8::1", "port": 443},
        "network": {"transport": ["tcp"], "bytes": 300, "packets": 5,
                    "community_id": "1:abc", "type": "ipv4", "direction": "outbound"},
        "tags": [],
        "event_extra": {},
    }
    p.update(over)
    return p


def raw_df(spark, payloads):
    return spark.createDataFrame([(json.dumps(p),) for p in payloads], "raw string")


# ---------------------------------------------------------------------------
# Extraction fidelity
# ---------------------------------------------------------------------------

def test_suricata_extraction(spark):
    df = raw_df(spark, [suricata_payload()])
    r = extract_suricata(df).first()
    assert r.event_id == "s1"
    assert r.event_ts == dt.datetime(2026, 1, 8, 9, 28, 36, 229000)
    assert r.sensor_type == "suricata"      # event.provider first
    assert r.sensor_name == "sensor-a"      # agent.name first
    assert r.severity == "2"                # suricata.alert.severity wins
    assert r.protocol == "http"             # network.application wins
    assert r.bytes == 2048 and r.packets == 10
    assert r.signature == "ET SCAN rule"    # rule.name wins over alert.signature
    assert r.signature_id == 2100498
    assert r.category == "scan"             # rule.category[0]
    assert r.alert_action == "allowed"
    assert r.tags == ["ids", "external"]
    assert r.message == "alert fired"


def test_suricata_ts_fallback_and_routing(spark):
    # no @timestamp → suricata.timestamp (offset +07:00 → same instant UTC)
    p = suricata_payload()
    del p["@timestamp"]
    r = extract_suricata(raw_df(spark, [p])).first()
    assert r.event_ts == dt.datetime(2026, 1, 8, 9, 28, 36, 229000)
    # missing event.hash → dropped (required-field guard)
    p2 = suricata_payload()
    p2["event"]["hash"] = ""
    # non-suricata event → not routed
    p3 = {"event": {"hash": "x", "provider": "wazuh"}}
    out = extract_suricata(raw_df(spark, [p2, p3]))
    assert out.count() == 0


def test_wazuh_extraction(spark):
    r = extract_wazuh(raw_df(spark, [wazuh_payload()])).first()
    assert r.event_id == "w1"
    assert r.agent_name == "agent7" and r.agent_ip == "10.1.0.1"
    assert r.rule_id == "200178" and r.rule_level == 12
    assert json.loads(r.rule_ruleset) == ["audit", "syscall"]
    assert r.event_start_ts == dt.datetime(2026, 1, 8, 9, 28, 34, 640000)
    assert r.tags == ["hids", "audit"]
    assert r.message == "suspicious activity"  # null message → rule.name


def test_wazuh_ts_from_epoch_millis(spark):
    p = wazuh_payload()
    del p["@timestamp"]
    p["event"]["ingested"] = ""
    r = extract_wazuh(raw_df(spark, [p])).first()
    # falls through to fromUnixTimestamp64Milli(event.start)
    assert r.event_ts == dt.datetime(2026, 1, 8, 9, 28, 34, 640000)


def test_zeek_extraction_numerics_as_strings(spark):
    r = extract_zeek(raw_df(spark, [zeek_payload()])).first()
    assert r.event_id == "z1"
    assert r.zeek_uid == "CxT1"
    assert r.sensor_name == "zeek-node-1"   # node fallback
    assert r.orig_bytes == 100 and r.resp_bytes == 200      # "100" try_cast
    assert r.orig_pkts == 2 and r.resp_pkts == 3
    assert r.duration == pytest.approx(0.420037)
    assert r.protocol == "tcp"              # network.transport[0]
    assert r.geo_latitude == pytest.approx(-6.2)
    assert r.geo_country == "Indonesia"
    assert r.mac_address == "aa:bb:cc:dd:ee:ff"
    assert r.dest_ip == "2001:db8::1"
    assert r.tags == []                     # empty tags, not null
    assert r.message == "normal termination"  # conn_state_description fallback


def test_zeek_tags_category_fallback(spark):
    p = zeek_payload()
    del p["tags"]
    p["event"]["category"] = ["network", "connection"]
    r = extract_zeek(raw_df(spark, [p])).first()
    assert r.tags == ["network", "connection"]


# ---------------------------------------------------------------------------
# End-to-end: ingest → 16 pipelines → gold invariants
# ---------------------------------------------------------------------------

W1 = (dt.datetime(2026, 1, 8, 9, 0), dt.datetime(2026, 1, 8, 10, 0))
W2 = (dt.datetime(2026, 1, 8, 10, 0), dt.datetime(2026, 1, 8, 11, 0))


def _mk_runner(spark, tmp_path):
    runner = PipelineRunner(spark, str(tmp_path / "wh"), max_active_tasks=4)
    payloads = [
        # window 1: agent7 @ ip .1 (2 events), suricata, zeek
        wazuh_payload("w1", "10.1.0.1", "2026-01-08T09:10:00.000Z"),
        wazuh_payload("w2", "10.1.0.1", "2026-01-08T09:20:00.000Z"),
        suricata_payload("s1", "2026-01-08T09:15:00.000Z"),
        zeek_payload("z1", "2026-01-08T09:30:00.000Z"),
        # window 2: agent IP changes → SCD2 close/open
        wazuh_payload("w3", "10.1.0.9", "2026-01-08T10:05:00.000Z"),
        wazuh_payload("w4", "10.1.0.9", "2026-01-08T10:45:00.000Z"),
        suricata_payload("s2", "2026-01-08T10:15:00.000Z"),
        # malformed rows: no hash, not valid JSON at all
        {"event": {"provider": "wazuh"}},
    ]
    runner_raw = raw_df(spark, payloads).union(
        spark.createDataFrame([("not json at all",)], "raw string")
    )
    runner.ingested = runner.ingest_raw(runner_raw)
    return runner


@pytest.fixture(scope="module")
def gold(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("siem")
    runner = _mk_runner(spark, tmp)
    runner.run_window(*W1)
    runner.run_window(*W2)
    return runner


def test_bronze_counts(gold):
    assert gold.wh.read("wazuh_events_raw").count() == 4
    assert gold.wh.read("suricata_events_raw").count() == 2
    assert gold.wh.read("zeek_events_raw").count() == 1


def test_fact_counts_and_rerun_idempotent(gold):
    assert gold.wh.read("fact_wazuh_events").count() == 4
    assert gold.wh.read("fact_suricata_events").count() == 2
    assert gold.wh.read("fact_zeek_events").count() == 1
    # rerunning window 1 adds nothing anywhere (anti-join guards)
    before = {
        t: gold.wh.read(t).count()
        for t in ("fact_wazuh_events", "dim_sensor", "dim_tag",
                  "bridge_wazuh_event_tag", "dim_agent")
    }
    gold.run_window(*W1)
    after = {t: gold.wh.read(t).count() for t in before}
    assert before == after


def test_scd2_agent_close_open(gold):
    dim = gold.wh.read("dim_agent").orderBy("effective_from").collect()
    assert len(dim) == 2
    v1, v2 = dim
    assert v1.agent_ip == "10.1.0.1" and v1.is_current == 0
    # closed at the first changed row's ts; opened version starts there too
    assert v1.effective_to == v2.effective_from
    assert v2.agent_ip == "10.1.0.9" and v2.is_current == 1
    assert v2.effective_from == dt.datetime(2026, 1, 8, 10, 5)
    # exactly one current version
    assert sum(r.is_current for r in dim) == 1


def test_fact_wazuh_asof_keys(gold):
    dim = {r.agent_key: r for r in gold.wh.read("dim_agent").collect()}
    facts = {r.event_id: r for r in gold.wh.read("fact_wazuh_events").collect()}
    # w1/w2 events resolve to the v1 version, w3/w4 to v2
    assert dim[facts["w1"].agent_key].agent_ip == "10.1.0.1"
    assert dim[facts["w2"].agent_key].agent_ip == "10.1.0.1"
    assert dim[facts["w3"].agent_key].agent_ip == "10.1.0.9"
    assert dim[facts["w4"].agent_key].agent_ip == "10.1.0.9"
    # lag_seconds present (ingested - event_ts may be negative for synthetic ts)
    assert facts["w1"].lag_seconds is not None


def test_star_key_integrity(gold):
    fact = gold.wh.read("fact_suricata_events")
    dim_sig = gold.wh.read("dim_signature")
    unmatched = fact.join(
        dim_sig, on="signature_key", how="left_anti"
    ).filter(F.col("signature_key").isNotNull())
    assert unmatched.count() == 0
    # date/time keys match Jakarta wall clock: 09:15 UTC → 16:15 local
    r = {x.event_id: x for x in fact.collect()}["s1"]
    assert r.date_key == 20260108
    assert r.time_key == 161500


def test_bridges(gold):
    # wazuh events carry 2 tags each ×4 events
    assert gold.wh.read("bridge_wazuh_event_tag").count() == 8
    assert gold.wh.read("bridge_suricata_event_tag").count() == 4
    assert gold.wh.read("bridge_zeek_event_tag").count() == 0
    # every bridge tag_key resolves in dim_tag
    b = gold.wh.read("bridge_wazuh_event_tag")
    d = gold.wh.read("dim_tag")
    assert b.join(d, on="tag_key", how="left_anti").count() == 0


def test_dim_date_time(gold):
    dates = {r.date_key for r in gold.wh.read("dim_date").collect()}
    assert dates == {20260108}
    times = gold.wh.read("dim_time")
    assert times.count() == times.select("time_key").distinct().count()


def test_pipeline_runs_metrics_persisted(gold, spark):
    runs = spark.read.parquet(gold.wh.path("pipeline_runs"))
    assert runs.count() >= 32  # 16 pipelines × ≥2 windows
    cols = set(runs.columns)
    assert {"pipeline_id", "rows_before", "rows_after", "rows_delta",
            "seconds"} <= cols
    # deltas recorded in memory match the persisted table
    total_mem = sum(m["rows_delta"] for m in gold.metrics)
    total_tbl = runs.agg(F.sum("rows_delta")).first()[0]
    assert total_mem == total_tbl


W_EMPTY = (dt.datetime(2026, 1, 9, 9, 0), dt.datetime(2026, 1, 9, 10, 0))


def test_observed_row_counts_and_run_log(spark, tmp_path):
    """Row counts are observed during the writes (ingest and every gold
    pipeline): a first refresh, a rerun that writes nothing and a window
    with no bronze rows all report the tables' true sizes, including 0.
    Each run adds ONE file to ``pipeline_runs``, read back with the same
    schema as the Spark-written log it replaces."""
    from dev_clickhouse_spark import io

    runner = _mk_runner(spark, tmp_path)
    assert runner.ingested == {
        "suricata_events_raw": 2, "wazuh_events_raw": 4, "zeek_events_raw": 1,
    }
    topo = [s.pipeline_id for wave in topo_sorted_waves() for s in wave]

    def check(metrics, zero: bool):
        assert [m["pipeline_id"] for m in metrics] == topo
        for m in metrics:
            assert m["rows_after"] == runner.wh.read(m["target_table"]).count(), m
            assert m["rows_delta"] == m["rows_after"] - m["rows_before"], m
            if zero:
                assert m["rows_delta"] == 0, m

    first = runner.run_window(*W1)
    check(first, zero=False)
    assert sum(m["rows_delta"] > 0 for m in first) == 15  # all but zeek tags
    check(runner.run_window(*W1), zero=True)  # already refreshed

    d = runner.wh.path("pipeline_runs")
    files = sorted(os.listdir(d))
    assert len(files) == 2 and all(f.endswith(".parquet") for f in files)
    runs = spark.read.parquet(d)
    assert runs.schema == T.StructType(
        [T.StructField(c, T.StringType()) for c in
         ("pipeline_id", "target_table", "start_ts", "end_ts")]
        + [T.StructField(c, T.LongType()) for c in
           ("rows_before", "rows_after", "rows_delta")]
        + [T.StructField("seconds", T.DoubleType())]
    )
    assert runs.schema == io.parquet_schema(d)
    assert runs.count() == 32
    assert runs.agg(F.sum("rows_delta")).first()[0] == sum(
        m["rows_delta"] for m in first
    )

    check(runner.run_window(*W_EMPTY), zero=True)  # no bronze rows


def test_topo_waves():
    waves = topo_sorted_waves()
    order = {s.pipeline_id: i for i, wave in enumerate(waves) for s in wave}
    assert order["dim_tag"] < order["bridge_wazuh_event_tag"]
    assert order["fact_wazuh_events"] < order["bridge_wazuh_event_tag"]
    assert order["dim_agent_scd2"] < order["fact_wazuh_events"]


# ---------------------------------------------------------------------------
# At-least-once input: an event delivered twice inside one window reaches
# gold once (the reference's facts are ReplacingMergeTree on
# (event_id, event_ts)); bronze keeps both delivered copies for audit.
# ---------------------------------------------------------------------------

def _redelivered(spark, tmp_path, payloads, twice):
    runner = PipelineRunner(spark, str(tmp_path / "wh"), max_active_tasks=4)
    runner.ingest_raw(raw_df(spark, [*payloads, twice]))
    runner.run_window(*W1)
    return runner


def test_redelivered_wazuh_line_reaches_gold_once(spark, tmp_path):
    w1 = wazuh_payload("w1", "10.1.0.1", "2026-01-08T09:10:00.000Z")
    runner = _redelivered(spark, tmp_path, [
        w1, wazuh_payload("w2", "10.1.0.1", "2026-01-08T09:20:00.000Z"),
    ], twice=w1)
    assert runner.wh.read("wazuh_events_raw").count() == 3
    fact = runner.wh.read("fact_wazuh_events")
    assert sorted(r.event_id for r in fact.collect()) == ["w1", "w2"]
    assert runner.wh.read("bridge_wazuh_event_tag").filter(
        "event_id = 'w1'"
    ).count() == 2  # the payload's two tags, once each


def test_redelivered_suricata_line_reaches_gold_once(spark, tmp_path):
    s1 = suricata_payload("s1", "2026-01-08T09:15:00.000Z")
    runner = _redelivered(spark, tmp_path, [
        s1, suricata_payload("s2", "2026-01-08T09:25:00.000Z"),
    ], twice=s1)
    assert runner.wh.read("suricata_events_raw").count() == 3
    fact = runner.wh.read("fact_suricata_events")
    assert sorted(r.event_id for r in fact.collect()) == ["s1", "s2"]
