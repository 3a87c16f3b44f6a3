"""Operator CLI (`python -m dev_clickhouse_spark`) — the engine's analog of
the reference's cron/compose-exec operational surface.  Driven in-process
through main(argv) with the shared Spark session (a subprocess would pay a
full JVM spin-up per command)."""

from __future__ import annotations

import json

import pytest

from dev_clickhouse_spark.__main__ import main


@pytest.fixture()
def env(spark, tmp_path):
    """warehouse dir + store url + two raw JSONL files."""
    from test_siem import suricata_payload, wazuh_payload

    raw = tmp_path / "raw.jsonl"
    raw.write_text(
        "\n".join([
            json.dumps(wazuh_payload("w1", "10.5.0.1",
                                     "2026-01-08T09:10:00.000Z")),
            json.dumps(suricata_payload("s1", ts="2026-01-08T09:12:00.000Z")),
        ]) + "\n"
    )
    return {
        "wh": str(tmp_path / "wh"),
        "store": f"jdbc:derby:{tmp_path / 'meta'};create=true",
        "raw": str(raw),
    }


def test_cli_ingest_tick_and_catalog_edits(env, capsys):
    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["wazuh_events_raw"] == 1
    assert counts["suricata_events_raw"] == 1

    # seed the store, disable a pipeline through the CLI
    main(["--warehouse", env["wh"], "--store-url", env["store"], "seed-store"])
    main(["--warehouse", env["wh"], "--store-url", env["store"],
          "disable", "bridge_zeek_event_tag"])
    out = capsys.readouterr().out
    assert "seeded 16 pipelines" in out and "disabled" in out

    # backfill window through the CLI honors the store's enabled set
    main(["--warehouse", env["wh"], "--store-url", env["store"],
          "run-window", "--start", "2026-01-08T09:00:00",
          "--end", "2026-01-08T10:00:00"])
    tick = capsys.readouterr().out
    assert "fact_wazuh_events" in tick
    assert "bridge_zeek_event_tag" not in tick

    # catalog listing reflects the edit
    main(["--warehouse", env["wh"], "--store-url", env["store"], "pipelines"])
    listing = capsys.readouterr().out
    assert "fact_wazuh_events" in listing
    assert "bridge_zeek_event_tag" not in listing


def test_cli_migrate_and_compact(env, spark, tmp_path, capsys):
    from pyspark.sql import types as T

    from dev_clickhouse_spark.plans import Warehouse

    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    capsys.readouterr()

    wh = Warehouse(spark, env["wh"])
    base = [f for f in wh.schema_for("wazuh_events_raw").fields
            if f.name != "event_date"]
    target = T.StructType(
        [*base, T.StructField("enrichment_score", T.DoubleType())]
    )
    sj = tmp_path / "target.json"
    sj.write_text(json.dumps(target.jsonValue()))

    main(["--warehouse", env["wh"], "migrate", "wazuh_events_raw", str(sj),
          "--dry-run"])
    plan = json.loads(capsys.readouterr().out.strip())
    assert plan["added"] == ["enrichment_score"] and not plan["applied"]

    main(["--warehouse", env["wh"], "migrate", "wazuh_events_raw", str(sj)])
    applied = json.loads(capsys.readouterr().out.strip())
    assert applied["applied"] and applied["added"] == ["enrichment_score"]
    assert "enrichment_score" in wh.read("wazuh_events_raw").columns

    main(["--warehouse", env["wh"], "compact", "wazuh_events_raw"])
    out = capsys.readouterr().out
    assert "after compaction" in out
    assert wh.read("wazuh_events_raw").count() == 1


def test_cli_serve_views_respect_migrations(env, spark, tmp_path, capsys):
    """The serving view map must read a migrated gold table through its
    declared schema: an inferred read over mixed pre/post-ALTER files can
    adopt one file's footer and hide the added column from BI."""
    import datetime as dt

    from pyspark.sql import types as T

    from dev_clickhouse_spark.__main__ import gold_views
    from dev_clickhouse_spark.plans import Warehouse
    from dev_clickhouse_spark.quality import SchemaMigrator
    from dev_clickhouse_spark.serving import SqlServingEndpoint

    wh = Warehouse(spark, env["wh"])
    ts = dt.datetime(2026, 1, 8, 9, 0)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "t1", ts)], wh.schema_for("dim_tag")
    ))
    target = T.StructType(
        [*wh.schema_for("dim_tag").fields,
         T.StructField("tag_category", T.StringType())]
    )
    SchemaMigrator(wh).apply("dim_tag", target)
    wh.append("dim_tag", spark.createDataFrame(
        [(2, "t2", ts, "catB")], wh.schema_for("dim_tag")
    ))

    views = gold_views(wh)
    assert callable(views["dim_tag"])  # resolved through Warehouse.read
    ep = SqlServingEndpoint(spark, views)
    rows = ep.execute(
        "SELECT tag_key, tag_category FROM dim_tag ORDER BY tag_key"
    )
    assert rows == [
        {"tag_key": 1, "tag_category": None},
        {"tag_key": 2, "tag_category": "catB"},
    ]


def test_cli_run_latest_with_explicit_now(env, capsys):
    """--now reruns a historical tick deterministically: the trailing window
    anchors to the given instant, not the wall clock (events from 2026
    would otherwise never fall inside a live 10-minute window)."""
    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    capsys.readouterr()
    main(["--warehouse", env["wh"], "run-latest",
          "--now", "2026-01-08T09:15:00", "--no-monitor"])
    out = capsys.readouterr().out
    assert "fact_wazuh_events" in out
    assert "[2026-01-08 09:05:00 .. 2026-01-08 09:15:00)" in out


def test_cli_serve_starts_and_serves(env, monkeypatch, capsys):
    """`python -m dev_clickhouse_spark serve` must come up and answer a
    query — regression for the undefined-`views` NameError that crashed the
    command right after binding the port."""
    import urllib.parse
    import urllib.request

    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    main(["--warehouse", env["wh"], "run-latest",
          "--now", "2026-01-08T09:15:00", "--no-monitor"])
    capsys.readouterr()

    import dev_clickhouse_spark.__main__ as cli

    probed = {}

    def probe_then_interrupt(port):
        q = urllib.parse.urlencode(
            {"q": "SELECT count(*) AS n FROM fact_wazuh_events"}
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/query?{q}", timeout=60
        ) as resp:
            probed["body"] = json.loads(resp.read())
        raise KeyboardInterrupt

    monkeypatch.setattr(cli, "_serve_forever", probe_then_interrupt)
    main(["--warehouse", env["wh"], "serve", "--port", "0"])
    out = capsys.readouterr().out
    assert "serving" in out and "gold views on http://127.0.0.1:" in out
    assert probed["body"]["rows"] == [{"n": 1}]


def test_cli_corpus_ingest(env, spark, tmp_path, capsys):
    """corpus-ingest drives the streaming corpus builder end to end: a
    second run over the same directory consumes nothing new (checkpoint),
    and a near-dup file added later is rejected against the index."""
    from dev_clickhouse_spark.schemas import CORPUS_DOCUMENTS

    base = ("one reasonably long sentence about engines pipelines shuffles "
            "and partitions that repeats enough words to form shingles")
    inp = tmp_path / "docs_in"
    spark.createDataFrame(
        [(1, base, "en", "web", len(base))], CORPUS_DOCUMENTS
    ).coalesce(1).write.mode("append").parquet(str(inp))

    main(["--warehouse", env["wh"], "corpus-ingest", str(inp)])
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1 == {"corpus_documents": 1, "corpus_rejects": 0}

    spark.createDataFrame(
        [(2, base + " tail", "en", "web", 5)], CORPUS_DOCUMENTS
    ).coalesce(1).write.mode("append").parquet(str(inp))
    main(["--warehouse", env["wh"], "corpus-ingest", str(inp)])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2 == {"corpus_documents": 1, "corpus_rejects": 1}


def test_cli_alter_surface(env, spark, capsys):
    """rename-column / drop-column / set-ttl round-trip through the CLI
    (the operator's ALTER surface)."""
    from dev_clickhouse_spark.plans import Warehouse

    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    capsys.readouterr()
    wh = Warehouse(spark, env["wh"])

    main(["--warehouse", env["wh"], "rename-column", "wazuh_events_raw",
          "rule_name", "rule_title"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["renamed"] == {"rule_name": "rule_title"}
    cols = wh.read("wazuh_events_raw").columns
    assert "rule_title" in cols and "rule_name" not in cols

    main(["--warehouse", env["wh"], "drop-column", "wazuh_events_raw",
          "rule_ruleset"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["metadata_only"] and out["dropped"] == "rule_ruleset"
    assert "rule_ruleset" not in wh.read("wazuh_events_raw").columns

    main(["--warehouse", env["wh"], "set-ttl", "wazuh_events_raw",
          "--interval-days", "365"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["ttl"]["interval_days"] == 365.0
    main(["--warehouse", env["wh"], "set-ttl", "wazuh_events_raw",
          "--remove"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["ttl"] is None


def test_cli_alter_column_surface(env, spark, capsys):
    """modify-column / clear-column / materialize-column / set-column-ttl
    round-trip through the CLI (the round-11 column-ALTER surface).
    Non-widening MODIFY and CLEAR are member-addressed, so the table uses
    the batch (manifest) layout the streaming ingest path produces."""
    from dev_clickhouse_spark.plans import Warehouse

    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    capsys.readouterr()
    wh = Warehouse(spark, env["wh"])
    t = "wazuh_events_raw"
    # re-land the ingested rows as a batch-layout twin of the same table
    plain = wh.read(t).localCheckpoint(eager=True)
    import shutil as _sh

    _sh.rmtree(wh.path(t))
    wh.append(t, plain.drop("event_date"), batch_id=0)

    main(["--warehouse", env["wh"], "modify-column", t,
          "rule_level", "string"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["cast_chains"] == {"rule_level": "string"}
    assert dict(wh.read(t).dtypes)["rule_level"] == "string"

    d0 = str(wh.read(t).agg({"event_date": "min"}).collect()[0][0])
    main(["--warehouse", env["wh"], "clear-column", t, "rule_name", d0])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["members_addressed"] >= 1
    assert wh.read(t).filter(
        f"event_date = '{d0}' AND rule_name IS NOT NULL"
    ).count() == 0

    main(["--warehouse", env["wh"], "set-column-ttl", t, "rule_name",
          "--interval-days", "30"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["column_ttls"]["rule_name"]["interval_days"] == 30.0
    main(["--warehouse", env["wh"], "set-column-ttl", t, "rule_name",
          "--remove"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["column_ttls"] == {}

    main(["--warehouse", env["wh"], "merges", "stop", t])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["merges_stopped"]
    main(["--warehouse", env["wh"], "merges", "start", t])
    out = json.loads(capsys.readouterr().out.strip())
    assert not out["merges_stopped"]

    main(["--warehouse", env["wh"], "parts-columns", t])
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert any(r["column"] == "event_id" and r["rows"] > 0 for r in lines)

    main(["--warehouse", env["wh"], "explain-estimate", t,
          "--where", "rule_level:>=:0"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["estimate"]["rows"] <= out["total"]["rows"]


def test_cli_bootstrap_ddl_provisions_reference_schema(env, spark, capsys):
    """bootstrap-ddl pointed at the reference's own init scripts
    provisions the complete bronze+gold star schema with the
    ReplacingMergeTree version declarations captured."""
    import os

    ref = "/root/reference/clickhouse/init"
    if not os.path.isdir(ref):
        pytest.skip("reference checkout not available")
    main(["--warehouse", env["wh"] + "_boot", "bootstrap-ddl",
          f"{ref}/01_bronze_tables.sql", f"{ref}/03_gold_tables.sql"])
    out = json.loads(capsys.readouterr().out.strip())
    from dev_clickhouse_spark.schemas import BRONZE_SCHEMAS, GOLD_SCHEMAS

    assert set(out["created"]) == set(BRONZE_SCHEMAS) | set(GOLD_SCHEMAS)
    assert out["engines"]["fact_wazuh_events"] == {
        "engine": "ReplacingMergeTree", "version_col": "updated_at"}
    assert "dim_host" not in out["engines"]      # plain MergeTree SCD2 dim


def test_cli_backup_restore_incremental(env, spark, tmp_path, capsys):
    """backup-table / restore-table CLI: full then --base incremental,
    restored into a second warehouse bit-equal to the live table."""
    from dev_clickhouse_spark.plans import Warehouse

    main(["--warehouse", env["wh"], "ingest", env["raw"]])
    capsys.readouterr()
    wh = Warehouse(spark, env["wh"])
    t = "wazuh_events_raw"
    plain = wh.read(t).localCheckpoint(eager=True)
    import shutil as _sh

    _sh.rmtree(wh.path(t))
    wh.append(t, plain.drop("event_date"), batch_id=0)

    full = str(tmp_path / "b_full")
    main(["--warehouse", env["wh"], "backup-table", t, full])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["members"] >= 1 and out["members_from_base"] == 0

    wh.append(t, plain.drop("event_date").limit(1), batch_id=1)
    incr = str(tmp_path / "b_incr")
    main(["--warehouse", env["wh"], "backup-table", t, incr,
          "--base", full])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["members_from_base"] == 1       # the untouched batch

    wh2root = str(tmp_path / "wh2")
    main(["--warehouse", wh2root, "restore-table", incr, t])
    json.loads(capsys.readouterr().out.strip())
    wh2 = Warehouse(spark, wh2root)
    assert wh2.read(t).count() == wh.read(t).count()
