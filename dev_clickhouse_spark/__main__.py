"""Operator CLI — ``python -m dev_clickhouse_spark <command>``.

The reference stack is DRIVEN from outside the code: cron fires the Airflow
DAG, ``docker compose exec`` runs backfills, Superset hits the HTTP port
(reference README.md:60-130).  This module is that operational surface for
the Spark engine — each subcommand wraps the same library calls the tests
drive, so an operator never has to write Python to run a tick, backfill a
window, flip a pipeline, apply a migration, compact a table, or stand up
the BI endpoint.

Commands (all take ``--warehouse``; ``--store-url`` points at the metadata
catalog when one exists):

- ``ingest FILES...``      — raw JSONL files → the 3 typed bronze tables
- ``run-latest``           — one scheduled tick (trailing windows, monitors)
- ``run-window``           — explicit [--start, --end) backfill
- ``pipelines``            — list the catalog (id, target, mode, window)
- ``enable / disable NAME``— flip a pipeline in the metadata store
- ``set-window NAME MIN``  — change a pipeline's trailing window
- ``seed-store``           — bootstrap + seed the metadata store
- ``migrate TABLE SCHEMA`` — apply a declared-schema migration (JSON file)
- ``compact TABLE``        — small-file compaction (may overlap live
                             appends and reads)
- ``corpus-ingest FILES...``— parquet document batches → deduped training
                             corpus (inline near-dup rejection)
- ``serve``                — BI/HTTP endpoint over the gold tables
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def _parse_ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _runner(args):
    from .plans import PipelineRunner

    return PipelineRunner.from_store(
        _spark(args), args.warehouse, args.store_url
    )


def _spark(args):
    from .session import get_spark

    return get_spark(app_name=f"dev-clickhouse-spark-cli:{args.command}")


def _store(args):
    from .plans import MetadataStore

    if not args.store_url:
        sys.exit("this command needs --store-url (the metadata catalog)")
    return MetadataStore(_spark(args), args.store_url)


def _print_metrics(metrics: list[dict]) -> None:
    for m in metrics:
        print(
            f"{m['pipeline_id']:28s} {m['target_table']:28s} "
            f"{m['rows_delta']:<+8d} {m['seconds']:.2f}s "
            f"[{m['start_ts']} .. {m['end_ts']})"
        )


def cmd_ingest(args) -> None:
    from pyspark.sql import functions as F

    spark = _spark(args)
    raw = spark.read.text(args.files).select(F.col("value").alias("raw"))
    counts = _runner(args).ingest_raw(raw)
    print(json.dumps(counts))


def cmd_run_latest(args) -> None:
    _print_metrics(
        _runner(args).run_latest(
            window_minutes=args.window_minutes,
            now=_parse_ts(args.now) if args.now else None,
            monitor=not args.no_monitor,
        )
    )


def cmd_run_window(args) -> None:
    _print_metrics(
        _runner(args).run_window(_parse_ts(args.start), _parse_ts(args.end))
    )


def cmd_pipelines(args) -> None:
    from .plans import load_pipeline_specs

    dag, specs = load_pipeline_specs(_spark(args), args.store_url)
    print(f"dag {dag['dag_name']}  schedule {dag['schedule_cron']}  "
          f"max_active_tasks {dag['max_active_tasks']}")
    for s in specs:
        deps = ",".join(s.depends_on) or "-"
        print(f"{s.pipeline_id:28s} -> {s.target_table:28s} "
              f"{s.mode:8s} {s.window_minutes:>4d}min  deps: {deps}")


def cmd_enable(args) -> None:
    _store(args).set_enabled(args.pipeline, True)
    print(f"enabled {args.pipeline}")


def cmd_disable(args) -> None:
    _store(args).set_enabled(args.pipeline, False)
    print(f"disabled {args.pipeline}")


def cmd_set_window(args) -> None:
    _store(args).set_window(args.pipeline, args.minutes)
    print(f"{args.pipeline}: window_minutes={args.minutes}")


def cmd_seed_store(args) -> None:
    store = _store(args)
    if args.from_yaml:
        store.seed_from_yaml(args.from_yaml if args.from_yaml != "-" else None)
    else:
        store.seed()
    _dag, specs = store.load()
    print(f"seeded {len(specs)} pipelines")


def cmd_migrate(args) -> None:
    from pyspark.sql import types as T

    from .plans import Warehouse
    from .quality import SchemaMigrator

    with open(args.schema_json) as fh:
        target = T.StructType.fromJson(json.load(fh))
    wh = Warehouse(_spark(args), args.warehouse)
    mig = SchemaMigrator(wh)
    if args.dry_run:
        p = mig.plan(args.table, target)
    else:
        p = mig.apply(args.table, target, rewrite=args.rewrite)
    print(json.dumps({
        "table": p.table, "added": p.added, "widened": p.widened,
        "destructive": p.destructive, "applied": not args.dry_run,
    }))


def cmd_compact(args) -> None:
    from .plans import Warehouse

    n = Warehouse(_spark(args), args.warehouse).compact(args.table)
    print(f"{args.table}: {n} data files after compaction")


def cmd_rename_column(args) -> None:
    from .plans import Warehouse
    from .quality import SchemaMigrator

    wh = Warehouse(_spark(args), args.warehouse)
    SchemaMigrator(wh).rename_column(args.table, args.old, args.new)
    print(json.dumps({
        "table": args.table, "renamed": {args.old: args.new},
        "chains": wh.renames(args.table),
    }))


def cmd_drop_column(args) -> None:
    from .plans import Warehouse
    from .quality import SchemaMigrator

    wh = Warehouse(_spark(args), args.warehouse)
    SchemaMigrator(wh).drop_column(
        args.table, args.column, metadata_only=not args.rewrite
    )
    print(json.dumps({
        "table": args.table, "dropped": args.column,
        "metadata_only": not args.rewrite,
    }))


def cmd_modify_column(args) -> None:
    from pyspark.sql import types as T

    from .plans import Warehouse
    from .quality import SchemaMigrator

    wh = Warehouse(_spark(args), args.warehouse)
    dtype = T._parse_datatype_string(args.type)
    SchemaMigrator(wh).modify_column_type(args.table, args.column, dtype)
    print(json.dumps({
        "table": args.table, "column": args.column, "type": args.type,
        "cast_chains": wh.column_casts(args.table),
    }))


def cmd_clear_column(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    entry = wh.clear_column_in_partition(args.table, args.column, args.date)
    print(json.dumps({
        "table": args.table, "cleared": args.column, "partition": args.date,
        "members_addressed": len(entry["members"]),
    }))


def cmd_materialize_column(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    res = wh.materialize_column(args.table, args.column)
    print(json.dumps({"table": args.table, "column": args.column, **res}))


def cmd_set_column_ttl(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    if args.remove:
        wh.remove_column_ttl(args.table, args.column)
    else:
        wh.set_column_ttl(
            args.table, args.column,
            interval_days=args.interval_days, ttl_col=args.ttl_col,
        )
    print(json.dumps({
        "table": args.table, "column_ttls": wh.column_ttls(args.table),
    }))


def cmd_create_table(args) -> None:
    from .plans import Warehouse
    from .plans.ddl import create_table_from_ddl

    wh = Warehouse(_spark(args), args.warehouse)
    with open(args.ddl_file) as fh:
        ddl = fh.read()
    name = create_table_from_ddl(wh, ddl)
    print(json.dumps({
        "created": name,
        "sort_key": wh._sort_key(name),
        "engine": wh.table_engine(name),
        "ttl": wh.table_ttl(name),
        "column_ttls": wh.column_ttls(name),
        "computed_columns": list(wh.computed_columns(name)),
    }))


def cmd_bootstrap_ddl(args) -> None:
    """Provision the whole schema from SQL init scripts — point it at the
    reference's own clickhouse/init/*.sql to bootstrap bronze + gold
    verbatim."""
    from .plans import Warehouse
    from .plans.ddl import bootstrap_from_ddl

    wh = Warehouse(_spark(args), args.warehouse)
    created = []
    for path in args.sql_files:
        with open(path) as fh:
            created += bootstrap_from_ddl(wh, fh.read())
    print(json.dumps({
        "created": created,
        "engines": {t: wh.table_engine(t) for t in created
                    if wh.table_engine(t)},
    }))


def cmd_backup(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    info = wh.backup_table(args.table, args.dest, base=args.base)
    print(json.dumps({"table": args.table, "dest": args.dest,
                      "base": args.base, **info}))


def cmd_restore(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    info = wh.restore_table(args.src, args.table)
    print(json.dumps({"table": args.table, "src": args.src, **info}))


def cmd_table_lifecycle(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    if args.cmd == "drop-table":
        entry = wh.drop_table(args.table)
        print(json.dumps({"dropped": args.table, "trash_entry": entry}))
    elif args.cmd == "undrop-table":
        wh.undrop_table(args.table)
        print(json.dumps({"undropped": args.table}))
    elif args.cmd == "truncate-table":
        wh.truncate_table(args.table)
        print(json.dumps({"truncated": args.table}))
    else:  # exchange-tables
        wh.exchange_tables(args.table, args.other)
        print(json.dumps({"exchanged": [args.table, args.other]}))


def cmd_merges(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    if args.action == "stop":
        wh.stop_merges(args.table)
    else:
        wh.start_merges(args.table)
    print(json.dumps({
        "table": args.table, "merges_stopped": wh.merges_stopped(args.table),
    }))


def cmd_parts_columns(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    for r in wh.parts_columns(args.table).collect():
        print(json.dumps(r.asDict()))


def cmd_explain_estimate(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    preds = []
    for p in args.where or []:
        col, op, val = p.split(":", 2)
        try:
            val = int(val)
        except ValueError:
            try:
                val = float(val)
            except ValueError:
                pass
        preds.append((col, op, val))
    print(json.dumps(wh.explain_estimate(args.table, preds)))


def cmd_set_ttl(args) -> None:
    from .plans import Warehouse

    wh = Warehouse(_spark(args), args.warehouse)
    if args.remove:
        wh.remove_table_ttl(args.table)
        print(json.dumps({"table": args.table, "ttl": None}))
        return
    group_by = args.group_by.split(",") if args.group_by else None
    aggregates = json.loads(args.aggregates) if args.aggregates else None
    wh.set_table_ttl(
        args.table, interval_days=args.interval_days, ttl_col=args.ttl_col,
        group_by=group_by, aggregates=aggregates,
    )
    print(json.dumps({"table": args.table, "ttl": wh.table_ttl(args.table)}))


def gold_views(wh) -> dict:
    """The serving view map for a warehouse: every declared gold table
    (catalog-driven, not directory prefixes), each read through
    ``Warehouse.read`` in the serving session — its committed members only,
    conformed to the declared (ALTERed) schema; a table with no rows
    committed yet serves as empty."""
    from .plans import Warehouse
    from .schemas import GOLD_SCHEMAS

    return {
        t: lambda sess, t=t: Warehouse(sess, wh.root).read(t)
        for t in GOLD_SCHEMAS
    }


def cmd_gc(args) -> None:
    from .plans import Warehouse

    swept = Warehouse(_spark(args), args.warehouse).gc(
        args.table, min_age_sec=args.min_age_sec
    )
    print(json.dumps({"table": args.table, "swept": swept}))


def cmd_corpus_ingest(args) -> None:
    """Document parquet files → deduped corpus via the streaming builder
    (one availableNow pass; checkpointed, so re-running only consumes new
    files and replays converge exactly-once)."""
    from .streaming import CorpusStream

    cs = CorpusStream(
        _spark(args), args.warehouse,
        args.checkpoint or f"{args.warehouse}/_checkpoints",
    )
    cs.from_files(args.input_dir).awaitTermination()
    print(json.dumps({
        "corpus_documents": cs.wh.read("corpus_documents").count(),
        "corpus_rejects": cs.wh.read("corpus_rejects").count(),
    }))


def cmd_serve(args) -> None:
    import os

    from .plans import Warehouse
    from .serving import SqlServingEndpoint

    if not os.path.isdir(args.warehouse):
        sys.exit(f"warehouse directory {args.warehouse!r} does not exist")
    spark = _spark(args)
    views = gold_views(Warehouse(spark, args.warehouse))
    ep = SqlServingEndpoint(
        spark, views, max_rows=args.max_rows, timeout_sec=args.timeout_sec,
    )
    port = ep.start(args.port)
    print(f"serving {len(views)} gold views on http://127.0.0.1:{port}/query")
    try:
        _serve_forever(port)
    except KeyboardInterrupt:
        ep.stop()


def _serve_forever(port: int) -> None:
    """Block until interrupted (module-level so tests can stub the wait)."""
    import threading

    threading.Event().wait()


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="dev_clickhouse_spark")
    ap.add_argument("--warehouse", default="./warehouse",
                    help="warehouse root directory")
    ap.add_argument("--store-url", default=None,
                    help="JDBC url of the metadata catalog (optional; "
                         "YAML snapshot is the fallback)")
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("ingest", help="JSONL files -> bronze tables")
    p.add_argument("files", nargs="+")
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("run-latest", help="one scheduled gold tick")
    p.add_argument("--window-minutes", type=int, default=10)
    p.add_argument("--now", default=None,
                   help="tick instant (ISO; default wall clock) — rerun a "
                        "historical tick deterministically")
    p.add_argument("--no-monitor", action="store_true")
    p.set_defaults(fn=cmd_run_latest)

    p = sub.add_parser("run-window", help="explicit backfill window")
    p.add_argument("--start", required=True, help="ISO timestamp, inclusive")
    p.add_argument("--end", required=True, help="ISO timestamp, exclusive")
    p.set_defaults(fn=cmd_run_window)

    p = sub.add_parser("pipelines", help="list the pipeline catalog")
    p.set_defaults(fn=cmd_pipelines)

    p = sub.add_parser("enable", help="enable a pipeline in the store")
    p.add_argument("pipeline")
    p.set_defaults(fn=cmd_enable)

    p = sub.add_parser("disable", help="disable a pipeline in the store")
    p.add_argument("pipeline")
    p.set_defaults(fn=cmd_disable)

    p = sub.add_parser("set-window", help="change a pipeline's window")
    p.add_argument("pipeline")
    p.add_argument("minutes", type=int)
    p.set_defaults(fn=cmd_set_window)

    p = sub.add_parser("seed-store", help="bootstrap + seed the catalog")
    p.add_argument("--from-yaml", default=None,
                   help="seed from a pipelines.yml ('-' = packaged snapshot)")
    p.set_defaults(fn=cmd_seed_store)

    p = sub.add_parser("migrate", help="apply a schema migration")
    p.add_argument("table")
    p.add_argument("schema_json", help="target StructType as JSON file")
    p.add_argument("--rewrite", action="store_true",
                   help="opt into a DESTRUCTIVE staged rewrite")
    p.add_argument("--dry-run", action="store_true")
    p.set_defaults(fn=cmd_migrate)

    p = sub.add_parser("compact",
                       help="small-file compaction (may overlap appends "
                            "and reads)")
    p.add_argument("table")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("rename-column",
                       help="ALTER TABLE ... RENAME COLUMN (metadata-only)")
    p.add_argument("table")
    p.add_argument("old")
    p.add_argument("new")
    p.set_defaults(fn=cmd_rename_column)

    p = sub.add_parser("drop-column",
                       help="ALTER TABLE ... DROP COLUMN (metadata-only "
                            "unless --rewrite)")
    p.add_argument("table")
    p.add_argument("column")
    p.add_argument("--rewrite", action="store_true")
    p.set_defaults(fn=cmd_drop_column)

    p = sub.add_parser("create-table",
                       help="register a table from CH-flavored CREATE "
                            "TABLE DDL (types, ORDER BY, PARTITION BY, "
                            "TTLs, DEFAULT/MATERIALIZED/ALIAS columns)")
    p.add_argument("ddl_file")
    p.set_defaults(fn=cmd_create_table)

    p = sub.add_parser("bootstrap-ddl",
                       help="provision every CREATE TABLE in the given "
                            "SQL scripts (the reference's own "
                            "clickhouse/init/*.sql bootstrap bronze + "
                            "gold verbatim)")
    p.add_argument("sql_files", nargs="+")
    p.set_defaults(fn=cmd_bootstrap_ddl)

    p = sub.add_parser("backup-table",
                       help="consistent hardlink snapshot (BACKUP TABLE); "
                            "--base makes it incremental "
                            "(SETTINGS base_backup analog)")
    p.add_argument("table")
    p.add_argument("dest")
    p.add_argument("--base", default=None,
                   help="previous backup dir to delta against")
    p.set_defaults(fn=cmd_backup)

    p = sub.add_parser("restore-table",
                       help="install a backup (chain-resolving) as TABLE")
    p.add_argument("src")
    p.add_argument("table")
    p.set_defaults(fn=cmd_restore)

    for name, hlp in (
        ("drop-table", "DROP TABLE (to trash; undrop-table restores)"),
        ("undrop-table", "UNDROP TABLE (newest trash entry)"),
        ("truncate-table", "TRUNCATE TABLE (keeps the declared shape)"),
        ("exchange-tables", "EXCHANGE TABLES a AND b (blue/green swap)"),
    ):
        p = sub.add_parser(name, help=hlp)
        p.add_argument("table")
        if name == "exchange-tables":
            p.add_argument("other")
        p.set_defaults(fn=cmd_table_lifecycle, cmd=name)

    p = sub.add_parser("merges",
                       help="SYSTEM STOP/START MERGES (compact no-ops "
                            "while stopped)")
    p.add_argument("action", choices=["stop", "start"])
    p.add_argument("table")
    p.set_defaults(fn=cmd_merges)

    p = sub.add_parser("parts-columns",
                       help="system.parts_columns: per-column storage "
                            "census from parquet footers")
    p.add_argument("table")
    p.set_defaults(fn=cmd_parts_columns)

    p = sub.add_parser("explain-estimate",
                       help="EXPLAIN ESTIMATE: parts/row-groups/rows a "
                            "predicate might read (footer stats only)")
    p.add_argument("table")
    p.add_argument("--where", action="append",
                   help="col:op:value (repeatable), e.g. k:>=:10000")
    p.set_defaults(fn=cmd_explain_estimate)

    p = sub.add_parser("modify-column",
                       help="ALTER TABLE ... MODIFY COLUMN type "
                            "(metadata-only; non-widening = cast-on-read, "
                            "merges materialize)")
    p.add_argument("table")
    p.add_argument("column")
    p.add_argument("type", help="Spark DDL type, e.g. string, bigint")
    p.set_defaults(fn=cmd_modify_column)

    p = sub.add_parser("clear-column",
                       help="ALTER TABLE ... CLEAR COLUMN IN PARTITION "
                            "(member-snapshot overlay; merges materialize)")
    p.add_argument("table")
    p.add_argument("column")
    p.add_argument("date", help="partition date YYYY-MM-DD")
    p.set_defaults(fn=cmd_clear_column)

    p = sub.add_parser("materialize-column",
                       help="ALTER TABLE ... MATERIALIZE COLUMN (rewrites "
                            "only members whose footers lack it)")
    p.add_argument("table")
    p.add_argument("column")
    p.set_defaults(fn=cmd_materialize_column)

    p = sub.add_parser("set-column-ttl",
                       help="MODIFY COLUMN ... TTL (merge resets expired "
                            "values to DEFAULT/NULL); --remove to drop")
    p.add_argument("table")
    p.add_argument("column")
    p.add_argument("--interval-days", type=float, default=None)
    p.add_argument("--ttl-col", default="event_ts")
    p.add_argument("--remove", action="store_true")
    p.set_defaults(fn=cmd_set_column_ttl)

    p = sub.add_parser("set-ttl",
                       help="ALTER TABLE ... MODIFY TTL (merges enforce it); "
                            "--remove = REMOVE TTL")
    p.add_argument("table")
    p.add_argument("--interval-days", type=float, default=None)
    p.add_argument("--ttl-col", default="event_ts")
    p.add_argument("--group-by", default=None,
                   help="comma-separated rollup keys (rollup TTL form)")
    p.add_argument("--aggregates", default=None,
                   help='JSON {"col": "agg expr", ...} (rollup SET list)')
    p.add_argument("--remove", action="store_true")
    p.set_defaults(fn=cmd_set_ttl)

    p = sub.add_parser("gc", help="sweep unreferenced data dirs of a "
                                  "manifest table (crash leftovers)")
    p.add_argument("table")
    p.add_argument("--min-age-sec", type=float, default=3600.0,
                   help="in-flight guard: only dirs untouched this long")
    p.set_defaults(fn=cmd_gc)

    p = sub.add_parser("corpus-ingest",
                       help="document parquet dir -> deduped corpus")
    p.add_argument("input_dir")
    p.add_argument("--checkpoint", default=None)
    p.set_defaults(fn=cmd_corpus_ingest)

    p = sub.add_parser("serve", help="BI/HTTP endpoint over gold tables")
    p.add_argument("--port", type=int, default=8123)
    p.add_argument("--max-rows", type=int, default=50_000,
                   help="result row cap (reference Superset envelope)")
    p.add_argument("--timeout-sec", type=float, default=60.0,
                   help="per-query timeout; timed-out jobs are cancelled")
    p.set_defaults(fn=cmd_serve)
    return ap


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
