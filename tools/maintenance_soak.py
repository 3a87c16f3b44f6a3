#!/usr/bin/env python
"""Concurrent-maintenance soak (VERDICT r9 #4).

SOAK_INGEST covers append + tiered compaction + gc on cadence.  Round 9
added lightweight DELETE/UPDATE (deletion-vector overlays), ATTACH PARTITION,
DROP PARTITION, and BACKUP/RESTORE — none exercised against a LIVE
stream.  This soak runs the same exactly-once streaming append loop with
the full maintenance mix interleaved:

- every ``--mutate-every`` batches: a lightweight DELETE of one
  event_id-hash slice + a lightweight UPDATE of another (fresh slices per
  cycle, so every cycle writes a real overlay);
- every ``--compact-every`` batches: compaction + gc + gc_deletes (the
  bytes on disk of the live tables are recorded after each cycle);
  every second cycle a FULL compaction materializes all overlays
  (overlay count must reset to 0), the others run the tiered cadence
  (overlays referencing untouched generations must survive and keep
  masking);
- mid-stream: ATTACH PARTITION from a static sideload table (a second
  event_date enters the live table), later DROP PARTITION of that date
  WHILE overlays are live (the r10 remap path — surviving partitions'
  masks and updates must keep applying);
- mid-stream: BACKUP the live table (under the manifest lock, overlays
  included), with a content checksum captured at the backup point; at the
  END — after further appends, mutations, the drop, and compactions hit
  the source — RESTORE into a SECOND warehouse and assert the restored
  table's checksum equals the at-backup checksum (row-level equivalence
  at the backup's manifest version, overlays restored as written).

Round 11 (VERDICT r10 #6) adds the remaining maintenance surface under
the same live ingest:

- mid-stream FREEZE PARTITION of the main live date: a byte-level digest
  of the shadow snapshot is captured at freeze time and re-verified at
  soak END — later appends/mutations/compactions mint NEW member files,
  so the hardlinked shadow must be byte-identical (the CH shadow/
  contract: pre-overlay on-disk rows, immune to everything after);
- mid-stream DETACH TABLE + ATTACH TABLE of a second live table between
  two batches: reads serve declared-empty while detached, and the
  re-attached table's content checksum equals the pre-detach one (zero
  row drift);
- a refreshable MV (rollup over the probe table) registered at the first
  batch and ticked at every maintenance point: at soak end one more tick
  must CONVERGE the MV to a fresh evaluation of its SELECT — i.e. the
  rollup reflects every lightweight delete/update and the partition drop.

Round 12 (VERDICT r11 #6) drills the r11 lifecycle surface under the
same live ingest:

- **EXCHANGE TABLES mid-soak (blue/green with readers active)**: a green
  rebuild of the live wazuh table is declared FROM THE ENGINE'S OWN
  show_create DDL (create_table_from_ddl — the DDL surface joins the
  soak), loaded with the blue content, and EXCHANGEd while concurrent
  reader threads checksum the table; zero content drift on the live
  name, the manifests provably swapped, later appends keep landing on
  the live name;
- **SYSTEM STOP MERGES → overlay growth → START MERGES**: merges stop on
  the probe just before a compaction cycle — that cycle must be a no-op
  (member count unchanged, overlays NOT reset) while mutations keep
  writing overlays (growth recorded); after START MERGES the final full
  compaction drains overlays to zero with rows stable;
- **DROP TABLE → trash → UNDROP** of the sideload table between batches:
  reads serve declared-empty while dropped, the restored table's
  checksum equals the pre-drop one;
- **TRUNCATE TABLE** of the sideload after its partition was dropped
  from the probe: zero rows, the declared shape survives, and a
  re-append lands into the same definition.

Verdict: PASS iff (a) the restore checksum matches, (b) the overlay file
count is bounded and resets at every full compaction, (c) deleted rows
stay deleted and patched rows stay patched across every maintenance op,
(d) the attached partition's rows appear and then vanish at the drop,
and (e) steady-state throughput ≥ the 333 ev/s reference floor.

Artifact: SOAK_MAINTENANCE.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=60)
    ap.add_argument("--events-per-batch", type=int, default=10_000)
    ap.add_argument("--mutate-every", type=int, default=6)
    ap.add_argument("--compact-every", type=int, default=15)
    ap.add_argument("--overlay-bound", type=int, default=12,
                    help="max live overlay (deletion-vector) entries at "
                         "any point")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out_path = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SOAK_MAINTENANCE.json",
    )

    from pyspark.sql import functions as F

    from bench import synth_payloads
    from dev_clickhouse_spark.plans.warehouse import Warehouse
    from dev_clickhouse_spark.session import get_spark
    from dev_clickhouse_spark.sources.json_events import (
        extract_all,
        with_parsed,
    )
    from tools.quietcheck import quiet_stamp, settle

    spark = get_spark(app_name="maintenance_soak")
    spark.sparkContext.setLogLevel("ERROR")
    settle()
    quiet = quiet_stamp()
    if not quiet["quiet"]:
        print(f"WARNING: non-quiet run ({quiet}) — timings are advisory",
              flush=True)

    root = tempfile.mkdtemp(prefix="maintsoak_wh_")
    restore_root = tempfile.mkdtemp(prefix="maintsoak_restore_")
    backup_dir = os.path.join(root, "_backup_out")
    wh = Warehouse(spark, root)
    restore_wh = Warehouse(spark, restore_root)

    pool = synth_payloads(args.events_per_batch)
    raw0 = spark.createDataFrame(
        [(p,) for p in pool], "raw string"
    ).localCheckpoint(eager=True)

    probe = "suricata_events_raw"

    def checksum(df) -> tuple[int, str]:
        """Order-independent content digest: (row count, sum of per-row
        xxhash64 over all columns as strings)."""
        cols = sorted(df.columns)
        h = df.select(
            F.xxhash64(
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in cols
                ]
            ).alias("h")
        )
        row = h.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        ).first()
        return int(row.n), str(row.s)

    def overlay_count(table: str = probe) -> int:
        return len(wh.overlay_files(table))

    def bytes_on_disk() -> int:
        """Bytes of every file under the live tables' directories —
        listed and superseded members, overlays and manifests alike."""
        return sum(
            os.path.getsize(os.path.join(r, f))
            for t in tables
            for r, _dirs, files in os.walk(wh.path(t))
            for f in files
        )

    # static sideload table in the SAME warehouse (attach_partition is a
    # same-warehouse hardlink op): one later event_date, no overlays
    sideload = "sideload_suricata"
    side_df = extract_all(with_parsed(raw0.limit(9_000)))[probe]
    side_df = side_df.filter(F.col("event_ts").isNotNull()).withColumn(
        "event_ts", F.col("event_ts") + F.expr("INTERVAL 1 DAY")
    ).withColumn(
        "event_id", F.concat(F.lit("side-"), F.col("event_id"))
    ).drop("event_date")
    wh.set_partitioning(sideload, ["event_ts", "event_id"])
    wh.append(sideload, side_df, batch_id=0)
    # declare the shape so TRUNCATE's keeps-the-definition contract is
    # observable (an undeclared empty table is UNKNOWN, not empty)
    wh.save_schema_override(sideload, wh.read(sideload).schema)
    side_date = wh.read(sideload).select(
        F.to_date("event_ts")
    ).first()[0]
    side_rows = wh.read(sideload).count()

    events: list[dict] = []
    batch_secs: list[float] = []
    checks: dict[str, bool] = {}
    deleted_ids: list[str] = []
    backup_state: dict = {}
    overlay_max = 0
    tables: list[str] = []

    def log(kind: str, **kw) -> None:
        events.append({"kind": kind, **kw})
        print(f"  {kind}@{kw.get('after_batch')}: "
              f"{ {k: v for k, v in kw.items() if k != 'after_batch'} }",
              flush=True)

    attach_at = args.batches // 3
    backup_at = args.batches // 2
    drop_at = 2 * args.batches // 3
    freeze_at = max(2, int(args.batches * 0.4))
    detach_at = freeze_at + 2
    # round-11b column-ALTER drills: MODIFY right after the mid-soak full
    # compaction (cast chain starts from a clean overlay state), CLEAR the
    # batch after, column TTL declared one compact-cycle before the end so
    # the final full merge both enforces it and retires the other chains
    modify_at = (args.batches // 2) + 1
    clear_at = modify_at + 1
    colttl_at = args.batches - args.compact_every + 1
    # round-12 lifecycle drills (VERDICT r11 #6)
    exchange_at = attach_at + 2
    undrop_at = attach_at + 1
    truncate_at = drop_at + 1
    # stop just before the 3rd compaction cycle so that cycle no-ops with
    # merges stopped; restart one cycle later so the FINAL full compaction
    # drains the accumulated overlays
    stopm_at = 3 * args.compact_every - 1
    startm_at = min(stopm_at + args.compact_every, args.batches - 1)
    alter_state: dict = {}
    last_full_compact = 0
    patch_cycles: list[int] = []
    stop_state: dict = {}
    exchange_state: dict = {}

    def shadow_digest(shadow_dir: str) -> str:
        """Byte-level digest of every file under the freeze shadow,
        keyed by relative path — hardlink-snapshot immutability check."""
        import hashlib

        h = hashlib.md5()
        for dirpath, _dirs, files in sorted(os.walk(shadow_dir)):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, shadow_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    freeze_state: dict = {}
    rv = None
    detach_table = "zeek_events_raw"
    ttl_declared_at = None
    zeek_rows_per_batch = None
    last_compact_batch = 0

    def mv_build(_spark):
        return (
            wh.read(probe).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("message").startswith("soaked-").cast("long")
                ).alias("n_patched"),
            )
        )

    for b in range(args.batches):
        t0 = time.time()
        parsed = with_parsed(raw0).localCheckpoint(eager=True)
        # per-batch-unique event ids (a real stream never repeats ids):
        # without this, a later batch re-appends a row CONTENT-identical to
        # a lightweight-deleted one and the survival assertions can't
        # distinguish resurrection from legitimate re-arrival
        extracted = {
            t: df.filter(df.event_ts.isNotNull()).withColumn(
                "event_id", F.concat(F.lit(f"b{b}-"), F.col("event_id"))
            )
            for t, df in extract_all(parsed).items()
        }
        tables = list(extracted)
        with ThreadPoolExecutor(max_workers=len(extracted)) as ex:
            list(ex.map(
                lambda item: wh.append(item[0], item[1], batch_id=b),
                extracted.items(),
            ))
        batch_secs.append(time.time() - t0)

        if b == 0:
            # refreshable MV over the probe, ticked at every maintenance
            # point (the runner-owned schedule at production scale)
            from dev_clickhouse_spark.plans.refresh import RefreshableViews

            rv = RefreshableViews(spark, wh)
            rv.create("mv_soak_rollup", mv_build, refresh_every_sec=0)
            zeek_rows_per_batch = extracted[detach_table].count()

        if (b + 1) % args.mutate_every == 0:
            cyc = (b + 1) // args.mutate_every
            del_pred = (
                f"pmod(xxhash64(event_id), 211) = {cyc} "
                "AND event_id NOT LIKE 'side-%'"
            )
            upd_pred = (
                f"pmod(xxhash64(event_id), 223) = {cyc} "
                "AND event_id NOT LIKE 'side-%'"
            )
            victims = [
                r[0] for r in wh.read(probe).filter(del_pred)
                .select("event_id").distinct().limit(3).collect()
            ]
            t0 = time.time()
            d = wh.delete_where_lightweight(probe, del_pred)
            u = wh.update_where_lightweight(
                probe, {"message": f"'soaked-{cyc}'"}, upd_pred
            )
            if u["rows_updated"]:
                patch_cycles.append(cyc)
            deleted_ids += victims
            oc = overlay_count()
            if wh.merges_stopped(probe):
                # overlay growth during STOP MERGES is the drill's point —
                # tracked separately, excluded from the bound
                stop_state["overlay_max_under_stop"] = max(
                    stop_state.get("overlay_max_under_stop", 0), oc
                )
            else:
                overlay_max = max(overlay_max, oc)
            log("mutate", after_batch=b + 1,
                rows_deleted=d["rows_deleted"],
                rows_updated=u["rows_updated"],
                overlay_files=oc,
                sec=round(time.time() - t0, 3))
            rv.run_pending()

        if b + 1 == freeze_at:
            main_date = next(
                d for d in wh._partition_dates(probe) if d != side_date
            )
            t0 = time.time()
            shadow = wh.freeze_partition(probe, main_date)
            freeze_state = {
                "after_batch": b + 1,
                "date": str(main_date),
                "shadow": shadow,
                "digest_at_freeze": shadow_digest(shadow),
                "overlay_files_live": overlay_count(),
                "sec": round(time.time() - t0, 3),
            }
            log("freeze_partition", **{
                k: v for k, v in freeze_state.items() if k != "shadow"
            })

        if b + 1 == detach_at:
            n0, s0 = checksum(wh.read(detach_table))
            t0 = time.time()
            wh.detach_table(detach_table)
            checks["detach_reads_empty"] = (
                wh.read(detach_table).count() == 0
            )
            checks["detach_listed"] = (
                detach_table in wh.detached_tables()
            )
            wh.attach_table(detach_table)
            n1, s1 = checksum(wh.read(detach_table))
            checks["detach_attach_zero_drift"] = (n0, s0) == (n1, s1)
            log("detach_attach", after_batch=b + 1, table=detach_table,
                rows_before=n0, rows_after=n1,
                drift_free=checks["detach_attach_zero_drift"],
                sec=round(time.time() - t0, 3))
            # declared TTL (MODIFY TTL): wall-now minus 30 days is far
            # past the synthetic 2026-01-08 event times, so EVERY on-disk
            # row of this table expires at each subsequent compact while
            # appends keep repopulating — composition of the merge-owned
            # TTL with live ingest
            wh.set_table_ttl(detach_table, interval_days=30,
                             ttl_col="event_ts")
            ttl_declared_at = b + 1
            log("modify_ttl", after_batch=b + 1, table=detach_table,
                interval_days=30)

        if b + 1 == modify_at:
            # MODIFY COLUMN src_port int -> string UNDER LIVE INGEST:
            # pre-ALTER members serve through the cast chain, later
            # appends land the new type, the final full merge
            # materializes and retires the chain
            from pyspark.sql import types as T

            from dev_clickhouse_spark.quality import SchemaMigrator

            pre_n = wh.read(probe).count()
            t0 = time.time()
            SchemaMigrator(wh).modify_column_type(
                probe, "src_port", T.StringType()
            )
            post = wh.read(probe)
            checks["modify_dtype_live"] = (
                dict(post.dtypes)["src_port"] == "string"
            )
            checks["modify_rows_stable"] = post.count() == pre_n
            alter_state["modify_at"] = b + 1
            log("modify_column", after_batch=b + 1, column="src_port",
                cast_chain=wh.column_casts(probe),
                sec=round(time.time() - t0, 3))

        if b + 1 == clear_at:
            # CLEAR COLUMN dest_ip IN PARTITION <main date>: rows live at
            # the ALTER read NULL from then on; rows appended after keep
            # their values (member-snapshot addressing)
            clr_date = next(
                d for d in wh._partition_dates(probe) if d != side_date
            )
            t0 = time.time()
            entry = wh.clear_column_in_partition(probe, "dest_ip", clr_date)
            cleared_now = wh.read(probe).filter(
                (F.col("event_date") == F.lit(clr_date))
                & F.col("dest_ip").isNotNull()
            ).count()
            checks["clear_masks_existing_rows"] = cleared_now == 0
            alter_state["clear_at"] = b + 1
            alter_state["clear_date"] = str(clr_date)
            log("clear_column", after_batch=b + 1, column="dest_ip",
                partition=str(clr_date),
                members_addressed=len(entry["members"]),
                sec=round(time.time() - t0, 3))

        if b + 1 == colttl_at:
            # column TTL: wall-now minus 30 days is far past the synthetic
            # event times, so every on-disk http_url resets to NULL at the
            # next merge that touches its member (row counts unchanged)
            t0 = time.time()
            wh.set_column_ttl(
                probe, "http_url", interval_days=30, ttl_col="event_ts"
            )
            alter_state["colttl_at"] = b + 1
            log("set_column_ttl", after_batch=b + 1, column="http_url",
                interval_days=30, sec=round(time.time() - t0, 3))

        if b + 1 == undrop_at:
            # DROP TABLE → trash → UNDROP of the sideload, between batches
            n0, s0 = checksum(wh.read(sideload))
            t0 = time.time()
            entry = wh.drop_table(sideload)
            # an undeclared table is UNKNOWN after the drop (the CH
            # UNKNOWN_TABLE error; declared tables serve declared-empty)
            try:
                wh.read(sideload)
                checks["drop_table_unknown"] = False
            except KeyError:
                checks["drop_table_unknown"] = not wh.exists(sideload)
            checks["drop_in_trash"] = entry in wh.dropped_tables()
            wh.undrop_table(sideload)
            n1, s1 = checksum(wh.read(sideload))
            checks["undrop_zero_drift"] = (n0, s0) == (n1, s1)
            log("drop_undrop", after_batch=b + 1, table=sideload,
                rows=n1, drift_free=checks["undrop_zero_drift"],
                sec=round(time.time() - t0, 3))

        if b + 1 == exchange_at:
            # blue/green EXCHANGE of a LIVE table with readers active;
            # the green side is declared from the engine's OWN
            # show_create DDL (the DDL surface joins the soak)
            from dev_clickhouse_spark.plans.ddl import create_table_from_ddl

            ex_t, green = "wazuh_events_raw", "wazuh_green"
            create_table_from_ddl(
                wh, wh.show_create_table(ex_t).replace(ex_t, green, 1)
            )
            wh.append(green, wh.read(ex_t).drop("event_date"), batch_id=0)
            n0, s0 = checksum(wh.read(ex_t))
            blue_members = len(wh.load_manifest(ex_t)["members"])
            green_members = len(wh.load_manifest(green)["members"])
            t0 = time.time()
            # A reader racing the swap either serves consistent content
            # or fails LOUDLY (PATH_NOT_FOUND: its resolved manifest's
            # member left with the swapped directory) — never silently
            # wrong rows.  Like any snapshot reader racing maintenance
            # (a Delta/Iceberg scan racing VACUUM), the loud failure is
            # retryable; the drill retries once and records it.
            retries = [0]

            def guarded_read():
                try:
                    return checksum(wh.read(ex_t))
                except Exception as ex:
                    if "PATH_NOT_FOUND" in str(ex):
                        retries[0] += 1
                        return checksum(wh.read(ex_t))
                    return ("ERROR", type(ex).__name__, str(ex)[:120])

            with ThreadPoolExecutor(max_workers=2) as rex:
                futs = [rex.submit(guarded_read) for _ in range(4)]
                wh.exchange_tables(ex_t, green)
                reads = [f.result() for f in futs]
            ex_sec = round(time.time() - t0, 3)
            n1, s1 = checksum(wh.read(ex_t))
            checks["exchange_zero_drift"] = (n0, s0) == (n1, s1)
            checks["exchange_readers_consistent"] = all(
                r == (n0, s0) for r in reads
            )
            checks["exchange_manifests_swapped"] = (
                len(wh.load_manifest(ex_t)["members"]) == green_members
                and len(wh.load_manifest(green)["members"]) == blue_members
            )
            exchange_state = {
                "after_batch": b + 1, "table": ex_t,
                "rows": n0, "blue_members": blue_members,
                "green_members": green_members,
                "concurrent_reads": len(reads),
                "reads_observed": [list(r) for r in reads],
                "reader_retries": retries[0],
                "expected_read": list((n0, s0)),
                "sec": ex_sec,
            }
            log("exchange_tables", **exchange_state)

        if b + 1 == stopm_at:
            wh.stop_merges(probe)
            stop_state["overlays_at_stop"] = overlay_count()
            stop_state["stopped_at"] = b + 1
            log("stop_merges", after_batch=b + 1,
                overlays=stop_state["overlays_at_stop"])

        if b + 1 == startm_at and stop_state:
            grew = overlay_count() > stop_state["overlays_at_stop"]
            checks["overlays_grew_under_stop"] = grew
            wh.start_merges(probe)
            stop_state["started_at"] = b + 1
            stop_state["overlays_at_start"] = overlay_count()
            log("start_merges", after_batch=b + 1,
                overlays=stop_state["overlays_at_start"], grew=grew)

        if b + 1 == truncate_at:
            # TRUNCATE after the sideload's partition left the probe: rows
            # and manifest go, the declared shape stays, re-append lands
            pre_schema = wh.schema_for(sideload)
            t0 = time.time()
            wh.truncate_table(sideload)
            checks["truncate_reads_empty"] = (
                wh.read(sideload).count() == 0
            )
            re_df = side_df.limit(200)
            wh.append(sideload, re_df, batch_id=999)
            checks["truncate_reappend_lands"] = (
                wh.read(sideload).count() == re_df.count()
            )
            checks["truncate_keeps_declared_shape"] = (
                wh.schema_for(sideload) == pre_schema
            )
            log("truncate_reappend", after_batch=b + 1, table=sideload,
                rows_after=wh.read(sideload).count(),
                sec=round(time.time() - t0, 3))

        if b + 1 == attach_at:
            pre = wh.read(probe).count()
            t0 = time.time()
            n_files = wh.attach_partition(sideload, probe, side_date)
            post = wh.read(probe).count()
            checks["attach_rows_appeared"] = post == pre + side_rows
            log("attach_partition", after_batch=b + 1, files=n_files,
                rows_added=post - pre, expected=side_rows,
                sec=round(time.time() - t0, 3))

        if b + 1 == backup_at:
            t0 = time.time()
            info = wh.backup_table(probe, backup_dir)
            n, s = checksum(wh.read(probe))
            backup_state = {
                "after_batch": b + 1,
                "files": info["files"],
                "members": info["members"],
                "rows_at_backup": n,
                "checksum_at_backup": s,
                "overlay_files_at_backup": overlay_count(),
                "sec": round(time.time() - t0, 3),
            }
            log("backup", **backup_state)

        if b + 1 == drop_at:
            pre = wh.read(probe).count()
            n_del_before = len(deleted_ids)
            ov_live = overlay_count()
            checks["overlays_live_at_drop"] = ov_live > 0
            t0 = time.time()
            n_members = wh.drop_partition(probe, side_date)
            post_df = wh.read(probe)
            post = post_df.count()
            still_masked = post_df.filter(
                F.col("event_id").isin(deleted_ids)
            ).count() == 0 if deleted_ids else True
            checks["drop_removed_attached_rows"] = post == pre - side_rows
            checks["deletes_survive_drop"] = still_masked
            log("drop_partition", after_batch=b + 1, members=n_members,
                rows_removed=pre - post, expected=side_rows,
                deletes_still_masked=still_masked,
                n_deleted_ids=n_del_before,
                overlay_files_live=ov_live,
                sec=round(time.time() - t0, 3))

        if (b + 1) % args.compact_every == 0:
            cycle_i = (b + 1) // args.compact_every
            full = cycle_i % 2 == 0
            stopped = wh.merges_stopped(probe)
            pre_members = len(wh.load_manifest(probe)["members"])
            pre_rows = wh.read(probe).count()
            t0 = time.time()
            for t in tables:
                wh.compact(t, mode="full" if full else "tiered")
                wh.gc(t, min_age_sec=0.0)
                wh.gc_deletes(t)
            post_rows = wh.read(probe).count()
            oc = overlay_count()
            if stopped:
                # STOP MERGES drill: this cycle must be a no-op on the
                # probe — member set untouched, overlays NOT reset
                post_members = len(wh.load_manifest(probe)["members"])
                checks["stop_merges_compact_noop"] = (
                    checks.get("stop_merges_compact_noop", True)
                    and post_members == pre_members
                )
                stop_state["overlay_max_under_stop"] = max(
                    stop_state.get("overlay_max_under_stop", 0), oc
                )
            else:
                overlay_max = max(overlay_max, oc)
            window = batch_secs[-args.compact_every:]
            med = sorted(window)[len(window) // 2]
            log("compact", after_batch=b + 1,
                mode="full" if full else "tiered",
                merges_stopped=stopped,
                sec=round(time.time() - t0, 3),
                rows_stable=pre_rows == post_rows,
                overlay_files_after=oc,
                bytes_on_disk=bytes_on_disk(),
                full_reset_ok=(not full) or stopped or oc == 0,
                window_events_per_sec=round(args.events_per_batch / med, 1))
            rv.run_pending()
            last_compact_batch = b + 1
            if full:
                last_full_compact = b + 1
            if ttl_declared_at is not None:
                # every zeek row on disk predates the TTL cutoff, so a
                # post-declare compact must empty the table
                n_zeek = wh.read(detach_table).count()
                checks["ttl_zeek_emptied_at_compact"] = (
                    checks.get("ttl_zeek_emptied_at_compact", True)
                    and n_zeek == 0
                )
                log("ttl_enforced", after_batch=b + 1,
                    zeek_rows_after_compact=n_zeek)

    # -- end-state assertions ------------------------------------------------
    final = wh.read(probe)
    checks["deletes_survive_to_end"] = (
        final.filter(F.col("event_id").isin(deleted_ids)).count() == 0
        if deleted_ids else True
    )
    last_patch = max(patch_cycles) if patch_cycles else None
    checks["patches_survive_to_end"] = (
        final.filter(f"message = 'soaked-{last_patch}'").count() > 0
        if last_patch is not None else True
    )
    t0 = time.time()
    restore_wh.restore_table(backup_dir, probe)
    rn, rs = checksum(restore_wh.read(probe))
    restore_sec = round(time.time() - t0, 3)
    checks["restore_checksum_matches"] = (
        rn == backup_state["rows_at_backup"]
        and rs == backup_state["checksum_at_backup"]
    )
    # freeze shadow: byte-identical at soak end (hardlinked pre-overlay
    # members; every later append/mutation/compaction minted NEW files)
    checks["freeze_shadow_immutable"] = (
        shadow_digest(freeze_state["shadow"])
        == freeze_state["digest_at_freeze"]
    )
    # refreshable MV: one more tick converges it to a fresh evaluation
    # of its SELECT over the post-maintenance table
    rv.run_pending()
    mv_rows = sorted(
        tuple(r) for r in wh.read("mv_soak_rollup").collect()
    )
    fresh_rows = sorted(tuple(r) for r in mv_build(spark).collect())
    checks["refresh_mv_converged"] = mv_rows == fresh_rows
    checks["refresh_mv_saw_patches"] = (
        sum(r[2] for r in mv_rows) > 0  # (event_type, n, n_patched)
    )
    # declared TTL end-state: only rows appended AFTER the last compact
    # survive (everything older expired at that merge)
    if ttl_declared_at is not None and zeek_rows_per_batch is not None:
        expected_zeek = zeek_rows_per_batch * (
            args.batches - max(last_compact_batch, ttl_declared_at)
        ) if last_compact_batch >= ttl_declared_at else None
        if expected_zeek is not None:
            checks["ttl_end_state_exact"] = (
                wh.read(detach_table).count() == expected_zeek
            )
    # round-11b column-ALTER end state
    if "modify_at" in alter_state:
        checks["modify_dtype_survives"] = (
            dict(final.dtypes)["src_port"] == "string"
        )
        if last_full_compact >= alter_state["modify_at"]:
            checks["modify_chain_retired_by_full_merge"] = (
                wh.column_casts(probe) == {}
            )
    if "clear_at" in alter_state:
        bidx = F.regexp_extract("event_id", r"^b(\d+)-", 1).cast("int")
        in_date = F.col("event_date") == F.to_date(
            F.lit(alter_state["clear_date"])
        )
        pre_nonnull = final.filter(
            in_date & (bidx < alter_state["clear_at"])
            & F.col("dest_ip").isNotNull()
        ).count()
        post_nonnull = final.filter(
            in_date & (bidx >= alter_state["clear_at"])
            & F.col("dest_ip").isNotNull()
        ).count()
        checks["clear_pre_rows_stay_null"] = pre_nonnull == 0
        checks["clear_post_rows_keep_values"] = post_nonnull > 0
        if last_full_compact >= alter_state["clear_at"]:
            checks["clear_entry_retired_by_full_merge"] = (
                wh.cleared_entries(probe) == []
            )
    if (
        "colttl_at" in alter_state
        and last_full_compact >= alter_state["colttl_at"]
    ):
        checks["colttl_reset_after_merge"] = (
            final.filter(F.col("http_url").isNotNull()).count() == 0
        )
    # round-12 lifecycle end state
    if stop_state and last_full_compact >= stop_state.get("started_at", 0):
        checks["overlays_drain_after_start_merges"] = overlay_count() == 0
    if exchange_state:
        checks["exchange_live_appends_continue"] = (
            wh.read(exchange_state["table"]).count()
            > exchange_state["rows"]
        )
    checks["overlay_bounded"] = overlay_max <= args.overlay_bound
    checks["compact_rows_stable"] = all(
        e["rows_stable"] for e in events if e["kind"] == "compact"
    )
    checks["full_compacts_reset_overlays"] = all(
        e["full_reset_ok"] for e in events if e["kind"] == "compact"
    )
    steady = [
        e["window_events_per_sec"] for e in events if e["kind"] == "compact"
    ][-1]
    checks["throughput_over_floor"] = steady >= 333

    failed = sorted(k for k, v in checks.items() if not v)
    artifact = {
        "metric": "concurrent_maintenance_soak",
        "batches": args.batches,
        "events_per_batch": args.events_per_batch,
        "mutate_every": args.mutate_every,
        "compact_every": args.compact_every,
        "probe_table": probe,
        "timeline": events,
        "backup": backup_state,
        "freeze": {k: v for k, v in freeze_state.items() if k != "shadow"},
        "mv_rollup_rows": [list(r) for r in mv_rows],
        "restore": {"rows": rn, "checksum": rs, "sec": restore_sec},
        "alter_drills": alter_state,
        "exchange": exchange_state,
        "stop_merges": stop_state,
        "n_deleted_ids_tracked": len(deleted_ids),
        "overlay_files_max": overlay_max,
        "bytes_on_disk_after_last_compact": [
            e["bytes_on_disk"] for e in events if e["kind"] == "compact"
        ][-1],
        "steady_state_events_per_sec": steady,
        "checks": checks,
        "quiet": quiet,
        "verdict": (
            "PASS: restore equals the at-backup state after "
            f"{args.batches - backup_at} further batches + mutations + "
            "drop + compactions; freeze shadow byte-identical at soak "
            "end; detach/attach round-trip drift-free under live ingest; "
            "refreshable MV converged to a fresh evaluation after the "
            "final tick; EXCHANGE swapped a live table drift-free with "
            "readers active; STOP MERGES no-opped its compaction cycle "
            "and START MERGES drained the accumulated overlays; "
            "DROP/UNDROP and TRUNCATE round-tripped the sideload; "
            "overlays bounded "
            f"(max {overlay_max} <= {args.overlay_bound}, reset at every "
            "full compaction); deletes/patches survive every maintenance "
            f"op; steady-state {steady} ev/s >= 333 floor"
            if not failed else "ATTENTION: failed checks: " + ", ".join(failed)
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True, default=str)
        fh.write("\n")
    print(json.dumps({"verdict": artifact["verdict"]}))
    print(f"wrote {out_path}")
    if not os.environ.get("SOAK_KEEP_WH"):
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(restore_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
