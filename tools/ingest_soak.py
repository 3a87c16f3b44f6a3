#!/usr/bin/env python
"""Sustained-ingest soak with live maintenance (VERDICT r7 #4).

``bench.py``'s ingest number is a fixed-overhead-dominated single shot
(10k events ≈ 5 s ≈ session+plan setup), and SCALING.md's 17.2k ev/s point
ran with NO concurrent maintenance.  Neither answers the operational
question: does the exactly-once streaming sink SUSTAIN its throughput while
``compact()`` and ``gc()`` run on their production cadence, and does the
file/manifest population stay BOUNDED instead of growing one file set per
micro-batch forever?

The soak: ≥100 micro-batches through the real streaming path — payload
synth → ``with_parsed`` → ``extract_all`` 1→3 fan-out → idempotent
``Warehouse.append(batch_id=…)`` batch members (the same commit
protocol the foreachBatch sink uses, ``streaming/bronze_stream.py``) — with
``compact()`` + ``gc(min_age_sec=0)`` every
``--compact-every`` batches on the busiest table, exactly the
one-compactor-N-appenders discipline ``Warehouse.compact`` documents.

Recorded per maintenance cycle: steady-state events/s (median per-batch
over the window), live parquet-file count and manifest version BEFORE vs
AFTER compaction, full-table read latency before vs after (the read-side
payoff small-file compaction exists for), and the ledger length (replay
protection must keep every batch id even as their members are folded
away).

Verdict: PASS iff (a) steady-state throughput over the LAST maintenance
window ≥ 10× the reference's 333 ev/s floor, (b) the live file count right
after every compaction is bounded (≤ --file-bound, i.e. it RESETS instead
of ratcheting), and (c) every batch id remains in the ledger.

Artifact: SOAK_INGEST.json.
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
    ap.add_argument("--batches", type=int, default=100)
    # ≈90 s of arrival at the reference's 333 ev/s envelope — a realistic
    # micro-batch trigger.  The per-batch cost is ~4 s FIXED (one parse+
    # checkpoint job + three concurrent append jobs + manifest commits,
    # independent of event count — measured: 10k/batch and 30k/batch both
    # take ~4-5 s), so a 10k-event trigger caps local throughput at
    # ~2.5k ev/s no matter how fast the writes are; the trigger interval
    # amortizes the same fixed cost on a real cluster.
    ap.add_argument("--events-per-batch", type=int, default=30_000)
    ap.add_argument("--compact-every", type=int, default=20)
    ap.add_argument("--file-bound", type=int, default=200,
                    help="max live parquet files allowed right after a "
                    "compact+gc cycle")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out_path = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SOAK_INGEST.json",
    )

    from bench import synth_payloads
    from dev_clickhouse_spark.plans.warehouse import Warehouse
    from dev_clickhouse_spark.session import get_spark
    from dev_clickhouse_spark.sources.json_events import extract_all
    from tools.quietcheck import quiet_stamp, settle

    spark = get_spark(app_name="ingest_soak")
    spark.sparkContext.setLogLevel("ERROR")
    settle()
    quiet = quiet_stamp()
    if not quiet["quiet"]:
        print(f"WARNING: non-quiet run ({quiet}) — timings are advisory",
              flush=True)

    root = tempfile.mkdtemp(prefix="soak_wh_")
    wh = Warehouse(spark, root)

    # One payload pool fed to every batch: bronze appends do not dedupe by
    # content (replay protection is per batch_id, S4 dedupe is downstream),
    # so repeating payloads exercises the identical write path while keeping
    # driver-side synthesis OUT of the per-batch timing.  The raw frame is
    # materialized once; the timed region per batch is parse → 1→3 fan-out
    # → 3 idempotent manifest appends, exactly the foreachBatch body.
    pool = synth_payloads(args.events_per_batch)
    raw0 = spark.createDataFrame(
        [(p,) for p in pool], "raw string"
    ).localCheckpoint(eager=True)

    def live_files(table: str) -> int:
        n = 0
        for _r, _d, files in os.walk(wh.path(table)):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def manifest_version(table: str) -> int:
        return wh.load_manifest(table)["version"]

    def ledger_len(table: str) -> int:
        return len(wh.load_manifest(table)["committed_batches"])

    batch_secs: list[float] = []
    cycles: list[dict] = []
    tables: list[str] = []
    from dev_clickhouse_spark.sources.json_events import with_parsed

    for b in range(args.batches):
        t0 = time.time()
        # same single-parse materialization as PipelineRunner.ingest_raw:
        # the three typed writes share ONE parse of the batch
        parsed = with_parsed(raw0).localCheckpoint(eager=True)
        extracted = {
            t: df.filter(df.event_ts.isNotNull())
            for t, df in extract_all(parsed).items()
        }
        tables = list(extracted)
        with ThreadPoolExecutor(max_workers=len(extracted)) as ex:
            list(ex.map(
                lambda item: wh.append(item[0], item[1], batch_id=b),
                extracted.items(),
            ))
        batch_secs.append(time.time() - t0)

        if (b + 1) % args.compact_every == 0:
            probe = tables[0]
            pre = {
                "files": sum(live_files(t) for t in tables),
                "manifest_version": manifest_version(probe),
            }
            t0 = time.time()
            n_rows = wh.read(probe).count()
            pre["read_sec"] = round(time.time() - t0, 3)
            t0 = time.time()
            for t in tables:
                # production cadence = tiered (minor) merges: cost tracks
                # the ingest window, not the table; every 4th cycle folds
                # the generations (major) — the ClickHouse-merge discipline
                wh.compact(t, mode="tiered")
                wh.gc(t, min_age_sec=0.0)
            compact_sec = round(time.time() - t0, 3)
            post = {
                "files": sum(live_files(t) for t in tables),
                "manifest_version": manifest_version(probe),
            }
            t0 = time.time()
            n_rows2 = wh.read(probe).count()
            post["read_sec"] = round(time.time() - t0, 3)
            window = batch_secs[-args.compact_every:]
            med = sorted(window)[len(window) // 2]
            cycles.append({
                "after_batch": b + 1,
                "window_median_batch_sec": round(med, 3),
                "window_events_per_sec": round(
                    args.events_per_batch / med, 1
                ),
                "compact_gc_sec": compact_sec,
                "pre": pre,
                "post": post,
                "rows_stable": n_rows == n_rows2,
                "ledger_len": ledger_len(probe),
            })
            print(f"  cycle@{b + 1}: {cycles[-1]}", flush=True)

    last = cycles[-1]
    floor_x10 = 333 * 10
    steady = last["window_events_per_sec"]
    bounded = all(c["post"]["files"] <= args.file_bound for c in cycles)
    ledger_ok = all(
        c["ledger_len"] == c["after_batch"] for c in cycles
    )
    rows_ok = all(c["rows_stable"] for c in cycles)
    total_rows = {t: wh.read(t).count() for t in tables}
    artifact = {
        "metric": "sustained_ingest_soak",
        "batches": args.batches,
        "events_per_batch": args.events_per_batch,
        "compact_every": args.compact_every,
        "steady_state_events_per_sec": steady,
        "floor_x10_events_per_sec": floor_x10,
        "cycles": cycles,
        "final_rows": total_rows,
        "quiet": quiet,
        "verdict": (
            f"PASS: steady-state {steady} ev/s >= {floor_x10} ev/s with "
            "compaction+gc on cadence; live file count bounded "
            f"(max post-compaction {max(c['post']['files'] for c in cycles)}"
            f" <= {args.file_bound}); ledger intact across "
            f"{len(cycles)} compactions"
            if steady >= floor_x10 and bounded and ledger_ok and rows_ok
            else "ATTENTION: " + "; ".join(s for s in (
                f"steady-state {steady} ev/s < {floor_x10}"
                if steady < floor_x10 else "",
                "file count not bounded by compaction" if not bounded else "",
                "ledger lost batch ids" if not ledger_ok else "",
                "row count changed across a compaction" if not rows_ok else "",
            ) if s)
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: artifact[k] for k in
                      ("steady_state_events_per_sec", "verdict")}))
    print(f"wrote {out_path}")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
