#!/usr/bin/env python
"""Mutation-WRITE cost vs table size (VERDICT r11 #4).

At 100 TB a mutation's cost must scale with the MATCHED parts, not the
table: ClickHouse scopes ``ALTER … DELETE/UPDATE`` to candidate parts via
the primary-key/minmax index before touching rows.  This engine now does
the same — ``_prune_members_for_mutation`` extracts simple conjuncts from
the predicate and drops members whose parquet footer min/max provably
can't match, BEFORE any probe job launches (sound under live overlays: a
lightweight UPDATE's rows live in the member it appended, whose own
footer stats cover them).

The probe: tables at ×1/×10/×100 member counts (members carry disjoint
key ranges — the natural layout of time/batch-keyed appends), a CONSTANT
matched set confined to one member, and three mutation families timed:

- heavy ``delete_where``  (ALTER DELETE: probe + rewrite matched members)
- ``delete_where_lightweight``  (DV write: probe scan + vector persist)
- ``update_where_lightweight``  (probe scan + DV persist + the updated
  rows written as one new member, one commit)

PASS = each family's ×100/×1 wall-time ratio stays under the envelope
(default 3.0 — flat modulo the driver-side O(files) footer-metadata loop
and constant Spark job overhead), where the un-pruned cost would grow
~100× with the member count.

Artifact: MUTATION_WRITE_SCALE.json.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_MEMBERS = 3
ROWS_PER_MEMBER = 20_000
ENVELOPE = 3.0


def build_table(spark, root: str, n_members: int):
    from pyspark.sql import functions as F

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, root)
    # one append per member, disjoint k ranges, a handful of dates inside
    base = (
        spark.range(ROWS_PER_MEMBER)
        .select(
            F.col("id").alias("i"),
            (F.col("id") % 7).alias("v"),
            F.to_date(
                F.lit("2026-01-01").cast("date")
                + (F.col("id") % 5).cast("int")
            ).alias("event_date"),
        )
    )
    for b in range(n_members):
        wh.append(
            "t",
            base.select(
                (F.col("i") + b * ROWS_PER_MEMBER).alias("k"),
                "v", "event_date",
            ),
            batch_id=b,
        )
    return wh


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def measure(spark, n_members: int) -> dict:
    root = tempfile.mkdtemp(prefix=f"mutscale_{n_members}_")
    try:
        t0 = time.time()
        wh = build_table(spark, root, n_members)
        setup_s = round(time.time() - t0, 3)
        # constant matched set: 100 keys, all inside member 0
        out = {"members": n_members, "setup_s": setup_s}
        res = {}
        out["lw_delete_s"] = timed(
            lambda: res.update(wh.delete_where_lightweight("t", "k < 100"))
        )
        out["lw_delete_rows"] = res["rows_deleted"]
        res.clear()
        out["lw_update_s"] = timed(
            lambda: res.update(
                wh.update_where_lightweight(
                    "t", {"v": "v + 1000"}, "k >= 100 AND k < 200"
                )
            )
        )
        out["lw_update_rows"] = res["rows_updated"]
        res.clear()
        out["heavy_delete_s"] = timed(
            lambda: res.update(
                wh.delete_where(
                    "t",
                    __import__("pyspark.sql.functions", fromlist=["expr"])
                    .expr("k >= 200 AND k < 300"),
                )
            )
        )
        out["heavy_delete_rows"] = res["rows_deleted"]
        out["heavy_members_skipped_by_stats"] = res.get(
            "members_skipped_by_stats", 0
        )
        out["rows_total"] = n_members * ROWS_PER_MEMBER
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    from dev_clickhouse_spark.session import get_spark
    from tools.quietcheck import quiet_stamp

    spark = get_spark(app_name="mutation-write-scale")
    spark.sparkContext.setLogLevel("ERROR")
    quiet = quiet_stamp()

    points = []
    for factor in (1, 10, 100):
        pt = measure(spark, BASE_MEMBERS * factor)
        pt["factor"] = factor
        points.append(pt)
        print(json.dumps(pt))

    base, x100 = points[0], points[-1]
    ratios = {
        fam: round(x100[f"{fam}_s"] / max(base[f"{fam}_s"], 1e-3), 2)
        for fam in ("lw_delete", "lw_update", "heavy_delete")
    }
    verdict = "PASS" if all(r <= ENVELOPE for r in ratios.values()) else "FAIL"
    artifact = {
        "probe": "mutation_write_scale",
        "design": (
            "x1/x10/x100 member count, constant 100-key matched set in "
            "member 0; footer-stats member pruning scopes probe+rewrite "
            "to matched parts (warehouse._prune_members_for_mutation)"
        ),
        "rows_per_member": ROWS_PER_MEMBER,
        "points": points,
        "x100_over_x1_ratios": ratios,
        "envelope": ENVELOPE,
        "verdict": verdict,
        "quiet": quiet,
        "generated_by": "tools/mutation_write_scale_probe.py",
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "MUTATION_WRITE_SCALE.json",
    )
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"verdict": verdict, "ratios": ratios}))
    spark.stop()


if __name__ == "__main__":
    main()
