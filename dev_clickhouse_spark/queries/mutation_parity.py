"""Driver-gated evidence row for the mutation surface (round 8).

ClickHouse maintains MergeTree tables with ``ALTER TABLE … DELETE/UPDATE``
mutations (the reference runs point ALTERs against live tables, e.g.
scripts/alter_bronze_timezone_asia_jakarta.sql); plans/warehouse.py
implements them as part-swap rewrites of only the affected manifest
members.  This query runs a real DELETE + UPDATE against a scratch
manifest-layout warehouse built from the events table and aggregates the
survivors — the DuckDB oracle replays the same mutations as a filter +
CASE over the ORIGINAL parquet, so a wrong row deleted, a missed update,
or a replay-ledger regression all flip the value hash.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ch_compat import round_half_up as rnd
from ..io import load_table
from ..plans.warehouse import Warehouse, member_kind
from .registry import register


@register(
    "mutation_delete_update_stats",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       floor(sum(CASE WHEN event_type = 'purchase' THEN "value" * 2
                      ELSE "value" END) * 100 + 0.5) / 100 AS sum_value
FROM events
WHERE NOT (event_type = 'click' AND "value" < 5.0)
GROUP BY event_type
""",
    tags=["clickhouse-parity", "mutations"],
)
def mutation_delete_update_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE … DELETE / UPDATE`` end-to-end: copy events into a
    scratch manifest-layout table (two batch appends), DELETE cheap clicks,
    UPDATE purchase values ×2, read the mutated table back and aggregate.
    The mutations rewrite only affected members and flip the version
    pointer (plans/warehouse.py::delete_where/update_set); the oracle
    replays both mutations declaratively over the original parquet."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_mutation_parity_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "mut_events"
    # two appends so the DELETE exercises the affected-member-only rewrite
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    wh.delete_where(t, "event_type = 'click' AND value < 5.0")
    wh.update_set(t, {"value": "value * 2"}, "event_type = 'purchase'")
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )

@register(
    "lightweight_delete_mask_read",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       floor(CAST(sum(CAST("value" AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_value
FROM events
WHERE NOT (event_type = 'error') AND NOT ("value" > 250.0)
GROUP BY event_type
""",
    tags=["clickhouse-parity", "mutations", "deletion-vectors"],
)
def lightweight_delete_mask_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse lightweight ``DELETE FROM … WHERE`` parity: two deletes
    write POSITIONAL deletion vectors instead of rewriting members
    (asserted: the manifest's member list does not move, so zero data
    files were touched), reads mask the deleted rows, and a re-issued delete
    is a no-op (asserted).  The oracle replays both predicates as a
    plain WHERE over the original parquet — a mask that hides the wrong
    row, double-applies, or leaks through the member union flips the
    hash."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_lwdelete_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "lwd_events"
    for b in range(3):
        wh.append(t, ev.filter(F.col("event_id") % 3 == b), batch_id=b)
    members0 = wh.load_manifest(t)["members"]
    wh.delete_where_lightweight(t, "event_type = 'error'")
    again = wh.delete_where_lightweight(t, "event_type = 'error'")
    if again["rows_deleted"] != 0:
        raise RuntimeError(f"re-delete was not idempotent: {again!r}")
    wh.delete_where_lightweight(t, "value > 250.0")
    if wh.load_manifest(t)["members"] != members0:
        raise RuntimeError("lightweight delete rewrote members")
    if [o[:3] for o in wh.overlay_files(t)] != ["dv-", "dv-"]:
        raise RuntimeError("expected exactly two deletion vectors")
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )


@register(
    "lightweight_update_patch_read",
    oracle="""
WITH mutated AS (
  SELECT event_id,
         CASE WHEN event_type = 'click' THEN 'tap' ELSE event_type END
           AS event_type,
         CASE
           WHEN event_type = 'purchase' THEN "value" * 3
           WHEN event_type = 'click' THEN "value" + 100
           ELSE "value"
         END AS val
  FROM events
  WHERE NOT (event_type = 'error')
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       floor(CAST(sum(CAST(val AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_value
FROM mutated GROUP BY event_type
""",
    tags=["clickhouse-parity", "mutations", "lightweight-update"],
)
def lightweight_update_patch_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lightweight ``UPDATE … SET … WHERE`` parity: each update masks the
    matched rows with a deletion vector and appends them, re-assigned,
    as a new member in the same commit, instead of rewriting members
    (asserted: the original members stay listed, each committed update
    appended exactly one ``updated`` member, and the manifest holds one
    deletion vector per committed update or delete); a re-issued update
    whose predicate no longer matches is a no-op (asserted), a later
    update of the same rows wins over an earlier one, and a lightweight
    DELETE composes with the updated view.  The oracle replays the whole
    sequence declaratively over the original parquet — an update that
    hits the wrong rows, loses the stacking order, or leaks a deleted or
    superseded row flips the hash.

    Sequence (both engines): purchases ×2; clicks renamed 'tap' with
    value+100; purchases ×1.5 AGAIN (stacks on the ×2 → net ×3); errors
    lightweight-deleted."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_lwupdate_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "lwu_events"
    for b in range(3):
        wh.append(t, ev.filter(F.col("event_id") % 3 == b), batch_id=b)
    members0 = wh.load_manifest(t)["members"]
    wh.update_where_lightweight(
        t, {"value": "value * 2"}, "event_type = 'purchase'"
    )
    wh.update_where_lightweight(
        t, {"event_type": F.lit("tap"), "value": "value + 100"},
        "event_type = 'click'",
    )
    again = wh.update_where_lightweight(
        t, {"value": "value + 1"}, "event_type = 'click'"
    )
    if again["rows_updated"] != 0:
        raise RuntimeError(f"re-update was not idempotent: {again!r}")
    wh.update_where_lightweight(
        t, {"value": "value * 1.5"}, "event_type = 'purchase'"
    )
    wh.delete_where_lightweight(t, "event_type = 'error'")
    man = wh.load_manifest(t)
    adds = [e["adds"] for e in man["overlays"] if "adds" in e]
    if man["members"] != members0 + adds:
        raise RuntimeError("lightweight update rewrote members")
    if len(adds) != 3 or {member_kind(m) for m in adds} != {"updated"}:
        raise RuntimeError("expected exactly three updated members")
    if [e["kind"] for e in man["overlays"]] != ["dv"] * 4:
        raise RuntimeError("expected exactly four deletion vectors")
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )


@register(
    "drop_partition_overlay_read",
    oracle="""
WITH cutoff AS (SELECT min(CAST(ts AS DATE)) AS d FROM events),
mutated AS (
  SELECT event_type,
         CASE WHEN event_type = 'click' THEN "value" + 100
              ELSE "value" END AS val,
         CAST(ts AS DATE) AS ed
  FROM events
  WHERE event_type <> 'error'
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       floor(CAST(sum(CAST(val AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_value
FROM mutated, cutoff
WHERE ed <> cutoff.d
GROUP BY event_type
""",
    tags=["clickhouse-parity", "mutations", "drop-partition"],
)
def drop_partition_overlay_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE … DROP PARTITION`` composed with LIVE lightweight
    mutations (ADVICE r9 high): errors lightweight-DELETEd, clicks
    lightweight-UPDATEd (+100), then the earliest event_date partition
    dropped WHILE both overlays are live.  The drop hardlink-clones the
    surviving members under new names and REMAPS the overlay addresses
    (plans/warehouse.py::_remap_overlays_for_drop) — before round 10 the
    clone orphaned the overlays, silently resurrecting deleted rows and
    the originals of updated rows in the surviving partitions.  Asserted
    here: before the drop, the original members stay listed beside the
    one member the update appended, under two deletion vectors; both
    vectors survive the drop (remapped, still referencing live files)
    and no deleted row reappears; the oracle replays delete + update +
    partition filter declaratively, so a resurrected or reverted row
    flips the hash."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_dpoverlay_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "dpo_events"
    wh.set_partitioning(t, ["ts", "event_id"])
    for b in range(3):
        wh.append(t, ev.filter(F.col("event_id") % 3 == b), batch_id=b)
    members0 = wh.load_manifest(t)["members"]
    wh.delete_where_lightweight(t, "event_type = 'error'")
    wh.update_where_lightweight(
        t, {"value": "value + 100"}, "event_type = 'click'"
    )
    man = wh.load_manifest(t)
    adds = [e["adds"] for e in man["overlays"] if "adds" in e]
    if man["members"] != members0 + adds or len(adds) != 1:
        raise RuntimeError("expected the originals plus one updated member")
    if [e["kind"] for e in man["overlays"]] != ["dv", "dv"]:
        raise RuntimeError("expected exactly two deletion vectors")
    cutoff = wh.read(t).agg(F.min("event_date")).first()[0]
    if wh.drop_partition(t, cutoff) == 0:
        raise RuntimeError("drop_partition affected no member")
    if len(wh.overlay_files(t)) != 2:
        raise RuntimeError(
            "overlays should survive the drop (remapped to cloned members)"
        )
    got = wh.read(t)
    if got.filter("event_type = 'error'").count() != 0:
        raise RuntimeError("lightweight delete resurrected by DROP PARTITION")
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(
            F.sum(F.col("value").cast("decimal(27,4)")).cast("double"), 2
        ).alias("sum_value"),
    )


@register(
    "computed_column_kinds_read",
    oracle="""
SELECT upper(event_type) AS etype_upper,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(floor("value") AS BIGINT)) AS BIGINT) AS sum_bucket,
       floor(CAST(sum(CAST("value" * 2 AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_x2
FROM events
GROUP BY 1
""",
    tags=["clickhouse-parity", "column-kinds"],
)
def computed_column_kinds_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse column kinds end-to-end (``ADD COLUMN … DEFAULT /
    MATERIALIZED / ALIAS``, quality/migrate.py::add_computed_column): a
    scratch manifest table gets HALF the events BEFORE the ALTERs (those
    files are back-filled on read) and half AFTER (DEFAULT/MATERIALIZED
    are stored at insert), plus an ALIAS that is never stored.  The
    aggregate reads all three computed columns; the oracle computes the
    same expressions declaratively over the original parquet, so a wrong
    back-fill, a missed insert-time fill, or a stale alias flips the
    hash."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_column_kinds_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "cc_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)

    from ..quality import SchemaMigrator
    from pyspark.sql import types as T

    mig = SchemaMigrator(wh)
    mig.add_computed_column(
        t, "value_bucket", T.LongType(), "floor(value)", kind="default"
    )
    mig.add_computed_column(
        t, "etype_upper", T.StringType(), "upper(event_type)",
        kind="materialized",
    )
    mig.add_computed_column(
        t, "val_x2", T.DoubleType(), "value * 2", kind="alias"
    )
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    return (
        wh.read(t)
        .groupBy("etype_upper")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value_bucket").cast("long").alias("sum_bucket"),
            rnd(
                F.sum(F.col("val_x2").cast("decimal(27,4)")).cast("double"),
                2,
            ).alias("sum_x2"),
        )
    )


@register(
    "ttl_group_by_rollup_read",
    oracle="""
WITH live AS (
  SELECT event_id, ts, user_id, event_type, "value", props
  FROM events
  WHERE NOT coalesce(ts < TIMESTAMP '2024-01-15 00:00:00', FALSE)
),
rolled AS (
  SELECT min(event_id) AS event_id, max(ts) AS ts, user_id, event_type,
         CAST(sum(CAST("value" AS DECIMAL(27,4))) AS DOUBLE) AS "value",
         min(props) AS props
  FROM events
  WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY user_id, event_type
),
u AS (SELECT * FROM live UNION ALL SELECT * FROM rolled)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       floor(CAST(max("value") AS DOUBLE) * 100 + 0.5) / 100 AS max_value
FROM u GROUP BY event_type
""",
    tags=["clickhouse-parity", "ttl"],
)
def ttl_group_by_rollup_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TTL ts + INTERVAL … GROUP BY user_id, event_type SET value =
    sum(value), ts = max(ts)`` — the ClickHouse rollup-TTL downsampling
    idiom (``Warehouse.apply_ttl_group_by``, applied as a compact-fold
    like CH applies TTL during merges): rows before 2024-01-15 collapse
    to one row per (user, type) carrying the summed value; live rows
    pass through untouched.  The oracle replays the union declaratively;
    ``n_rows`` pins the collapse, ``max_value`` pins the summed
    payloads (exact DECIMAL sums in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_ttl_rollup_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "ttl_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    wh.apply_ttl_group_by(
        t, "2024-01-15T00:00:00",
        group_by=["user_id", "event_type"],
        aggregates={
            "value": "cast(sum(cast(value as decimal(27,4))) as double)",
            "ts": "max(ts)",
            "event_id": "min(event_id)",
            "props": "min(props)",
        },
        ttl_col="ts",
    )
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            rnd(F.max("value"), 2).alias("max_value"),
        )
    )


@register(
    "final_read_replacing",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       floor(CAST(sum(CAST(
           CASE WHEN event_type = 'purchase' THEN "value" * 3
                ELSE "value" END AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_value
FROM events
GROUP BY event_type
""",
    tags=["clickhouse-parity", "replacing-final"],
)
def final_read_replacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT … FINAL`` (``Warehouse.read_final``): a scratch
    Replacing-semantics table gets the base events in part 0 and UPDATED
    versions of every purchase row (ts +1000 days, value ×3) in part 1 —
    duplicates straddle parts, exactly the situation FINAL exists for.
    The FINAL read collapses to the newest version per event_id at read
    time, no merge; the oracle computes the post-collapse table
    declaratively (purchases carry the updated value, counts unchanged
    because FINAL never duplicates)."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_final_read_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "repl_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev, batch_id=0)
    updated = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1000 DAYS")).alias("ts"),
        "user_id", "event_type",
        (F.col("value") * 3).alias("value"),
        "props",
    )
    wh.append(t, updated, batch_id=1)
    return (
        wh.read_final(t, keys=["event_id"], version_col="ts")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"),
                2,
            ).alias("sum_value"),
        )
    )


@register(
    "summing_read_merge",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         CAST(sum(CAST("value" AS DECIMAL(27,4))) AS DOUBLE) AS v,
         min(event_id) AS picked
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       floor(CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) * 100 + 0.5)
         / 100 AS total_value,
       CAST(sum(picked) AS BIGINT) AS sum_picked_ids
FROM s GROUP BY event_type
""",
    tags=["clickhouse-parity", "mergetree-engines"],
)
def summing_read_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SummingMergeTree`` read semantics (``Warehouse.read_summed``):
    a scratch table holds the raw events in TWO parts; the summed read
    collapses to one row per (user_id, event_type) with ``value`` summed
    across parts and the non-summed columns pinned to the lowest-
    event_id row (CH keeps an arbitrary one; we pin for determinism).
    The oracle computes the same collapse declaratively — a key counted
    twice (cross-part merge missed) or a wrong pick flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_summing_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "sum_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    summed = wh.read_summed(
        t, keys=["user_id", "event_type"], sum_cols=["value"],
        order_col="event_id",
    )
    return (
        summed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            rnd(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"),
                2,
            ).alias("total_value"),
            F.sum("event_id").cast("long").alias("sum_picked_ids"),
        )
    )


@register(
    "collapsing_read_net",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       floor(CAST(sum(CAST(
           CASE WHEN event_id % 3 = 1 THEN "value" * 2
                ELSE "value" END AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_value
FROM events
WHERE event_type = 'purchase' AND event_id % 3 <> 0
""",
    tags=["clickhouse-parity", "mergetree-engines"],
)
def collapsing_read_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VersionedCollapsingMergeTree(sign, version)`` read semantics
    (``Warehouse.read_collapsed``): purchases land as +1 state rows;
    a second part DELETES one third of them (a matching −1 cancel) and
    UPDATES another third (−1 cancel of the old state + a +1 v2 row at
    double value — the CH mutable-state-via-immutable-inserts idiom).
    The collapsed read nets signs per key: cancelled keys vanish,
    updated keys serve the v2 row, untouched keys the original.  The
    oracle states the surviving set declaratively."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = ev.select(
        "event_id", "value",
        F.lit(1).cast("int").alias("sign"),
        F.lit(1).cast("int").alias("ver"),
    )
    cancels = base.filter(F.col("event_id") % 3 == 0).select(
        "event_id", "value",
        F.lit(-1).cast("int").alias("sign"),
        F.lit(1).cast("int").alias("ver"),
    )
    upd_cancel = base.filter(F.col("event_id") % 3 == 1).select(
        "event_id", "value",
        F.lit(-1).cast("int").alias("sign"),
        F.lit(1).cast("int").alias("ver"),
    )
    upd_state = base.filter(F.col("event_id") % 3 == 1).select(
        "event_id", (F.col("value") * 2).alias("value"),
        F.lit(1).cast("int").alias("sign"),
        F.lit(2).cast("int").alias("ver"),
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        "dcs_collapsing_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "col_events"
    wh.save_schema_override(t, base.schema)
    wh.append(t, base, batch_id=0)
    wh.append(
        t, cancels.unionByName(upd_cancel).unionByName(upd_state),
        batch_id=1,
    )
    net = wh.read_collapsed(
        t, keys=["event_id"], sign_col="sign", version_col="ver"
    )
    return net.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        rnd(
            F.sum(F.col("value").cast("decimal(27,4)")).cast("double"), 2
        ).alias("sum_value"),
    )
