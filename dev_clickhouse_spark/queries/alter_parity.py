"""Driver-gated evidence rows for the round-11 ALTER column surface.

ClickHouse evolves live MergeTree tables with column-level ALTERs — MODIFY
COLUMN type, CLEAR COLUMN IN PARTITION, column TTL, MATERIALIZE COLUMN (the
reference applies exactly such point migrations,
scripts/alter_bronze_timezone_asia_jakarta.sql:1-16).  Each query here runs
the real ALTER against a scratch manifest-layout warehouse built from the
events table and aggregates the post-ALTER read; the DuckDB oracle replays
the same semantics declaratively over the ORIGINAL parquet, so a missed
mask, a wrong member addressed, or a cast served from the wrong generation
flips the value hash.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ch_compat import round_half_up as rnd
from ..io import first_parquet, load_table
from ..plans.warehouse import Warehouse
from .registry import register


def _scratch(tag: str, sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"dcs_{tag}_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )


@register(
    "modify_column_cast_read",
    oracle="""
SELECT length(CAST(user_id AS VARCHAR)) AS uid_len,
       CAST(count(*) AS BIGINT) AS cnt,
       min(CAST(user_id AS VARCHAR)) AS min_uid,
       max(CAST(user_id AS VARCHAR)) AS max_uid,
       floor(sum("value") * 100 + 0.5) / 100 AS sum_value
FROM events
GROUP BY 1
""",
    tags=["clickhouse-parity", "alter-column"],
)
def modify_column_cast_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE … MODIFY COLUMN user_id String`` end-to-end
    (quality/migrate.py::modify_column_type): half the events land BEFORE
    the retype (bigint footers, served through the cast-on-read chain),
    half AFTER (string footers, served verbatim); merges materialize the
    chain (plans/warehouse.py::column_casts).  The aggregate groups by the
    STRING length — wrong on any row whose cast was skipped or doubled —
    and min/max over the string ordering, which differs from the numeric
    one exactly when the cast really happened."""
    ev = load_table(spark, sf_dir, "events")
    scratch = _scratch("modify_cast", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "mc_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)

    from ..quality import SchemaMigrator

    SchemaMigrator(wh).modify_column_type(t, "user_id", T.StringType())
    wh.append(
        t,
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "user_id", F.col("user_id").cast("string")
        ),
        batch_id=1,
    )
    return (
        wh.read(t)
        .groupBy(F.length("user_id").cast("int").alias("uid_len"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("user_id").alias("min_uid"),
            F.max("user_id").alias("max_uid"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "clear_column_partition_read",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(CASE WHEN NOT (event_id % 2 = 0
                   AND CAST(ts AS DATE) = (SELECT CAST(min(ts) AS DATE)
                                           FROM events))
                  THEN "value" END) AS BIGINT) AS n_value,
       floor(sum(CASE WHEN NOT (event_id % 2 = 0
                   AND CAST(ts AS DATE) = (SELECT CAST(min(ts) AS DATE)
                                           FROM events))
                  THEN "value" ELSE 0 END) * 100 + 0.5) / 100 AS sum_value
FROM events
GROUP BY event_type
""",
    tags=["clickhouse-parity", "alter-column"],
)
def clear_column_partition_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``ALTER TABLE … CLEAR COLUMN value IN PARTITION d`` — the mutation
    addresses the members live at ALTER time
    (plans/warehouse.py::clear_column_in_partition): even-id rows land
    first and get cleared in the earliest partition; odd-id rows append
    AFTER the ALTER into the same partition and must keep their values.
    The oracle replays the member-snapshot semantics as the id-parity
    CASE."""
    ev = load_table(spark, sf_dir, "events").withColumnRenamed(
        "ts", "event_ts"
    )
    scratch = _scratch("clear_col", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "cl_events"
    wh.set_partitioning(t, ["event_ts", "event_id"])
    wh.save_schema_override(
        t,
        T.StructType(
            [*ev.schema.fields, T.StructField("event_date", T.DateType())]
        ),
    )
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    d0 = ev.agg(F.min(F.to_date("event_ts"))).collect()[0][0]
    wh.clear_column_in_partition(t, "value", d0)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("value").alias("n_value"),
            rnd(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
                "sum_value"
            ),
        )
    )


@register(
    "column_ttl_merge_read",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(CASE WHEN ts >= (SELECT max(ts) - INTERVAL 1 DAY
                                   FROM events)
                  THEN "value" END) AS BIGINT) AS n_value,
       floor(sum(CASE WHEN ts >= (SELECT max(ts) - INTERVAL 1 DAY
                                  FROM events)
                  THEN "value" ELSE 0 END) * 100 + 0.5) / 100 AS sum_value
FROM events
GROUP BY event_type
""",
    tags=["clickhouse-parity", "alter-column"],
)
def column_ttl_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level TTL (``MODIFY COLUMN value … TTL event_ts + INTERVAL
    1 DAY``, plans/warehouse.py::set_column_ttl): declared once, enforced
    by the next merge — expired rows KEEP the row but the column resets
    to NULL.  ``compact(now=max_ts)`` pins the cutoff so the oracle's
    interval predicate is exact; row counts must be unchanged (a TTL that
    drops rows instead of resetting the column flips cnt)."""
    ev = load_table(spark, sf_dir, "events").withColumnRenamed(
        "ts", "event_ts"
    )
    scratch = _scratch("col_ttl", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "ct_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    wh.set_column_ttl(t, "value", 1.0, ttl_col="event_ts")
    mx = ev.agg(F.max("event_ts")).collect()[0][0]
    wh.compact(t, now=mx)
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("value").alias("n_value"),
            rnd(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
                "sum_value"
            ),
        )
    )


@register(
    "materialize_column_read",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events
GROUP BY event_type
""",
    tags=["clickhouse-parity", "alter-column"],
)
def materialize_column_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE … MATERIALIZE COLUMN`` (plans/warehouse.py::
    materialize_column): a DEFAULT column added after the first batch is
    back-filled on read for pre-ALTER members; MATERIALIZE rewrites
    exactly those members so the values become stored bytes.  The query
    asserts every live member's footer physically contains the column
    (a materialize that silently skipped a member raises here → driver
    row errors) and aggregates the stored values; the oracle computes
    the same expression over the original parquet."""
    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events")
    scratch = _scratch("mat_col", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "mt_events"
    wh.save_schema_override(t, ev.schema)
    wh.append(t, ev.filter(F.col("event_id") % 2 == 0), batch_id=0)

    from ..quality import SchemaMigrator

    SchemaMigrator(wh).add_computed_column(
        t, "value_cents", T.LongType(),
        "CAST(floor(value * 100 + 0.5) AS BIGINT)", kind="default",
    )
    wh.append(t, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    wh.materialize_column(t, "value_cents")
    for m in wh.load_manifest(t)["members"]:
        fp = first_parquet(os.path.join(wh.path(t), m))
        if fp is not None and "value_cents" not in pq.read_schema(fp).names:
            raise AssertionError(
                f"member {m} footer lacks value_cents after MATERIALIZE"
            )
    return (
        wh.read(t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value_cents").cast("long").alias("sum_cents"),
        )
    )
