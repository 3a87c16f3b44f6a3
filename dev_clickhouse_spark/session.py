"""SparkSession factory and runtime tuning.

The reference pins every timestamp to Asia/Jakarta (reference
clickhouse/init/01_bronze_tables.sql:3, README.md:74).  We keep the *session*
timezone UTC so that parquet test data and the DuckDB oracle agree on wall
clocks, and make Jakarta semantics explicit where the SIEM layer needs them
(see functions.ch_compat.JAKARTA_TZ).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Timezone every reference table is declared in (01_bronze_tables.sql:3).
JAKARTA_TZ = "Asia/Jakarta"

# Runtime-settable SQL confs applied to any session we are handed (the driver
# owns the session in verify runs — these are all runtime-safe).
_RUNTIME_CONF = {
    # Driver test parquet uses TIMESTAMP(NANOS) which Spark cannot map to a
    # timestamp type natively; read as epoch-nanos longs, converted in io.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock agreement with the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce post-shuffle partitions, skew-join split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs / toPandas in the llm ops.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Static confs: fixed when the session's JVM starts, so ``tune`` cannot set
# them on a running session; ``get_spark`` (and the test session) build with
# them.
STATIC_CONF = {
    # Spark's JVM-wide cache of compiled generated classes (default 100).  A
    # class evicted from it is compiled again by the next query that needs
    # it.  Measured working sets (4 cores): ~410 distinct classes after 3
    # siem_live ticks (ingest, the 16-pipeline gold refresh, the dashboard)
    # and ~230 after 3 analyst_mutation iterations.  At 100 every warm
    # siem_live tick compiles ~284 classes; at 1000 a tick from the third on
    # compiles ~20, the ones carrying the tick's own timestamp literals,
    # which are never used again and so are the least recently used when
    # the cache fills.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — keep going; get_spark sets it at build.
            pass
    return spark


def partitions_for_factor(factor: float, cpus: int | None = None) -> int:
    """Shuffle-partition count for a corpus ``factor``× the sf0.1 base:
    linear in data volume (constant per-task shuffle/sort state — the
    spark-submit sizing rule), floored at the core count and capped at
    1024.  The slope (cpus/4 partitions per unit factor) passes through
    the measured A/B point: at ×30 the heaviest dedup workers ran 256
    partitions 1.2-3.6× faster than the core-count 32 (SPILL_PROBE.json;
    240 ≈ the 256 cell), while the core-count floor keeps the ×1 driver
    operating point at its measured-best constant (see get_spark).
    Runtime-safe: ``spark.conf.set("spark.sql.shuffle.partitions", n)``
    mid-session works, so tools can size per-corpus without a rebuild."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return min(1024, max(cpus, round(cpus * factor / 4)))


def spread(df: DataFrame) -> DataFrame:
    """``df`` round-robined over ``defaultParallelism`` partitions when it
    has fewer: a one-file input otherwise runs a CPU-bound stage as ONE
    task (at real scale the input is already split)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def get_spark(
    app_name: str = "dev-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    Defaults follow the driver environment: ``local[$SPARK_GRAFT_CPUS]``;
    on a real cluster master/memory come from spark-submit.

    Shuffle parallelism defaults to the core count — the right constant
    for the DRIVER's operating point (sf0.1, ~17 MB compressed), where a
    blanket 256-partition ceiling was measured to cost a broad 30-50%
    (bench e2e 42.6 → 58.5 s; ingest +130%, the per-micro-batch task-wave
    overhead) even with AQE coalescing enabled, because AQE's
    ``parallelismFirst`` keeps small shuffles split for parallelism rather
    than collapsing them to advisory size.  At rehearsal scales the trade
    inverts — SPILL_PROBE.json measured 256 partitions beating 32 on the
    heaviest dedup workers at ×30/×50 (ngram 19.9 s vs 71.3 s at ×30) —
    so partition count must follow DATA VOLUME, not a session constant:
    callers that know the corpus multiple pass
    :func:`partitions_for_factor` (scale_rehearsal's xN side does), which
    is exactly the spark-submit sizing rule a real cluster uses (per-task
    shuffle/sort state held constant as data grows, floored at the core
    count, capped at 1024).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return tune(builder.config(map={**STATIC_CONF, **_RUNTIME_CONF}).getOrCreate())
