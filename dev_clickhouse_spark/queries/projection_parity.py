"""Driver-gated evidence rows for table PROJECTIONS (round 9).

ClickHouse tables carry projections as stock DDL (``ALTER TABLE .. ADD
PROJECTION``, auto-selected at query time when the GROUP BY is a subset
of the projection dims); the reference runs stock ClickHouse 24.3
(reference docker-compose.yml:22), so this is engine-identity surface.
plans/projection.py is the Spark-first translation: mergeable
partial-state rows in a derived manifest table, folded incrementally
per base-manifest member, re-aggregated (``-Merge``) at query time.

Both queries answer through the AUTOMATIC selection path and RAISE if
the projection was not actually chosen or the scan touched base files —
so the driver row itself gates the rewrite machinery, and the DuckDB
oracle (a plain declarative aggregate over the original parquet) gates
the numbers: a stale fold, a double-fold after replay, a bad state
merge, or a broken derivation all flip the row/hash gate.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..plans.projection import Measure, Metric, ProjectionSet, ProjectionSpec
from ..plans.warehouse import Warehouse
from .registry import register


def _scratch_events_warehouse(
    spark: SparkSession, sf_dir: str, tag: str, n_batches: int
) -> tuple[Warehouse, str]:
    """events split into ``n_batches`` disjoint hash batches in a fresh
    manifest warehouse (the streaming-append layout projections fold)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"dcs_{tag}_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    shutil.rmtree(scratch, ignore_errors=True)
    wh = Warehouse(spark, scratch)
    t = "projevents"
    part = F.col("event_id") % n_batches  # oracle-reproducible split
    for b in range(n_batches):
        wh.append(t, ev.filter(part == b), batch_id=b)
    return wh, t


_SPEC = ProjectionSpec(
    name="by_date_type",
    dims=("event_date", "event_type"),
    measures=(
        Measure("count"),
        Measure("sum", "value"),
        Measure("min", "value"),
        Measure("max", "value"),
        Measure("moments", "value"),
    ),
)

#: identical quantized power-sum arithmetic as plans/projection.py, so
#: the doubles agree bitwise before the final rounding (the
#: stats_moments_by_returnflag convention).
_ORACLE_BY_TYPE = """
WITH qz AS (
  SELECT event_type,
         "value" AS v,
         CAST(floor("value" * 100 + 0.5) AS BIGINT) AS q
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(v) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS sx,
         CAST(sum(q * q) AS DOUBLE) AS sxx,
         CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sv,
         min(v) AS min_value,
         max(v) AS max_value
  FROM qz GROUP BY event_type
)
SELECT event_type, cnt,
       floor(sv * 100 + 0.5) / 100 AS sum_value,
       floor(sx / n / 100 * 10000 + 0.5) / 10000 AS avg_value,
       floor(sqrt((sxx - sx * sx / n) / (n - 1)) / 100 * 10000 + 0.5) / 10000
         AS std_value,
       min_value, max_value
FROM s
"""

_METRICS = [
    Metric("count", None, "cnt"),
    Metric("sum", "value", "sum_value", 2),
    Metric("avg", "value", "avg_value", 4),
    Metric("stddev_samp", "value", "std_value", 4),
    Metric("min", "value", "min_value"),
    Metric("max", "value", "max_value"),
]


@register(
    "projection_auto_rewrite_rollup",
    oracle=_ORACLE_BY_TYPE,
    tags=["clickhouse-parity", "projection"],
)
def projection_auto_rewrite_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADD PROJECTION + automatic selection: three appended members fold
    into (event_date, event_type) partial states; a GROUP BY event_type
    with count/sum/avg/stddev/min/max is answered ENTIRELY from merged
    states (asserted: the chosen plan reads only ``__proj__`` files).
    The oracle recomputes the same aggregates declaratively over the
    raw parquet — any fold/merge/derivation defect flips the hash."""
    wh, t = _scratch_events_warehouse(spark, sf_dir, "proj_rewrite", 3)
    ps = ProjectionSet(wh, t, [_SPEC])
    df, rep = ps.answer(["event_type"], _METRICS, require_projection=True)
    if rep.used != _SPEC.name:
        raise RuntimeError(f"projection not selected: {rep!r}")
    files = df.inputFiles()
    if not files or not all("__proj__" in f for f in files):
        raise RuntimeError("rewrite leaked a base-table scan")
    return df


@register(
    "sort_projection_pruned_scan",
    oracle="""
WITH b AS (SELECT (max(user_id) // 5) AS step FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       floor(CAST(sum(CAST("value" AS DECIMAL(27,4))) AS DOUBLE)
             * 100 + 0.5) / 100 AS sum_value
FROM events, b
WHERE user_id BETWEEN b.step * 2 AND b.step * 3 - 1
  AND event_type = 'purchase'
GROUP BY event_type
""",
    tags=["clickhouse-parity", "projection"],
)
def sort_projection_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY projection + automatic selection: the base members are
    hash-split (user_id ranges smeared across every file, so the base
    table cannot prune a user_id predicate); the sort projection
    range-partitions each fold on user_id and carries per-file minmax
    sidecars, so the range query scans only the overlapping files.
    Asserted here: the projection served the scan AND files were
    actually skipped; the oracle gates row-level equality, so a pruning
    bug that drops a matching file flips the hash."""
    from ..plans.projection import SortProjection

    wh, t = _scratch_events_warehouse(spark, sf_dir, "proj_sort", 3)
    hi = wh.read(t).agg(F.max("user_id")).first()[0]
    step = hi // 5
    sp = SortProjection(wh, t, "by_user", ("user_id",), files_per_fold=8)
    df, rep = sp.scan(
        [
            ("between", "user_id", step * 2, step * 3 - 1),
            ("eq", "event_type", "purchase"),
        ],
        require_projection=True,
    )
    if rep.used != "by_user":
        raise RuntimeError(f"sort projection not selected: {rep!r}")
    st = sp.last_stats
    if st["files_scanned"] >= st["files_total"]:
        raise RuntimeError(f"no files pruned: {st!r}")
    from ..functions.ch_compat import round_half_up as rnd

    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(
            F.sum(F.col("value").cast("decimal(27,4)")).cast("double"), 2
        ).alias("sum_value"),
    )


_ORACLE_FOLD = """
WITH src AS (
  SELECT event_type, CAST(ts AS DATE) AS event_date, "value" AS v
  FROM events
  UNION ALL
  SELECT event_type, CAST(ts AS DATE) AS event_date, "value" AS v
  FROM events WHERE event_id % 4 = 0
),
qz AS (
  SELECT event_type, event_date, v,
         CAST(floor(v * 100 + 0.5) AS BIGINT) AS q
  FROM src
),
s AS (
  SELECT event_type, event_date,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(v) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS sx,
         CAST(sum(q * q) AS DOUBLE) AS sxx,
         CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sv,
         min(v) AS min_value,
         max(v) AS max_value
  FROM qz GROUP BY event_type, event_date
)
SELECT event_type, event_date, cnt,
       floor(sv * 100 + 0.5) / 100 AS sum_value,
       floor(sx / n / 100 * 10000 + 0.5) / 10000 AS avg_value,
       CASE WHEN n > 1 THEN
         floor(sqrt((sxx - sx * sx / n) / (n - 1)) / 100 * 10000 + 0.5) / 10000
       END AS std_value,
       min_value, max_value
FROM s
"""


@register(
    "projection_incremental_fold",
    oracle=_ORACLE_FOLD,
    tags=["clickhouse-parity", "projection"],
)
def projection_incremental_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-time projection maintenance: fold four members, APPEND a
    fifth (the ``event_id % 4 = 0`` rows re-tagged with shifted ids so
    the oracle can reproduce them), and answer again — ensure() must
    fold exactly the one new member (asserted), and the merged states
    must equal the declarative aggregate over ALL five members' rows.
    A replay-duplication bug (re-folding already-folded members) or a
    staleness bug (serving four-member states for five-member data)
    flips the hash."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    wh, t = _scratch_events_warehouse(spark, sf_dir, "proj_fold", 4)
    ps = ProjectionSet(wh, t, [_SPEC])
    first = ps.ensure()
    if first.folded_now != 4 or first.rebuilt:
        raise RuntimeError(f"unexpected initial fold: {first!r}")
    extra = ev.filter(F.col("event_id") % 4 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000)
    )
    wh.append(t, extra, batch_id=4)
    df, rep = ps.answer(
        ["event_type", "event_date"], _METRICS, require_projection=True
    )
    if rep.folded_now != 1 or rep.rebuilt:
        raise RuntimeError(f"incremental fold broke: {rep!r}")
    return df


_ORACLE_REFOLD = """
WITH src AS (
  SELECT event_type, CAST(ts AS DATE) AS event_date, "value" AS v
  FROM events
  WHERE NOT (event_id % 4 = 2 AND event_type = 'error')
),
qz AS (
  SELECT event_type, event_date, v,
         CAST(floor(v * 100 + 0.5) AS BIGINT) AS q
  FROM src
),
s AS (
  SELECT event_type, event_date,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(v) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS sx,
         CAST(sum(q * q) AS DOUBLE) AS sxx,
         CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sv,
         min(v) AS min_value,
         max(v) AS max_value
  FROM qz GROUP BY event_type, event_date
)
SELECT event_type, event_date, cnt,
       floor(sv * 100 + 0.5) / 100 AS sum_value,
       floor(sx / n / 100 * 10000 + 0.5) / 10000 AS avg_value,
       CASE WHEN n > 1 THEN
         floor(sqrt((sxx - sx * sx / n) / (n - 1)) / 100 * 10000 + 0.5) / 10000
       END AS std_value,
       min_value, max_value
FROM s
"""


@register(
    "projection_refold_after_delete",
    oracle=_ORACLE_REFOLD,
    tags=["clickhouse-parity", "projection", "deletion-vectors"],
)
def projection_refold_after_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Member-scoped projection invalidation under a lightweight DELETE
    (VERDICT r9 #1, the round-10 headline): four members fold, a
    lightweight DELETE whose predicate lives entirely in ONE member
    (members are hash-split on ``event_id % 4``; the predicate pins
    ``event_id % 4 = 2``) writes a deletion vector, and the next answer
    must (a) re-fold EXACTLY the one member the DV addresses — not
    rebuild, not re-fold the table (asserted via ``rep.refolded`` /
    ``rep.folded_now``), (b) leave the base manifest's members unmoved
    (zero data files rewritten), and (c) still serve ENTIRELY from
    projection files.  The oracle replays the delete declaratively over
    the raw parquet — stale states (the r9 wholesale-rebuild bug class),
    a DV-blind fold, or an over-scoped drop all flip the hash or raise."""
    wh, t = _scratch_events_warehouse(spark, sf_dir, "proj_refold", 4)
    ps = ProjectionSet(wh, t, [_SPEC])
    first = ps.ensure()
    if first.folded_now != 4 or first.rebuilt:
        raise RuntimeError(f"unexpected initial fold: {first!r}")
    members0 = wh.load_manifest(t)["members"]
    res = wh.delete_where_lightweight(
        t, "event_id % 4 = 2 AND event_type = 'error'"
    )
    if res["rows_deleted"] == 0:
        raise RuntimeError("delete matched nothing; predicate is dead")
    if wh.load_manifest(t)["members"] != members0:
        raise RuntimeError("lightweight delete rewrote members")
    df, rep = ps.answer(
        ["event_type", "event_date"], _METRICS, require_projection=True
    )
    if rep.rebuilt or rep.refolded != 1 or rep.folded_now != 1:
        raise RuntimeError(
            f"invalidation not member-scoped (want refold of exactly the "
            f"one DV-addressed member): {rep!r}"
        )
    files = df.inputFiles()
    if not files or not all("__proj__" in f for f in files):
        raise RuntimeError("rewrite leaked a base-table scan")
    return df
