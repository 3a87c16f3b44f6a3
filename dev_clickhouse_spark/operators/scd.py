"""Slowly-changing-dimension operators (SURVEY.md §2.11, J1).

The reference maintains 7 SCD Type-1 dims via anti-join-then-insert
(e.g. airflow/dags/sql/dim_sensor.sql:32-34) and 3 SCD Type-2 dims
(dim_agent/dim_host/dim_rule) via a two-statement close/open protocol
(dim_agent_scd2.sql:1-57).  Both are re-expressed as pure DataFrame
transformations producing the new dimension snapshot — deterministic and
rerun-safe, which is *stronger* than ClickHouse's eventual mutations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ch_compat import surrogate_key


def scd1_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Idempotent insert-only-new-rows (reference J1 idiom, dim_date.sql:50-52):

        FROM src s LEFT JOIN target d ON d.key = s.key WHERE d.key IS NULL

    Returns target ∪ (source rows whose key is absent from target).  The
    target's keys are the anti-join's probe side and are not de-duplicated:
    duplicate keys cannot change an anti-join's result.  AQE broadcasts the
    smaller side at runtime.
    """
    new_rows = source.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(new_rows)


def scd2_from_history(
    df: DataFrame,
    natural_key: list[str] | str,
    attr_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Build a full SCD2 version table from event history in one pass.

    Change detection per natural key ordered by ``ts_col``: a new version opens
    whenever any attribute differs (null-safely — reference
    ``ifNull(...) != ifNull(...)`` / ``IS DISTINCT FROM``,
    dim_agent_scd2.sql:9,54) from the previous row's.  Emits one row per
    version with ``effective_from`` / ``effective_to`` / ``is_current``,
    mirroring the gold SCD2 schema (clickhouse/init/03_gold_tables.sql:25-34).

    Single shuffle on the natural key; window lag + conditional sum =
    O(n log n) per key, no self-join.
    """
    keys = [natural_key] if isinstance(natural_key, str) else list(natural_key)
    w = Window.partitionBy(*keys).orderBy(ts_col)

    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    # First row of each key: lag is null on every attr → eqNullSafe false →
    # changed true only if attr non-null; force version start explicitly.
    is_new_version = F.when(F.row_number().over(w) == 1, F.lit(True)).otherwise(changed)

    versioned = df.withColumn(
        "__version", F.sum(is_new_version.cast("int")).over(w)
    )
    gb = versioned.groupBy(*keys, "__version").agg(
        F.min(ts_col).alias("effective_from"),
        *[F.first(a).alias(a) for a in attr_cols],
    )
    w2 = Window.partitionBy(*keys).orderBy("effective_from")
    return (
        gb.withColumn("effective_to", F.lead("effective_from").over(w2))
        .withColumn("is_current", F.col("effective_to").isNull().cast("int"))
        .drop("__version")
    )


def scd2_apply(
    current: DataFrame | None,
    window_src: DataFrame,
    natural_key_expr,
    attr_cols: list[str],
    ts_col: str,
    key_col: str,
    nk_col: str = "__nk",
) -> DataFrame:
    """One incremental SCD2 close/open round over a ``[start_ts, end_ts)``
    window — the reference's two-statement protocol (dim_agent_scd2.sql:1-57):

    1. aggregate the window to ONE candidate row per natural key:
       ``change_ts = min(event_ts)``, attributes = ``argMin(attr, event_ts)``
       (earliest-seen, reference :44-45 — Spark ``min_by``);
    2. candidates whose attributes null-safely differ from the key's current
       version (or whose key is new) open a new version with
       ``effective_from = change_ts``, surrogate key =
       ``hash(natural_key, change_ts)`` (reference :35);
    3. matching current versions are closed: ``effective_to = change_ts``,
       ``is_current = 0`` (reference :1-21 UPDATE).

    Faithfully preserves the reference quirk that at most one new version per
    key is created per window even if attributes flip multiple times inside it
    (SURVEY.md §2.11).  Returns the complete new snapshot.

    ``natural_key_expr`` is a Column, e.g. the reference's fallback
    ``coalesce(nullIf(agent_name,''), toString(agent_ip))``
    (dim_agent_scd2.sql:43).

    Faithfulness note: the row-level change filter runs BEFORE the per-key
    aggregation, exactly like the reference's INSERT (dim_agent_scd2.sql:38-56
    joins bronze rows to the current dim and keeps only differing rows, THEN
    groups).  So if a key flips A→B→A inside one window while the current
    version is A, only the B rows are candidates and the new version is B —
    the reference's one-version-per-window quirk, preserved.

    Null-safe attribute comparison uses eqNullSafe rather than the reference's
    ``ifNull(ip, toIPv6('::'))`` sentinel — a conscious fix: a genuine '::'
    value no longer collides with NULL (SURVEY.md §2.2 P5 note).
    """
    src = window_src.withColumn(nk_col, natural_key_expr).filter(
        F.col(nk_col).isNotNull()
    )

    if current is None or not current.columns:
        candidates = src.groupBy(nk_col).agg(
            F.min(ts_col).alias("__change_ts"),
            *[F.min_by(a, F.col(ts_col)).alias(a) for a in attr_cols],
        )
        return candidates.select(
            surrogate_key(F.col(nk_col), F.col("__change_ts").cast("string")).alias(key_col),
            F.col(nk_col),
            *[F.col(a) for a in attr_cols],
            F.col("__change_ts").alias("effective_from"),
            F.lit(None).cast("timestamp").alias("effective_to"),
            F.lit(1).alias("is_current"),
        )

    cur_live = current.filter(F.col("is_current") == 1)
    attr_differs = F.lit(False)
    for a in attr_cols:
        attr_differs = attr_differs | ~F.col(f"b.{a}").eqNullSafe(F.col(f"cur.{a}"))

    # Row-level: keep window rows whose key is new OR whose attrs differ from
    # the key's current version; then one candidate per key (argMin attrs,
    # min ts) — reference dim_agent_scd2.sql:38-56.
    #
    # Out-of-order guard (conscious improvement over the reference): rows at
    # or before the current version's effective_from are ignored, so
    # re-running an already-superseded window (backfill/replay) cannot open a
    # bogus past-dated version — the reference protocol would
    # (SURVEY.md §2.11 rerun note).  Strictly-greater also keeps a replayed
    # row at exactly effective_from from minting a second version with the
    # SAME surrogate key hash(nk, effective_from).
    changed_rows = (
        src.alias("b")
        .join(cur_live.alias("cur"), on=nk_col, how="left")
        .filter(
            F.col(f"cur.{key_col}").isNull()
            | (attr_differs & (F.col(f"b.{ts_col}") > F.col("cur.effective_from")))
        )
    )
    changed = changed_rows.groupBy(nk_col).agg(
        F.min(f"b.{ts_col}").alias("__change_ts"),
        *[F.min_by(f"b.{a}", F.col(f"b.{ts_col}")).alias(a) for a in attr_cols],
        F.first(F.col(f"cur.{key_col}"), ignorenulls=True).alias("__closed_key"),
    )

    opened = changed.select(
        surrogate_key(F.col(nk_col), F.col("__change_ts").cast("string")).alias(key_col),
        F.col(nk_col),
        *[F.col(a) for a in attr_cols],
        F.col("__change_ts").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(1).alias("is_current"),
    )
    closes = changed.filter(F.col("__closed_key").isNotNull()).select(
        F.col("__closed_key").alias(key_col), F.col("__change_ts")
    )
    updated = (
        current.alias("d")
        .join(closes.alias("c"), on=key_col, how="left")
        .select(
            F.col(key_col),
            F.col(f"d.{nk_col}"),
            *[F.col(f"d.{a}").alias(a) for a in attr_cols],
            F.col("d.effective_from"),
            F.when(F.col("c.__change_ts").isNotNull(), F.col("c.__change_ts"))
            .otherwise(F.col("d.effective_to"))
            .alias("effective_to"),
            F.when(F.col("c.__change_ts").isNotNull(), F.lit(0))
            .otherwise(F.col("d.is_current"))
            .alias("is_current"),
        )
    )
    return updated.unionByName(opened)
