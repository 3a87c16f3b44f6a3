"""Monitoring persistence: the reference's ``monitoring.*`` table family.

The reference provisions lag / volume / schema-drift / alert tables
(postgres/init/04_monitoring_tables.sql:11-46) and ``gold.dq_results``
(:48-54) that its pipelines write; round-1 of this engine computed the checks
(quality/checks.py) but persisted only ``pipeline_runs``.  This module closes
that gap: :class:`Monitor` observes a table once per tick and appends rows to

- ``lag_metrics``        (pipeline_id, observed_at, max_event_ts, lag_seconds)
- ``volume_metrics``     (pipeline_id, observed_at, window_minutes,
                          event_count, baseline_count, status)
- ``schema_drift``       (pipeline_id, observed_at, column_name,
                          expected_type, actual_type, status) — one row per
                          drifted column, exactly the reference's shape
- ``alerts``             (pipeline_id, alert_ts, alert_type, severity, message)
- ``dq_results``         (pipeline_id, run_ts, status, results_json)

Scale note: one ``agg(max(ts), count)`` job per observed table per tick over
the WINDOWED read (the runner passes its incremental window, never a full
scan); drift is schema-only (no data read); the writes are single-row
appends.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_parquet

_MONITOR_TABLES = {
    "lag_metrics": (
        "pipeline_id string, observed_at string, max_event_ts string, "
        "lag_seconds double"
    ),
    "volume_metrics": (
        "pipeline_id string, observed_at string, window_minutes int, "
        "event_count long, baseline_count long, status string"
    ),
    "schema_drift": (
        "pipeline_id string, observed_at string, column_name string, "
        "expected_type string, actual_type string, status string"
    ),
    "alerts": (
        "pipeline_id string, alert_ts string, alert_type string, "
        "severity string, message string"
    ),
    "dq_results": (
        "pipeline_id string, run_ts string, status string, results_json string"
    ),
}


class Monitor:
    """Writes the monitoring table family under the warehouse root."""

    def __init__(self, spark: SparkSession, warehouse_root: str):
        self.spark = spark
        self.root = warehouse_root

    # -- low-level append --------------------------------------------------

    def _append(self, table: str, rows: list[tuple]) -> None:
        if not rows:
            return
        df = self.spark.createDataFrame(rows, _MONITOR_TABLES[table])
        df.write.mode("append").parquet(os.path.join(self.root, table))

    def read(self, table: str) -> DataFrame:
        p = os.path.join(self.root, table)
        if not os.path.exists(p):
            return self.spark.createDataFrame([], _MONITOR_TABLES[table])
        return read_parquet(self.spark, p)

    # -- observations ------------------------------------------------------

    def observe(
        self,
        pipeline_id: str,
        df: DataFrame,
        *,
        ts_col: str | None = None,
        expected_columns: dict[str, str] | None = None,
        window_minutes: int = 10,
        min_rows: int = 0,
        baseline_count: int | None = None,
        freshness_threshold_minutes: int | None = None,
        now: dt.datetime | None = None,
    ) -> dict:
        """One monitoring tick for one table: a single agg job computes
        count + max(ts); drift is schema-only.  Breaches also append to
        ``alerts``.  Returns the summary dict that was persisted."""
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        now_s = now.isoformat(sep=" ")
        alerts: list[tuple] = []

        aggs = [F.count(F.lit(1)).alias("n")]
        if ts_col is not None:
            aggs.append(F.max(ts_col).alias("max_ts"))
        row = df.agg(*aggs).first()
        n = row.n

        # lag
        lag_seconds = None
        if ts_col is not None:
            max_ts = row.max_ts
            lag_seconds = (
                None if max_ts is None else (now - max_ts).total_seconds()
            )
            self._append("lag_metrics", [(
                pipeline_id, now_s,
                None if max_ts is None else max_ts.isoformat(sep=" "),
                lag_seconds,
            )])
            if freshness_threshold_minutes is not None and (
                lag_seconds is None
                or lag_seconds > freshness_threshold_minutes * 60
            ):
                alerts.append((
                    pipeline_id, now_s, "lag", "warning",
                    f"lag {lag_seconds}s exceeds "
                    f"{freshness_threshold_minutes}min threshold",
                ))

        # volume
        vol_status = "ok" if n >= min_rows else "low"
        self._append("volume_metrics", [(
            pipeline_id, now_s, window_minutes, n, baseline_count, vol_status,
        )])
        if vol_status != "ok":
            alerts.append((
                pipeline_id, now_s, "volume", "warning",
                f"event_count {n} below min_rows {min_rows}",
            ))

        # schema drift — one row per drifted column (reference shape)
        drifted: list[tuple] = []
        if expected_columns is not None:
            actual = dict(df.dtypes)
            for col, want in expected_columns.items():
                got = actual.get(col)
                if got != want:
                    drifted.append((
                        pipeline_id, now_s, col, want, got,
                        "missing" if got is None else "type_mismatch",
                    ))
            for col in sorted(set(actual) - set(expected_columns)):
                drifted.append((
                    pipeline_id, now_s, col, None, actual[col], "unexpected",
                ))
            self._append("schema_drift", drifted)
            if drifted:
                alerts.append((
                    pipeline_id, now_s, "schema_drift", "critical",
                    f"{len(drifted)} columns drifted: "
                    + ", ".join(d[2] for d in drifted[:5]),
                ))

        self._append("alerts", alerts)
        return {
            "pipeline_id": pipeline_id,
            "event_count": n,
            "lag_seconds": lag_seconds,
            "volume_status": vol_status,
            "drifted_columns": len(drifted),
            "alerts": len(alerts),
        }

    def record_dq_results(self, pipeline_id: str, results: list[dict],
                          now: dt.datetime | None = None) -> None:
        """Persist a quality/checks.py result list as one ``dq_results`` row
        (status = passed only if every check passed; details as JSON — the
        reference's jsonb column)."""
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        status = "passed" if all(r["passed"] for r in results) else "failed"
        self._append("dq_results", [(
            pipeline_id, now.isoformat(sep=" "), status, json.dumps(results),
        )])
