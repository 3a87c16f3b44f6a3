"""Gold dimension builders (SURVEY.md §2 U1/A3/J1 + §2.11 SCD2).

Each builder is a pure transform: (window-filtered bronze DataFrames, current
dim) → rows.  SCD1 builders return NEW rows to append (the reference's
anti-join INSERT idiom); SCD2 builders return the complete new snapshot (the
deterministic equivalent of the reference's async UPDATE + INSERT).

Jakarta wall-clock is applied exactly where the reference applies
``toTimeZone(event_ts, 'Asia/Jakarta')`` (dim_date.sql:40-47).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ch_compat import (
    JAKARTA_TZ,
    day_of_week_mon1,
    iso_week,
    time_key,
    to_yyyymmdd,
)
from ..operators.scd import scd2_apply
from . import keys


def _local(c) -> F.Column:
    """toTimeZone(event_ts, 'Asia/Jakarta') — wall-clock shift for key
    derivation (timestamps are stored as UTC instants)."""
    return F.from_utc_timestamp(c, JAKARTA_TZ)


def _now() -> F.Column:
    return F.current_timestamp()


def _new_rows(built: DataFrame, current: DataFrame | None, key: str) -> DataFrame:
    """Anti-join against the target — reference J1 insert-only-new idiom
    (LEFT JOIN target d ON d.key = s.key WHERE d.key IS NULL).

    No broadcast hint on purpose: most dims stay tiny and AQE broadcasts
    them at runtime, but an accumulated high-cardinality dim (dim_tag,
    dim_time over years) must be allowed to fall back to a shuffled join
    instead of a forced driver-sized broadcast.

    No ``distinct()`` on the target's keys either: duplicate keys on the
    probe side cannot change an anti-join's result, so it would only add a
    shuffle."""
    if current is None:
        return built
    return built.join(current.select(key), on=key, how="left_anti")


def build_dim_date(
    suricata: DataFrame, wazuh: DataFrame, zeek: DataFrame,
    current: DataFrame | None = None,
) -> DataFrame:
    """dim_date.sql:1-52 — distinct local event dates from the 3 streams with
    calendar attributes, insert-only-new."""
    dates = None
    for b in (wazuh, suricata, zeek):
        d = b.select(F.to_date(_local(F.col("event_ts"))).alias("event_date"))
        dates = d if dates is None else dates.unionByName(d)
    built = (
        dates.distinct()
        .select(
            to_yyyymmdd("event_date").alias("date_key"),
            F.col("event_date").alias("date"),
            F.year("event_date").cast("int").alias("year"),
            F.quarter("event_date").cast("int").alias("quarter"),
            F.month("event_date").cast("int").alias("month"),
            F.dayofmonth("event_date").cast("int").alias("day"),
            iso_week("event_date").alias("week_of_year"),
            day_of_week_mon1("event_date").alias("day_of_week"),
            _now().alias("updated_at"),
        )
    )
    return _new_rows(built, current, "date_key")


def build_dim_time(
    suricata: DataFrame, wazuh: DataFrame, zeek: DataFrame,
    current: DataFrame | None = None,
) -> DataFrame:
    """dim_time.sql — distinct observed (hour,minute,second) triples.
    (The legacy PG build is the complete 86,400-row dim — available as
    queries/relational.dim_time_complete; this follows the CH incremental
    variant for parity.)"""
    ts_local = None
    for b in (wazuh, suricata, zeek):
        d = b.select(_local(F.col("event_ts")).alias("t"))
        ts_local = d if ts_local is None else ts_local.unionByName(d)
    built = (
        ts_local.select(
            time_key("t").alias("time_key"),
            F.hour("t").cast("int").alias("hour"),
            F.minute("t").cast("int").alias("minute"),
            F.second("t").cast("int").alias("second"),
        )
        .distinct()
        .withColumn("updated_at", _now())
    )
    return _new_rows(built, current, "time_key")


def build_dim_event(
    wazuh: DataFrame, zeek: DataFrame, current: DataFrame | None = None
) -> DataFrame:
    """dim_event.sql — conformed event descriptor dim (wazuh ∪ zeek)."""
    cols = ["event_dataset", "event_kind", "event_module", "event_provider"]
    src = wazuh.select(*cols).unionByName(zeek.select(*cols)).distinct()
    built = src.select(
        keys.event_key(*cols).alias("event_key"), *cols, _now().alias("updated_at")
    )
    return _new_rows(built, current, "event_key")


def build_dim_sensor(
    suricata: DataFrame, zeek: DataFrame, current: DataFrame | None = None
) -> DataFrame:
    """dim_sensor.sql — suricata sensors ∪ zeek sensors (type literal 'zeek',
    reference :25); guard: name or type non-empty (:29-30)."""
    src = (
        suricata.select("sensor_type", "sensor_name")
        .unionByName(
            zeek.select(F.lit("zeek").alias("sensor_type"), "sensor_name")
        )
        .filter(
            (F.col("sensor_name").isNotNull() & (F.col("sensor_name") != ""))
            | (F.col("sensor_type").isNotNull() & (F.col("sensor_type") != ""))
        )
        .distinct()
    )
    built = src.select(
        keys.sensor_key("sensor_type", "sensor_name").alias("sensor_key"),
        "sensor_type",
        "sensor_name",
        _now().alias("updated_at"),
    )
    return _new_rows(built, current, "sensor_key")


def build_dim_signature(
    suricata: DataFrame, current: DataFrame | None = None
) -> DataFrame:
    """dim_signature.sql — suricata-only; guard signature_id present or
    signature non-empty (:33)."""
    src = (
        suricata.select("signature_id", "signature", "category", "alert_action")
        .filter(
            F.col("signature_id").isNotNull()
            | (F.col("signature").isNotNull() & (F.col("signature") != ""))
        )
        .distinct()
    )
    built = src.select(
        keys.signature_key(
            "signature_id", "signature", "category", "alert_action"
        ).alias("signature_key"),
        "signature_id",
        "signature",
        "category",
        "alert_action",
        _now().alias("updated_at"),
    )
    return _new_rows(built, current, "signature_key")


def build_dim_protocol(
    suricata: DataFrame, zeek: DataFrame, current: DataFrame | None = None
) -> DataFrame:
    """dim_protocol.sql — non-empty protocols from suricata ∪ zeek."""
    src = (
        suricata.select("protocol")
        .unionByName(zeek.select("protocol"))
        .filter(F.col("protocol").isNotNull() & (F.col("protocol") != ""))
        .distinct()
    )
    built = src.select(
        keys.protocol_key("protocol").alias("protocol_key"),
        "protocol",
        _now().alias("updated_at"),
    )
    return _new_rows(built, current, "protocol_key")


def build_dim_tag(
    suricata: DataFrame, wazuh: DataFrame, zeek: DataFrame,
    current: DataFrame | None = None,
) -> DataFrame:
    """dim_tag.sql — arrayJoin(tags) over all 3 streams, non-empty values."""
    tags = None
    for b in (wazuh, suricata, zeek):
        d = b.select(F.explode("tags").alias("tag_value"))
        tags = d if tags is None else tags.unionByName(d)
    src = tags.filter(F.col("tag_value") != "").distinct()
    built = src.select(
        keys.tag_key("tag_value").alias("tag_key"),
        "tag_value",
        _now().alias("updated_at"),
    )
    return _new_rows(built, current, "tag_key")


# ---------------------------------------------------------------------------
# SCD2 dims (dim_agent / dim_host / dim_rule) — §2.11 close/open protocol
# ---------------------------------------------------------------------------

def AGENT_NK():
    """coalesce(nullIf(agent_name,''), toString(agent_ip)) — dim_agent_scd2.sql:43."""
    return F.coalesce(F.nullif(F.col("agent_name"), F.lit("")), F.col("agent_ip"))


def HOST_NK():
    return F.coalesce(F.nullif(F.col("host_name"), F.lit("")), F.col("host_ip"))


def RULE_NK():
    return F.nullif(F.col("rule_id"), F.lit(""))


def build_dim_agent(wazuh: DataFrame, current: DataFrame | None = None) -> DataFrame:
    """dim_agent_scd2.sql — natural key coalesce(nullIf(agent_name,''),
    agent_ip); change predicate: agent_ip differs (null-safe)."""
    snap = scd2_apply(
        _rename_nk(current, "agent_name"),
        wazuh,
        AGENT_NK(),
        ["agent_ip"],
        "event_ts",
        "agent_key",
    )
    return snap.withColumnRenamed("__nk", "agent_name")


def build_dim_host(wazuh: DataFrame, current: DataFrame | None = None) -> DataFrame:
    """dim_host_scd2.sql — same protocol keyed on host."""
    snap = scd2_apply(
        _rename_nk(current, "host_name"),
        wazuh,
        HOST_NK(),
        ["host_ip"],
        "event_ts",
        "host_key",
    )
    return snap.withColumnRenamed("__nk", "host_name")


def build_dim_rule(wazuh: DataFrame, current: DataFrame | None = None) -> DataFrame:
    """dim_rule_scd2.sql — keyed on rule_id; change when any of
    level/name/ruleset differs (null-safe ×3, reference :18-29)."""
    snap = scd2_apply(
        _rename_nk(current, "rule_id"),
        wazuh,
        RULE_NK(),
        ["rule_level", "rule_name", "rule_ruleset"],
        "event_ts",
        "rule_key",
    )
    return snap.withColumnRenamed("__nk", "rule_id")


def _rename_nk(current: DataFrame | None, nk_name: str) -> DataFrame | None:
    """scd2_apply works on the internal '__nk' column; gold tables store the
    natural key under its business name."""
    if current is None:
        return None
    return current.withColumnRenamed(nk_name, "__nk")
