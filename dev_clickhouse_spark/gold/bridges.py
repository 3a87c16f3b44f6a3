"""M:N tag bridge builders (SURVEY.md J4/J10).

bridge_{wazuh,suricata,zeek}_event_tag: explode the bronze ``tags`` array
(reference ``arrayJoin``, bridge_wazuh_event_tag.sql:20), look the value up in
dim_tag (broadcast), drop unmatched/empty, anti-join against existing bridge
rows on (event_id, event_ts, tag_key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_bridge_event_tag(
    src: DataFrame,
    dim_tag: DataFrame,
    existing: DataFrame | None = None,
) -> DataFrame:
    """One builder serves all three streams — the reference's three bridge
    pipelines are textual clones over different bronze tables."""
    exploded = src.select(
        "event_id",
        "event_ts",
        F.explode("tags").alias("tag_value"),
    ).filter(F.col("tag_value") != "")
    out = (
        exploded.join(F.broadcast(dim_tag.select("tag_key", "tag_value")),
                      on="tag_value", how="left")
        .filter(F.col("tag_key").isNotNull())
        .select(
            "event_id",
            "event_ts",
            "tag_key",
            F.current_timestamp().alias("updated_at"),
        )
    )
    if existing is None:
        return out
    return out.join(
        existing.select("event_id", "event_ts", "tag_key"),
        on=["event_id", "event_ts", "tag_key"],
        how="left_anti",
    )
