"""Pipeline metadata (SURVEY.md §3.2): the engine's control plane.

Mirrors the reference's metadata store / YAML snapshot
(postgres/init/10_metadata.sql:3-34, airflow/dags/gold_pipelines.yml:1-137):
per-pipeline id, target table, window, dependency edges, write mode.  The
topology is dims → facts → bridges (gold_pipelines.yml:74-137).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineSpec:
    pipeline_id: str
    target_table: str
    mode: str = "append"  # "append" (SCD1/facts/bridges) | "snapshot" (SCD2)
    window_minutes: int = 10  # reference default (gold_pipeline.py:316)
    depends_on: tuple[str, ...] = field(default_factory=tuple)


#: dims → facts → bridges, dependency edges per gold_pipelines.yml:74-137
PIPELINES: list[PipelineSpec] = [
    PipelineSpec("dim_date", "dim_date"),
    PipelineSpec("dim_time", "dim_time"),
    PipelineSpec("dim_event", "dim_event"),
    PipelineSpec("dim_sensor", "dim_sensor"),
    PipelineSpec("dim_protocol", "dim_protocol"),
    PipelineSpec("dim_signature", "dim_signature"),
    PipelineSpec("dim_tag", "dim_tag"),
    PipelineSpec("dim_agent_scd2", "dim_agent", mode="snapshot"),
    PipelineSpec("dim_host_scd2", "dim_host", mode="snapshot"),
    PipelineSpec("dim_rule_scd2", "dim_rule", mode="snapshot"),
    PipelineSpec(
        "fact_wazuh_events", "fact_wazuh_events",
        depends_on=("dim_date", "dim_time", "dim_agent_scd2", "dim_host_scd2",
                    "dim_rule_scd2", "dim_event"),
    ),
    PipelineSpec(
        "fact_suricata_events", "fact_suricata_events",
        depends_on=("dim_date", "dim_time", "dim_sensor", "dim_signature",
                    "dim_protocol"),
    ),
    PipelineSpec(
        "fact_zeek_events", "fact_zeek_events",
        depends_on=("dim_date", "dim_time", "dim_sensor", "dim_protocol",
                    "dim_event"),
    ),
    PipelineSpec(
        "bridge_wazuh_event_tag", "bridge_wazuh_event_tag",
        depends_on=("dim_tag", "fact_wazuh_events"),
    ),
    PipelineSpec(
        "bridge_suricata_event_tag", "bridge_suricata_event_tag",
        depends_on=("dim_tag", "fact_suricata_events"),
    ),
    PipelineSpec(
        "bridge_zeek_event_tag", "bridge_zeek_event_tag",
        depends_on=("dim_tag", "fact_zeek_events"),
    ),
]


def load_pipelines_yml(path: str | None = None) -> tuple[dict, list[PipelineSpec]]:
    """Load pipeline metadata from the YAML snapshot — the reference's
    metadata-store fallback path (gold_pipeline.py:297-321 reads
    gold_pipelines.yml the same way).  Returns (dag config, specs);
    disabled pipelines are skipped."""
    import os

    import yaml

    if path is None:
        path = os.path.join(os.path.dirname(__file__), "pipelines.yml")
    with open(path) as fh:
        doc = yaml.safe_load(fh)
    dag = doc.get("dag", {})
    default_window = int(dag.get("default_window_minutes", 10))
    specs = []
    for p in doc["pipelines"]:
        if not p.get("enabled", True):
            continue
        specs.append(
            PipelineSpec(
                pipeline_id=p["pipeline_id"],
                target_table=p.get("target_table", p["pipeline_id"]),
                mode=p.get("mode", "append"),
                window_minutes=int(p.get("window_minutes", default_window)),
                depends_on=tuple(p.get("depends_on", ())),
            )
        )
    return dag, specs


def topo_sorted_waves(
    pipelines: list[PipelineSpec] | None = None,
) -> list[list[PipelineSpec]]:
    """Validate the dependency graph and give its deterministic order: a
    Kahn topological sort into levels, where level k holds the pipelines
    whose longest dependency chain has length k, sorted by pipeline_id
    inside a level (the reference sorts by (pipeline_order, pipeline_id),
    gold_pipeline.py:422-425).  An unknown ``depends_on`` id or a cycle
    raises.  The runner flattens the levels into its start order; it does
    not wait for a level to finish, each pipeline starts once its own
    dependencies are done."""
    specs = list(pipelines if pipelines is not None else PIPELINES)
    by_id = {s.pipeline_id: s for s in specs}
    for s in specs:
        unknown = set(s.depends_on) - set(by_id)
        if unknown:
            raise ValueError(f"{s.pipeline_id}: unknown depends_on {unknown}")
    remaining = dict(by_id)
    done: set[str] = set()
    waves: list[list[PipelineSpec]] = []
    while remaining:
        wave = sorted(
            (s for s in remaining.values() if set(s.depends_on) <= done),
            key=lambda s: s.pipeline_id,
        )
        if not wave:
            raise ValueError(f"dependency cycle among {sorted(remaining)}")
        waves.append(wave)
        for s in wave:
            done.add(s.pipeline_id)
            del remaining[s.pipeline_id]
    return waves
