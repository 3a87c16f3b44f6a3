"""``siem_live``: the reference's own near-real-time loop.

Each tick, one closed-loop client:

1. lands one seeded batch of raw Suricata/Wazuh/Zeek JSON covering 5 minutes
   of event time (``land``);
2. calls ``PipelineRunner.ingest_raw`` and then ``run_window`` over the
   trailing 10 minutes, so every event is refreshed twice and the
   idempotent anti-joins do real work;
3. opens ``SqlServingEndpoint(spark, gold_views(wh))`` and answers a fixed
   dashboard of gold star joins.

Landing to dashboard answered is the tick's freshness (``tick_s``).  The
warehouse persists, so history grows.  The first tick is cold (JVM code
generation for every pipeline) and is set-up work.  One long-lived endpoint,
opened after the warm-up, is probed each tick with a count; a stale answer
counts toward ``stale_share`` and is reported, not treated as a failure.
"""

from __future__ import annotations

import contextlib
import os
import time

from checks import check_counts
from common import median, percentile
from gen import TICK, siem_ticks

EVENTS_PER_TICK = 300
WARM_TICKS = 1
MAX_TICKS = 8
DASHBOARD = {
    "alerts_per_bucket":
        "SELECT CAST(floor(unix_timestamp(f.event_ts) / 300) * 300 AS BIGINT) "
        "AS k, count(*) AS n FROM fact_suricata_events f JOIN dim_signature s "
        "ON f.signature_key = s.signature_key GROUP BY 1",
    "top_signatures":
        "SELECT s.signature AS k, count(*) AS n FROM fact_suricata_events f "
        "JOIN dim_signature s ON f.signature_key = s.signature_key "
        "GROUP BY s.signature ORDER BY n DESC, k LIMIT 10",
    "agents_by_rule_level":
        "SELECT r.rule_level AS k, count(DISTINCT a.agent_name) AS n "
        "FROM fact_wazuh_events f JOIN dim_agent a ON f.agent_key = a.agent_key "
        "JOIN dim_rule r ON f.rule_key = r.rule_key WHERE a.is_current = 1 "
        "GROUP BY r.rule_level",
    "zeek_bytes_by_protocol":
        "SELECT p.protocol AS k, sum(f.bytes) AS n FROM fact_zeek_events f "
        "JOIN dim_protocol p ON f.protocol_key = p.protocol_key GROUP BY p.protocol",
    "tag_counts":
        "SELECT t.tag_value AS k, count(*) AS n FROM (SELECT tag_key FROM "
        "bridge_wazuh_event_tag UNION ALL SELECT tag_key FROM "
        "bridge_suricata_event_tag UNION ALL SELECT tag_key FROM "
        "bridge_zeek_event_tag) b JOIN dim_tag t ON b.tag_key = t.tag_key "
        "GROUP BY t.tag_value",
}
PROBE_SQL = "SELECT count(*) AS n FROM fact_suricata_events"
GOLD_GROUPS = ("dims", "facts", "bridges")
#: (span name, counters) of the calls a tick makes, for the per-layer metrics
CALLS = (
    ("runner.ingest_raw", ("wall_s", "driver_s", "executor_s", "jobs", "tasks",
                           "shuffle_mb")),
    ("runner.run_window", ("wall_s", "driver_s", "executor_s", "jobs", "tasks",
                           "shuffle_mb", "spill_mb", "input_rows")),
    ("serving.open", ("wall_s",)),
    ("serving.execute", ("wall_s", "driver_s", "executor_s", "jobs")),
)
SIEM_METRICS = ("ingest_events_per_s", "gold_refresh_s", "tick_s",
                "dashboard_p50_ms", "dashboard_p90_ms", "stale_share")


def per_layer_names() -> list[str]:
    names = [f"{call}.{c}" for call, cs in CALLS for c in cs]
    names.append("runner.run_window.rows_read_per_row_written")
    names += [f"gold.{g}.{c}" for g in GOLD_GROUPS for c in ("executor_s", "jobs")]
    names.append("serving.data_files")
    return names + [f"siem.{m}" for m in SIEM_METRICS]


@contextlib.contextmanager
def tag_gold_jobs(sc):
    """Put the jobs of each gold pipeline in the job group ``gold.dims``,
    ``gold.facts`` or ``gold.bridges`` by wrapping the builder functions the
    runner calls; restores them on exit.  The runner materialises and writes
    a pipeline's output on the thread that built it, so the group covers
    the pipeline's jobs."""
    from dev_clickhouse_spark.gold import bridges, dims, facts

    saved = []
    for group, mod in zip(GOLD_GROUPS, (dims, facts, bridges)):
        for name in dir(mod):
            if name.startswith("build_"):
                fn = getattr(mod, name)

                def wrapped(*a, _fn=fn, _group=f"gold.{group}", **kw):
                    sc.setJobGroup(_group, _group)
                    return _fn(*a, **kw)

                saved.append((mod, name, fn))
                setattr(mod, name, wrapped)
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
        sc.setLocalProperty("spark.jobGroup.id", None)


def _expected(truth: dict, name: str) -> dict:
    want = truth["dashboard"][name]
    if name == "top_signatures":
        top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return dict(top)
    return want


class SiemLive:
    #: span names whose child coverage the traced run reports
    UNITS = ("tick",)

    def __init__(self, spark, tracer, seed: int, work: str):
        from dev_clickhouse_spark.plans.runner import PipelineRunner

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.landing = os.path.join(work, "landing")
        os.makedirs(self.landing, exist_ok=True)
        self.runner = PipelineRunner(spark, os.path.join(work, "warehouse"))
        self.next_tick = 0
        self.ticks: list[dict] = []
        self.long_lived = None
        self.probes: list[tuple[int, int]] = []  # (answer, truth)
        self.answers: list[tuple[str, dict, dict]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def generate(self) -> float:
        t = time.perf_counter()
        self.inputs = siem_ticks(self.seed, MAX_TICKS, EVENTS_PER_TICK)
        return time.perf_counter() - t

    def _step(self, rec: dict, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name) as sp:
            out = fn()
        rec[name] = time.perf_counter() - t0
        rec.setdefault("spans", {}).setdefault(name, []).append(sp.id)
        return out

    def one_tick(self) -> dict:
        from pyspark.sql import functions as F

        from dev_clickhouse_spark.__main__ import gold_views
        from dev_clickhouse_spark.serving import SqlServingEndpoint

        tk = self.inputs[self.next_tick]
        self.next_tick += 1
        path = os.path.join(self.landing, f"tick_{tk.index:05d}.jsonl")
        rec = {"tick": tk.index, "landed": sum(tk.landed.values()),
               "dashboard_s": []}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("tick"):
                def land():
                    with open(path, "w") as fh:
                        fh.write("\n".join(tk.lines) + "\n")

                self._step(rec, "land", land)
                self._step(rec, "runner.ingest_raw", lambda: self.runner.ingest_raw(
                    self.spark.read.text(path).select(F.col("value").alias("raw")),
                    collect_counts=False))
                with (tag_gold_jobs(self.spark.sparkContext)
                      if self.tracer.enabled else contextlib.nullcontext()):
                    runs = self._step(rec, "runner.run_window",
                                      lambda: self.runner.run_window(
                                          tk.end - 2 * TICK, tk.end))
                ep = self._step(rec, "serving.open", lambda: SqlServingEndpoint(
                    self.spark, gold_views(self.runner.wh)))
                answers = {}
                for name, sql in DASHBOARD.items():
                    q0 = time.perf_counter()
                    rows = self._step(rec, "serving.execute", lambda: ep.execute(sql))
                    rec["dashboard_s"].append(time.perf_counter() - q0)
                    answers[name] = {r["k"]: r["n"] for r in rows}
        except Exception as e:  # a failed tick is counted, not fatal
            self.failed += 1
            self.errors.append(f"tick {tk.index}: {type(e).__name__}: {e}"[:500])
            rec["ok"] = False
            return rec
        rec["tick_s"] = time.perf_counter() - t0
        rec["ok"] = True
        rec["pipelines"] = {m["pipeline_id"]: m["seconds"] for m in runs}
        mode = {sp.pipeline_id: sp.mode for sp in self.runner.pipelines}
        rec["rows_written"] = sum(
            m["rows_after"] if mode[m["pipeline_id"]] == "snapshot"
            else m["rows_delta"] for m in runs)
        rec["data_files"] = sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(self.runner.wh.root) for f in fs)
        for name, got in answers.items():
            self.answers.append((f"tick {tk.index} {name}", got,
                                 _expected(tk.truth, name)))
        if self.long_lived is not None:  # outside the tick: a probe, not a step
            n = self.long_lived.execute(PROBE_SQL)[0]["n"]
            self.probes.append((n, tk.truth["distinct_events"]["suricata"]))
        return rec

    def prepare(self) -> None:
        """Nothing to seed: the warehouse starts empty."""

    def warm_up(self) -> None:
        from dev_clickhouse_spark.__main__ import gold_views
        from dev_clickhouse_spark.serving import SqlServingEndpoint

        for _ in range(WARM_TICKS):
            self.one_tick()
        self.long_lived = SqlServingEndpoint(self.spark, gold_views(self.runner.wh))

    def run(self, seconds: float) -> None:
        """Ticks until ``seconds`` have passed (at least one)."""
        self.first_job = self.tracer.next_job() if self.tracer.enabled else 0
        t_end = time.perf_counter() + seconds
        self.ticks.append(self.one_tick())
        while time.perf_counter() < t_end and self.next_tick < MAX_TICKS:
            self.ticks.append(self.one_tick())

    # -- metrics -----------------------------------------------------------

    def _ok(self) -> list[dict]:
        return [t for t in self.ticks if t["ok"]]

    def end_to_end(self) -> dict:
        """``pass_s``: the median timed tick, batch landed to dashboard
        answered."""
        return {"pass_s": (median([t["tick_s"] for t in self._ok()]), "s")}

    def siem_metrics(self) -> dict:
        """The loop's own numbers (per-layer ``siem.*`` and the artifact)."""
        ok = self._ok()
        dash = [d for t in ok for d in t["dashboard_s"]]
        pipes = {}
        for t in ok:
            for pid, s in t["pipelines"].items():
                g = ("facts" if pid.startswith("fact_") else
                     "bridges" if pid.startswith("bridge_") else "dims")
                pipes.setdefault(g, []).append(s)
        return {
            "ingest_events_per_s": median(
                [t["landed"] / t["runner.ingest_raw"] for t in ok]),
            "gold_refresh_s": median([t["runner.run_window"] for t in ok]),
            "tick_s": median([t["tick_s"] for t in ok]),
            "dashboard_p50_ms": median(dash) * 1000,
            "dashboard_p90_ms": percentile(dash, 90) * 1000,
            "dashboard_samples": len(dash),
            "stale_share": (sum(a != b for a, b in self.probes)
                            / max(len(self.probes), 1)),
            "probes": self.probes,
            "pipeline_seconds_sum": {g: sum(v) / len(ok) for g, v in pipes.items()},
            "serving_open_s": median([t["serving.open"] for t in ok]),
            "data_files_last": ok[-1]["data_files"] if ok else 0,
        }

    def gold_counters(self) -> dict:
        """Job counters per gold group over the timed ticks' jobs, per tick."""
        from spans import Span

        tracker = self.spark.sparkContext.statusTracker()
        n = max(len(self._ok()), 1)
        out = {}
        for g in GOLD_GROUPS:
            jobs = [j for j in tracker.getJobIdsForGroup(f"gold.{g}")
                    if j >= self.first_job]
            c = self.tracer.job_counters(jobs, Span(g, 0.0, None, -1, ""))
            c.pop("driver_s")
            out[f"gold.{g}"] = {k: v / n for k, v in c.items()}
        return out

    def check(self) -> list[str]:
        fails = []
        for what, got, want in self.answers:
            fails += check_counts(got, want, what)
        return fails

    def per_layer(self) -> dict:
        """Medians over the timed ticks of each call's counters (summed over
        a tick's calls of one name); job counters come from the resolved
        spans of a traced run (zero when untraced)."""
        ok = self._ok()
        spans = self.tracer.spans
        m = {}
        for call, counters in CALLS:
            for c in counters:
                m[f"{call}.{c}"] = median([
                    sum(spans[i].wall_s if c == "wall_s"
                        else spans[i].counters.get(c, 0)
                        for i in t["spans"][call]) for t in ok])
        m["runner.run_window.rows_read_per_row_written"] = median([
            sum(spans[i].counters.get("input_rows", 0)
                for i in t["spans"]["runner.run_window"])
            / max(t["rows_written"], 1) for t in ok])
        if self.tracer.enabled:
            for g, c in self.gold_counters().items():
                m[f"{g}.executor_s"] = c["executor_s"]
                m[f"{g}.jobs"] = c["jobs"]
        m["serving.data_files"] = median([t["data_files"] for t in ok])
        own = self.siem_metrics()
        m.update({f"siem.{k}": own[k] for k in SIEM_METRICS})
        return m

    def extra(self) -> dict:
        return {"siem": self.siem_metrics()}
