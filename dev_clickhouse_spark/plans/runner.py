"""Pipeline runner: the engine's orchestrator (SURVEY.md §3.2).

Replaces the reference's Airflow + Jinja + clickhouse_connect machinery
(airflow/dags/generator/gold_pipeline.py:169-282) with a plain Python module:
resolve the ``[start_ts, end_ts)`` window, start each pipeline as soon as its
own dependencies have finished (Airflow's per-task trigger rule, at most
max_active_tasks at once), record per-run row-count metrics (the reference's
observability-as-assertions, gold_pipeline.py:221-280), and stay idempotent
under reruns and overlapping windows (every writer anti-joins its target).
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.json_events import extract_all
from ..gold import bridges, dims, facts
from ..operators.dedupe import replacing_dedupe
from .spec import PIPELINES, PipelineSpec, topo_sorted_waves
from .warehouse import Warehouse

#: a bronze event's identity — the reference's facts are
#: ``ReplacingMergeTree`` on (event_id, event_ts), fed at-least-once
_EVENT_KEY = ["event_id", "event_ts"]


def _one_per_event(df: DataFrame) -> DataFrame:
    """``df`` with one row per (event_id, event_ts): a redelivered event
    collapses to its greatest row under the remaining columns in schema
    order, a pick no partitioning can change.  Gold reads bronze through
    this; the bronze table keeps every delivered copy for audit."""
    others = [c for c in df.columns if c not in _EVENT_KEY]
    # the shuffle keeps the input's partition count (one for an empty
    # window, which has none): every pipeline scans the result, and
    # shuffle.partitions tasks per scan cost more than the dedup itself
    df = df.repartition(max(1, df.rdd.getNumPartitions()), *_EVENT_KEY)
    return replacing_dedupe(df, _EVENT_KEY, others[0], others[1:])


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        max_active_tasks: int = 8,
        pipelines: list[PipelineSpec] | None = None,
    ):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.max_active_tasks = max_active_tasks
        self.pipelines = list(pipelines if pipelines is not None else PIPELINES)
        self.metrics: list[dict] = []
        self._row_counts: dict[str, int] = {}
        self.refreshable = None  # RefreshableViews, created on first use

    def refreshable_views(self):
        """Refreshable-MV registry bound to this runner's warehouse
        (plans/refresh.py).  Views registered here are ticked by
        ``run_latest`` after each gold refresh — the orchestrator-owned
        schedule the reference gives refreshable rollups (Airflow cron;
        CH 24.x ``REFRESH EVERY``), so a rollup over mutated gold tables
        converges inside the SAME scheduled path that refreshed them."""
        if self.refreshable is None:
            from .refresh import RefreshableViews

            self.refreshable = RefreshableViews(self.spark, self.wh)
        return self.refreshable

    @classmethod
    def from_store(
        cls,
        spark: SparkSession,
        warehouse_root: str,
        url: str | None = None,
        dag_name: str = "gold_star_schema",
    ) -> "PipelineRunner":
        """Build a runner from the metadata control plane (DB store with YAML
        snapshot fallback) — the reference's DAG generator resolving its
        pipeline set from metadata.gold_pipelines at parse time
        (gold_pipeline.py:498-507).  Re-invoking after an operator edit
        (``MetadataStore.set_enabled``/``set_window``) picks up the change
        with no code deploy."""
        from .metastore import load_pipeline_specs

        dag, specs = load_pipeline_specs(spark, url, dag_name)
        return cls(
            spark, warehouse_root,
            max_active_tasks=int(dag.get("max_active_tasks", 8)),
            pipelines=specs,
        )

    # -- ingest ------------------------------------------------------------

    def ingest_raw(
        self, raw_df: DataFrame, collect_counts: bool = True
    ) -> dict[str, int]:
        """Raw JSON strings → the 3 typed bronze tables (the reference's MV
        fan-out, SURVEY.md S2).  Batch path; streaming/bronze_stream.py wraps
        the same extraction in foreachBatch.

        The parsed struct is materialized ONCE (localCheckpoint) before the
        three per-stream writes — without it each write job would re-run the
        from_json parse over the whole batch (ClickHouse gets the same effect
        by pushing one consumed block through all three MVs in-process).
        With ``collect_counts`` the per-table row counts the appends return
        (read from the new members' parquet footers, no Spark job) are
        returned."""
        from ..sources.json_events import with_parsed

        raw_df = with_parsed(raw_df).localCheckpoint(eager=True)
        extracted = {
            table: df.filter(df.event_ts.isNotNull())
            for table, df in extract_all(raw_df).items()
        }

        # the three typed writes share the one materialized parse and target
        # disjoint directories — submit them concurrently so the cluster
        # pipelines the jobs instead of idling between three serial commits
        with ThreadPoolExecutor(max_workers=len(extracted)) as pool:
            counts = dict(zip(extracted, pool.map(
                lambda item: self.wh.append(*item), extracted.items()
            )))
        return counts if collect_counts else {}

    # -- gold --------------------------------------------------------------

    def run_window(
        self,
        start_ts: dt.datetime,
        end_ts: dt.datetime,
        pipeline_ids: set[str] | None = None,
        honor_pipeline_windows: bool = False,
    ) -> list[dict]:
        """One scheduled gold refresh over [start_ts, end_ts) — the reference's
        */5-cron DAG run with a 10-minute window (gold_pipeline.py:27-49).
        Returns one metrics row per pipeline, in topological order.

        Scheduling is dependency-driven, as Airflow's per-task trigger rule:
        a pipeline starts as soon as every pipeline it ``depends_on`` has
        finished (a dependency outside ``pipeline_ids`` counts as done), at
        most ``max_active_tasks`` at once, so a fact never waits for a dim
        it does not read.  After a failure nothing new starts; the error is
        re-raised once the running pipelines have finished.

        ``honor_pipeline_windows=True`` (the scheduled-tick path,
        :meth:`run_latest`) gives each pipeline its OWN trailing window
        ``[end_ts - spec.window_minutes, end_ts)`` — the reference's
        per-pipeline ``window_minutes`` override (gold_pipelines.yml:11,
        gold_pipeline.py:316); an explicit backfill range (this method
        called directly) applies to every pipeline as given.

        The three bronze windows are materialized ONCE up front (persist +
        eager count, released at the end) over the WIDEST requested window,
        one row per event (``_one_per_event``: a redelivery inside the
        window does not reach gold twice), and shared by every pipeline
        (narrower windows filter the cached copy in memory): without this
        the 16 pipelines issue ~30 separate scan+filter jobs (ClickHouse
        gets the sharing for free from its page cache; Spark needs the
        explicit materialization).  A trailing
        window is small by construction (~200k events at the reference
        envelope), so pinning it is safe even when the table is 100 TB."""
        from ..schemas import BRONZE_SCHEMAS

        order = [
            s for wave in topo_sorted_waves(self.pipelines) for s in wave
            if pipeline_ids is None or s.pipeline_id in pipeline_ids
        ]
        starts = {
            s.pipeline_id: (
                end_ts - dt.timedelta(minutes=s.window_minutes)
                if honor_pipeline_windows and s.window_minutes
                else start_ts
            )
            for s in self.pipelines
        }
        cache_start = min(starts.values(), default=start_ts)

        def materialize(t: str) -> DataFrame:
            # persist (not localCheckpoint): unpersist() actually frees
            # persisted blocks, while a localCheckpoint's blocks only go
            # away when the RDD is GC'd — per-tick streaming calls must
            # release promptly, and the lineage here is a cheap pruned scan
            df = _one_per_event(
                self.wh.read_window(t, cache_start, end_ts)
            ).persist()
            df.count()
            return df

        cache: dict[str, DataFrame] = {}
        with ThreadPoolExecutor(max_workers=len(BRONZE_SCHEMAS)) as pool:
            for t, df in zip(
                BRONZE_SCHEMAS, pool.map(materialize, BRONZE_SCHEMAS)
            ):
                cache[t] = df

        def windows(start: dt.datetime) -> dict[str, DataFrame]:
            # a pipeline with a narrower window filters the in-memory copy
            # (no new scan); one starting with the cache reads it as it
            # is: Spark inlines timestamp literals into the generated code,
            # so a redundant filter would compile new classes every tick
            if start == cache_start:
                return cache
            return {
                t: df.filter(F.col("event_ts") >= F.lit(start))
                for t, df in cache.items()
            }

        # run-scoped input-dim reads, shared by the pipelines that read the
        # same dim (dim_tag by all three bridges, sensor/protocol/event by
        # two facts each; one read of a warm gold dim builds its relation on
        # the driver in ~25 ms, 4 cores).
        # Every table rd() reads is a declared depends_on edge, so it is
        # first read after its writer has finished.  Both dicts are threaded
        # explicitly (not stashed on self): two overlapping run_window calls
        # on one runner (scheduled tick + backfill) must not clobber each
        # other's or unpersist DataFrames the other run still executes on
        reads: dict[str, DataFrame] = {}
        try:
            run_metrics = self._schedule(
                order,
                lambda s: self._run_one(
                    s, starts[s.pipeline_id], end_ts,
                    cache=windows(starts[s.pipeline_id]), reads=reads,
                ),
            )
        finally:
            for df in cache.values():
                try:
                    df.unpersist()
                except Exception:
                    pass
        self.metrics.extend(run_metrics)
        self._persist_metrics(run_metrics)
        return run_metrics

    def _schedule(self, order: list[PipelineSpec], run) -> list[dict]:
        """Run ``run(spec)`` for every spec of ``order`` (topologically
        sorted), each once all of its dependencies inside ``order`` are done,
        with at most ``max_active_tasks`` running.  Ready specs start in
        ``order``; results come back in ``order``."""
        ids = {s.pipeline_id for s in order}
        pending = list(order)
        done: dict[str, dict] = {}
        running: dict = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=self.max_active_tasks) as pool:
            while True:
                if error is None:
                    for s in list(pending):
                        if len(running) >= self.max_active_tasks:
                            break
                        if all(d in done or d not in ids for d in s.depends_on):
                            pending.remove(s)
                            running[pool.submit(run, s)] = s
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    s = running.pop(f)
                    try:
                        done[s.pipeline_id] = f.result()
                    except BaseException as e:
                        error = error or e
        if error is not None:
            raise error
        return [done[s.pipeline_id] for s in order]

    def _persist_metrics(self, rows: list[dict]) -> None:
        """Append per-pipeline run rows to the ``pipeline_runs`` table — the
        reference's monitoring.pipeline_runs observability
        (postgres/init/04_monitoring_tables.sql:1-9; row-count logging
        gold_pipeline.py:221-280).  One parquet file per run, written with
        pyarrow (no Spark job): a hidden tmp name, then ``os.replace``, so a
        reader never sees a partial file."""
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = [("pipeline_id", pa.string()), ("target_table", pa.string()),
                ("start_ts", pa.string()), ("end_ts", pa.string()),
                ("rows_before", pa.int64()), ("rows_after", pa.int64()),
                ("rows_delta", pa.int64()), ("seconds", pa.float64())]
        table = pa.table(
            {c: [m[c] for m in rows] for c, _ in cols}, schema=pa.schema(cols)
        )
        d = os.path.join(self.wh.root, "pipeline_runs")
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(d, name))

    def resolve_window(
        self,
        window_minutes: int = 10,
        now: dt.datetime | None = None,
        conf: dict | None = None,
    ) -> tuple[dt.datetime, dt.datetime]:
        """Window resolution exactly as the reference orchestrator
        (gold_pipeline.py:27-49): an explicit override wins
        (``conf={'start_ts':…, 'end_ts':…}`` — the backfill path,
        README.md:113-125), else ``[now - window_minutes, now)``."""
        if conf and conf.get("start_ts") and conf.get("end_ts"):
            return conf["start_ts"], conf["end_ts"]
        # naive-UTC wall clock: event_ts is stored as UTC instants, so the
        # trailing window must be computed in UTC regardless of host TZ
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        return now - dt.timedelta(minutes=window_minutes), now

    def run_latest(
        self, window_minutes: int = 10, now: dt.datetime | None = None,
        monitor: bool = True,
    ) -> list[dict]:
        """One scheduled tick: resolve the trailing window and refresh gold —
        what the reference's */5 cron invokes.  Safe to call on a timer or
        from a Structured Streaming foreachBatch.  Per-pipeline
        ``window_minutes`` overrides are honored (each pipeline reads its
        own trailing window off the shared end instant).  ``monitor=True``
        also writes the lag/volume/drift/alert observations for the tick."""
        start_ts, end_ts = self.resolve_window(window_minutes, now)
        results = self.run_window(
            start_ts, end_ts, honor_pipeline_windows=True
        )
        if monitor:
            self.monitor_tick(start_ts, end_ts)
        if self.refreshable is not None:
            self.refreshable.run_pending()
        return results

    def maintenance_tick(
        self,
        tables: list[str] | None = None,
        mode: str = "tiered",
        gc_min_age_sec: float = 3600.0,
        now: dt.datetime | None = None,
    ) -> dict[str, int]:
        """One background-merge cycle over the tables the runner writes —
        the work ClickHouse's merge scheduler owns.  The bronze tables and
        the gold tables the pipelines append to (SCD1 dims, facts,
        bridges) get a tiered compaction (folding the members appended
        since the last cycle), which also enforces any DECLARED table TTL
        (``set_table_ttl``) in the same pass.  Every table, the SCD2
        snapshots (overwritten to one member each run) included, then gets
        ``gc``: the members and overlays that no retained manifest version
        lists leave the disk.  A table's declared projections then fold
        its new members, and each fold table (``<base>__proj__<name>``)
        gets the same ``gc``: the fold members an invalidation dropped
        leave the disk too.  Returns {compacted table: n_files}.

        Single-compactor discipline applies: call this from ONE place (the
        scheduled tick or the stream's cadence), never concurrently with
        itself.  Cost is O(ingest window) per table in tiered mode, so the
        cadence can be aggressive without rewriting the table."""
        from ..schemas import BRONZE_SCHEMAS

        snapshots = [
            s.target_table for s in self.pipelines if s.mode != "append"
        ]
        if tables is None:
            tables = list(BRONZE_SCHEMAS) + [
                s.target_table for s in self.pipelines
            ]
        out: dict[str, int] = {}
        for table in tables:
            if not self.wh.exists(table):
                continue
            if table not in snapshots:
                out[table] = self.wh.compact(table, mode=mode, now=now)
            self.wh.gc(table, min_age_sec=gc_min_age_sec)
            # DECLARED projections fold in the same cycle — CH updates
            # projections at part-merge time; ensure() is incremental
            # (only members the fold hasn't seen), so the cadence cost
            # is O(new parts), not O(table)
            ps = self.wh.projection_set_for(table)
            if ps is not None:
                ps.ensure()
                for spec in ps.specs:
                    self.wh.gc(
                        ps._proj_table(spec), min_age_sec=gc_min_age_sec
                    )
        return out

    def monitor_tick(
        self, start_ts: dt.datetime, end_ts: dt.datetime
    ) -> list[dict]:
        """Observe each bronze table over the tick's window and persist the
        reference's monitoring family (lag_metrics / volume_metrics /
        schema_drift / alerts — postgres/init/04_monitoring_tables.sql:11-46).
        One windowed agg job per table; drift compares the live schema to the
        declared bronze schema without reading data."""
        from ..quality.monitor import Monitor
        from ..schemas import BRONZE_SCHEMAS

        mon = Monitor(self.spark, self.wh.root)
        window_minutes = max(1, int((end_ts - start_ts).total_seconds() // 60))
        out = []
        for table in BRONZE_SCHEMAS:
            df = self.wh.read_window(table, start_ts, end_ts)
            expected = {
                f.name: f.dataType.simpleString()
                for f in self.wh.schema_for(table).fields
            }
            out.append(
                mon.observe(
                    table, df, ts_col="event_ts", expected_columns=expected,
                    window_minutes=window_minutes, now=end_ts,
                )
            )
        return out

    def _run_one(
        self, spec: PipelineSpec, start_ts, end_ts,
        cache: dict[str, DataFrame] | None = None,
        reads: dict[str, DataFrame] | None = None,
    ) -> dict:
        t0 = time.time()
        # row counts are tracked incrementally: the written delta is what
        # the write returns, never a rescan of the target — the
        # reference's rows-before/after logging (gold_pipeline.py:221-280)
        # without the full-table counts that would not survive 100 TB targets.
        table = spec.target_table
        if table not in self._row_counts:
            self._row_counts[table] = (
                self.wh.read(table).count() if self.wh.exists(table) else 0
            )
        rows_before = self._row_counts[table]
        out, mode = self._build(
            spec, start_ts, end_ts, cache=cache, reads=reads
        )
        if mode == "append":
            rows_after = rows_before + self.wh.append(table, out)
        else:
            rows_after = self.wh.overwrite(table, out)
        self._row_counts[table] = rows_after
        return {
            "pipeline_id": spec.pipeline_id,
            "target_table": spec.target_table,
            "start_ts": str(start_ts),
            "end_ts": str(end_ts),
            "rows_before": rows_before,
            "rows_after": rows_after,
            "rows_delta": rows_after - rows_before,
            "seconds": round(time.time() - t0, 3),
        }

    def _build(
        self, spec: PipelineSpec, start_ts, end_ts,
        cache: dict[str, DataFrame] | None = None,
        reads: dict[str, DataFrame] | None = None,
    ) -> tuple[DataFrame, str]:
        cache = cache or {}
        # ``cache`` holds the run's bronze windows, already narrowed to
        # [start_ts, end_ts)
        win = lambda t: (  # noqa: E731
            cache[t] if t in cache
            else _one_per_event(self.wh.read_window(t, start_ts, end_ts))
        )
        cur = lambda t: (self.wh.read(t) if self.wh.exists(t) else None)  # noqa: E731
        # run-scoped INPUT-dim read sharing (never used for cur(): a
        # pipeline's own pre-write target read must stay private)
        if reads is None:
            reads = {}

        def rd(t: str) -> DataFrame:
            # setdefault: rd() is called from the run's ThreadPoolExecutor
            # workers; the single dict op is atomic under the GIL, so two
            # racing readers at worst both build the read and one wins —
            # never a torn entry (r14, ADVICE: make the thread-safety
            # explicit so non-atomic state never lands here)
            got = reads.get(t)
            if got is None:
                got = reads.setdefault(t, self.wh.read(t))
            return got

        pid = spec.pipeline_id

        if pid == "dim_date":
            return dims.build_dim_date(
                win("suricata_events_raw"), win("wazuh_events_raw"),
                win("zeek_events_raw"), cur("dim_date"),
            ), "append"
        if pid == "dim_time":
            return dims.build_dim_time(
                win("suricata_events_raw"), win("wazuh_events_raw"),
                win("zeek_events_raw"), cur("dim_time"),
            ), "append"
        if pid == "dim_event":
            return dims.build_dim_event(
                win("wazuh_events_raw"), win("zeek_events_raw"), cur("dim_event")
            ), "append"
        if pid == "dim_sensor":
            return dims.build_dim_sensor(
                win("suricata_events_raw"), win("zeek_events_raw"), cur("dim_sensor")
            ), "append"
        if pid == "dim_protocol":
            return dims.build_dim_protocol(
                win("suricata_events_raw"), win("zeek_events_raw"), cur("dim_protocol")
            ), "append"
        if pid == "dim_signature":
            return dims.build_dim_signature(
                win("suricata_events_raw"), cur("dim_signature")
            ), "append"
        if pid == "dim_tag":
            return dims.build_dim_tag(
                win("suricata_events_raw"), win("wazuh_events_raw"),
                win("zeek_events_raw"), cur("dim_tag"),
            ), "append"
        if pid == "dim_agent_scd2":
            return dims.build_dim_agent(win("wazuh_events_raw"), cur("dim_agent")), "snapshot"
        if pid == "dim_host_scd2":
            return dims.build_dim_host(win("wazuh_events_raw"), cur("dim_host")), "snapshot"
        if pid == "dim_rule_scd2":
            return dims.build_dim_rule(win("wazuh_events_raw"), cur("dim_rule")), "snapshot"
        if pid == "fact_wazuh_events":
            return facts.build_fact_wazuh(
                win("wazuh_events_raw"), rd("dim_agent"),
                rd("dim_host"), rd("dim_rule"),
                rd("dim_event"), cur("fact_wazuh_events"),
            ), "append"
        if pid == "fact_suricata_events":
            return facts.build_fact_suricata(
                win("suricata_events_raw"), rd("dim_sensor"),
                rd("dim_signature"), rd("dim_protocol"),
                cur("fact_suricata_events"),
            ), "append"
        if pid == "fact_zeek_events":
            return facts.build_fact_zeek(
                win("zeek_events_raw"), rd("dim_sensor"),
                rd("dim_protocol"), rd("dim_event"),
                cur("fact_zeek_events"),
            ), "append"
        if pid == "bridge_wazuh_event_tag":
            return bridges.build_bridge_event_tag(
                win("wazuh_events_raw"), rd("dim_tag"),
                cur("bridge_wazuh_event_tag"),
            ), "append"
        if pid == "bridge_suricata_event_tag":
            return bridges.build_bridge_event_tag(
                win("suricata_events_raw"), rd("dim_tag"),
                cur("bridge_suricata_event_tag"),
            ), "append"
        if pid == "bridge_zeek_event_tag":
            return bridges.build_bridge_event_tag(
                win("zeek_events_raw"), rd("dim_tag"),
                cur("bridge_zeek_event_tag"),
            ), "append"
        raise ValueError(f"unknown pipeline {pid}")
