"""``mutation_mix``: lightweight writes beside overlay reads on one
``Warehouse`` table.

The table is seeded with the fixture's ``events`` rows; later rows of the
same table arrive as appends.  Each round, one closed-loop client runs an
``append``, a ``delete_where_lightweight`` and an ``update_where_lightweight``,
each followed by an overlay read (aggregate by ``event_type``); the seed
orders the rows and draws the mutations' predicates.  Every second round ends
with ``compact`` + ``gc_deletes`` as background work, followed by one plain
read (no overlay files left).  This is the member-scan + deletion-vector + patch
path: read cost, write cost and space trade against each other, so all three
are reported.  A pandas model applies the same deletes and updates; every
read is checked against it after the run.
"""

from __future__ import annotations

import builtins
import contextlib
import os
import time

import numpy as np

from checks import check_group_answers
from common import FIXTURE, median
from gen import fixture_events

TABLE = "events"
SEED_BATCHES, SEED_ROWS, APPEND_ROWS = 1, 10000, 1000
MAINTENANCE_EVERY = 2
WARM_CYCLES = 1
#: one round, in order: each read sees one more overlay than the last
OPS = ("append", "read", "delete", "read", "update", "read")

#: (SQL predicate template, pandas mask, parameter draw); each matches about
#: 1 % of the rows, so the seed changes which rows a mutation touches, not
#: how many
PREDICATES = [
    ("event_id % 97 = {k}", lambda d, k: d.event_id % 97 == k,
     lambda r: int(r.integers(97))),
    ("user_id % 101 = {k}", lambda d, k: d.user_id % 101 == k,
     lambda r: int(r.integers(101))),
    ("event_type = 'error' AND user_id % 20 = {k}",
     lambda d, k: (d.event_type == "error") & (d.user_id % 20 == k),
     lambda r: int(r.integers(20))),
    ("value > {k}", lambda d, k: d.value > k,
     lambda r: int(r.integers(225, 236))),
]
#: (assignments, pandas update of ``value``, parameter draw)
UPDATES = [
    ({"value": "value + {k}"}, lambda v, k: v + k,
     lambda r: float(r.integers(1, 40)) / 4),
    ({"value": "value * 2"}, lambda v, k: v * 2, lambda r: 0),
]

WAREHOUSE_CALLS = ("append", "delete_where_lightweight",
                   "update_where_lightweight")


def per_layer_names() -> list[str]:
    names = [f"warehouse.read.{c}" for c in (
        "wall_s", "build_s", "exec_s", "driver_s", "executor_s", "jobs",
        "tasks", "meta_opens", "read_amp")]
    names += [f"warehouse.{w}.{c}" for w in WAREHOUSE_CALLS
              for c in ("wall_s", "driver_s", "executor_s", "jobs")]
    names += ["warehouse.compact.wall_s", "warehouse.compact.bytes_rewritten_mb",
              "warehouse.compact.overlay_files", "warehouse.gc_deletes.wall_s",
              "warehouse.space_amp", "warehouse.data_files",
              "mutation.round_s", "mutation.read_ms", "mutation.write_ms"]
    return names


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def data_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


@contextlib.contextmanager
def count_opens(counter: list[int]):
    """Count Python-side ``open`` calls (metadata sidecars, manifests)."""
    real = builtins.open

    def counting(*a, **kw):
        counter[0] += 1
        return real(*a, **kw)

    builtins.open = counting
    try:
        yield
    finally:
        builtins.open = real


class MutationMix:
    #: span names whose child coverage the traced run reports
    UNITS = ("op.", "round")

    def __init__(self, spark, tracer, seed: int, work: str):
        from dev_clickhouse_spark.plans.warehouse import Warehouse

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.root = os.path.join(work, "warehouse")
        self.wh = Warehouse(spark, self.root)
        self.model = None  # pandas frame of the live rows
        self.next_row = 0
        self.batch = 0
        self.ops: list[dict] = []
        self.reads: list[tuple[dict, dict]] = []  # (answer, model answer)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- inputs ------------------------------------------------------------

    def _rows(self, n: int):
        """The next ``n`` fixture rows not yet written."""
        if self.next_row + n > len(self.source):
            raise RuntimeError("the fixture's events rows are used up")
        pdf = self.source.iloc[self.next_row:self.next_row + n].reset_index(
            drop=True)
        self.next_row += n
        return pdf

    def generate(self) -> float:
        """Read and order the fixture rows (timed for setup_s)."""
        t = time.perf_counter()
        self.source = fixture_events(self.seed,
                                     os.path.join(FIXTURE, "events.parquet"))
        self.next_row = 0
        self._seed_frames = [self._rows(SEED_ROWS) for _ in range(SEED_BATCHES)]
        return time.perf_counter() - t

    def prepare(self) -> None:
        """Seed the table in batches; the model starts from the same rows."""
        import pandas as pd

        for pdf in self._seed_frames:
            self._append(pdf)
        self.model = pd.concat(self._seed_frames, ignore_index=True)

    # -- operations --------------------------------------------------------

    def _op(self, kind: str, fn) -> dict:
        rec = {"op": kind}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}") as sp:
                rec.update(fn() or {})
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            rec["ok"] = False
        else:
            rec["ok"] = True
            rec["span_id"] = sp.id
        rec["wall_s"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec

    def _call(self, name: str, fn) -> dict:
        """One warehouse call in its own span: the op record's call fields."""
        with self.tracer.span(f"warehouse.{name}") as sp:
            fn()
        return {"call_wall_s": sp.wall_s, "call_span": sp.id}

    def _append(self, pdf) -> dict:
        def run():
            with self.tracer.span("input.createDataFrame"):
                df = self.spark.createDataFrame(pdf)
            return self._call("append", lambda: self.wh.append(
                TABLE, df, batch_id=self.batch))

        self.batch += 1
        return self._op("append", run)

    def _delete(self) -> dict:
        sql, mask, draw = PREDICATES[int(self.rng.integers(len(PREDICATES)))]
        k = draw(self.rng)
        rec = self._op("delete", lambda: self._call(
            "delete_where_lightweight",
            lambda: self.wh.delete_where_lightweight(TABLE, sql.format(k=k))))
        if rec["ok"]:
            self.model = self.model[~mask(self.model, k)]
        return rec

    def _update(self) -> dict:
        sql, mask, draw = PREDICATES[int(self.rng.integers(len(PREDICATES)))]
        k = draw(self.rng)
        assign, upd, udraw = UPDATES[int(self.rng.integers(len(UPDATES)))]
        u = udraw(self.rng)
        sets = {c: e.format(k=u) for c, e in assign.items()}
        rec = self._op("update", lambda: self._call(
            "update_where_lightweight",
            lambda: self.wh.update_where_lightweight(TABLE, sets, sql.format(k=k))))
        if rec["ok"]:
            m = mask(self.model, k)
            self.model = self.model.copy()
            self.model.loc[m, "value"] = upd(self.model.loc[m, "value"], u)
        return rec

    def _read(self) -> dict:
        from pyspark.sql import functions as F

        overlays = len(self.wh.overlay_files(TABLE))
        opens = [0]

        def run():
            with self.tracer.span("warehouse.read") as sp:
                t0 = time.perf_counter()
                with count_opens(opens) if self.tracer.enabled else \
                        contextlib.nullcontext():
                    df = self.wh.read(TABLE).groupBy("event_type").agg(
                        F.count(F.lit(1)).alias("cnt"),
                        F.sum("value").alias("s"))
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            self._last = {r["event_type"]: (r["cnt"], r["s"]) for r in rows}
            return {"build_s": t1 - t0, "exec_s": t2 - t1, "overlays": overlays,
                    "meta_opens": opens[0], "call_span": sp.id}

        rec = self._op("read", run)
        if rec["ok"]:
            g = self.model.groupby("event_type")["value"]
            want = {t: (int(n), float(s)) for t, n, s in
                    zip(g.size().index, g.size().values, g.sum().values)}
            self.reads.append((self._last, want))
        return rec

    def _maintenance(self) -> None:
        """``compact`` + ``gc_deletes``; the table's size is taken just
        before (deepest overlays) and after, outside the operation."""
        before, files = dir_bytes(self.root), data_files(self.root)
        overlays = len(self.wh.overlay_files(TABLE))

        def compact():
            c = self._call("compact", lambda: self.wh.compact(TABLE))
            g = self._call("gc_deletes", lambda: self.wh.gc_deletes(TABLE))
            return {**c, "gc_wall_s": g["call_wall_s"]}

        rec = self._op("compact", compact)
        rec.update(overlay_files=overlays, bytes_before=before,
                   files_before=files, bytes_after=dir_bytes(self.root),
                   bytes_rewritten=data_bytes(self.root))
        self._read()

    def warm_up(self) -> None:
        """Whole cycles, so every operation's code path has run and the JIT
        has settled before the timed ones."""
        for _ in range(WARM_CYCLES):
            self.one_cycle()

    def one_round(self, index: int) -> None:
        with self.tracer.span("round"):
            for kind in OPS:
                if kind == "append":
                    pdf = self._rows(APPEND_ROWS)
                    if self._append(pdf)["ok"]:
                        import pandas as pd

                        self.model = pd.concat([self.model, pdf],
                                               ignore_index=True)
                else:
                    getattr(self, f"_{kind}")()
            if (index + 1) % MAINTENANCE_EVERY == 0:
                self._maintenance()

    def one_cycle(self) -> None:
        """Rounds up to and including a compaction.  Timed work runs whole
        cycles, so every run sees the same mix of overlay depths."""
        for i in range(MAINTENANCE_EVERY):
            self.one_round(i)

    def start_timing(self) -> None:
        """Operations from here on are the timed ones."""
        self.timed_from = len(self.ops)

    # -- metrics -----------------------------------------------------------

    def _timed(self, kind: str) -> list[dict]:
        return [o for o in self.ops[self.timed_from:]
                if o["op"] == kind and o["ok"]]

    def mean_ms(self, kinds: tuple[str, ...]) -> float:
        """Mean latency of the timed operations of ``kinds``.  The timed
        loop runs whole cycles, so every run averages the same mix of
        operation kinds and overlay depths; a median across that mix would
        jump between kinds."""
        lat = [o["wall_s"] for k in kinds for o in self._timed(k)]
        return sum(lat) / max(len(lat), 1) * 1000

    def round_s(self) -> float:
        """One round priced at each operation's median: the ops of ``OPS``
        plus its share of a compaction and its plain read, so the overlay
        depth a run happens to end at does not move it."""
        med = {k: median([o["wall_s"] for o in self._timed(k)])
               for k in ("append", "delete", "update", "read", "compact")}
        plain = median([o["wall_s"] for o in self._timed("read")
                        if not o["overlays"]])
        return (sum(med[k] for k in OPS)
                + (med["compact"] + plain) / MAINTENANCE_EVERY)

    def check(self) -> list[str]:
        return check_group_answers(self.reads)

    def extra(self) -> dict:
        return {}

    def per_layer(self) -> dict:
        """Medians over the timed operations; job counters come from the
        resolved spans of a traced run (zero when untraced)."""
        for o in self.ops:
            if "call_span" in o:
                o.update(self.tracer.spans[o["call_span"]].counters)
        reads = self._timed("read")
        overlay = [o["wall_s"] for o in reads if o["overlays"]]
        plain = [o["wall_s"] for o in reads if not o["overlays"]]
        m = {
            "warehouse.read.wall_s": median([o["wall_s"] for o in reads]),
            "warehouse.read.read_amp": (median(overlay) / median(plain)
                                        if overlay and plain else 0.0),
        }
        for c in ("build_s", "exec_s", "driver_s", "executor_s", "jobs",
                  "tasks", "meta_opens"):
            m[f"warehouse.read.{c}"] = median([o.get(c, 0) for o in reads])
        for kind, call in zip(("append", "delete", "update"), WAREHOUSE_CALLS):
            ops = self._timed(kind)
            m[f"warehouse.{call}.wall_s"] = median([o["call_wall_s"] for o in ops])
            for c in ("driver_s", "executor_s", "jobs"):
                m[f"warehouse.{call}.{c}"] = median([o.get(c, 0) for o in ops])
        comp = self._timed("compact")
        m["warehouse.compact.wall_s"] = median([o["call_wall_s"] for o in comp])
        m["warehouse.compact.bytes_rewritten_mb"] = median(
            [o["bytes_rewritten"] / 1e6 for o in comp])
        m["warehouse.compact.overlay_files"] = median(
            [o["overlay_files"] for o in comp])
        m["warehouse.gc_deletes.wall_s"] = median([o["gc_wall_s"] for o in comp])
        # bytes on disk at the deepest overlays over bytes of the same live
        # rows once compacted
        m["warehouse.space_amp"] = median(
            [o["bytes_before"] / o["bytes_after"] for o in comp])
        m["warehouse.data_files"] = median([o["files_before"] for o in comp])
        m["mutation.round_s"] = self.round_s()
        m["mutation.read_ms"] = self.mean_ms(("read",))
        m["mutation.write_ms"] = self.mean_ms(("append", "delete", "update"))
        return m
