"""ClickHouse table PROJECTIONS, Spark-first.

ClickHouse lets a MergeTree table carry *projections* — pre-aggregated
(or re-sorted) copies declared with ``ALTER TABLE t ADD PROJECTION p
(SELECT dims, agg(x) GROUP BY dims)`` — that are maintained with the
part lifecycle (built at INSERT, rewritten by merges) and selected
AUTOMATICALLY at query time whenever the query's GROUP BY is a subset
of the projection's dims and its aggregates are derivable.  The
reference runs stock ClickHouse 24.3 (reference docker-compose.yml:22),
so projections are engine-identity surface; its daily full
INSERT..SELECT gold refreshes (reference airflow/dags/sql/*.sql) are
exactly the rescans projections exist to kill at 100 TB.

Spark-first translation on the manifest Warehouse:

- a projection is a derived batch-append table ``<base>__proj__<name>``
  holding MERGEABLE partial-state rows, one row per dims-combination
  per fold (the AggregatingMergeTree ``-State`` shape, same states as
  queries/state_rollup.py: counts, exact quantized power sums, min/max,
  HLL sketches);
- maintenance is manifest-driven and INCREMENTAL: a sidecar under the
  base table records which manifest members each fold batch covers;
  ``ensure()`` aggregates only the members appended since the last fold
  (the ClickHouse insert-time projection-part build), one fold batch per
  member.  BOTH invalidation triggers are member-scoped (round 10): a
  membership REWRITE (compaction / mutation / TTL / DROP PARTITION)
  drops exactly the fold batches whose members left the manifest and
  folds their replacements — ClickHouse merges rewrite the projection
  parts OF THE MERGED PARTS, and this is that analog, so a tiered
  compaction refolds one generation, not the table; a lightweight
  DELETE/UPDATE drops exactly the fold batches whose members the new
  DV/patch entries address (overlays key (file, position); a file
  belongs to one member) — at 100 TB a one-row delete re-folds one
  member.  The wholesale rebuild survives only for legacy sidecars and
  a compacted projection table;
- selection is automatic: ``answer()`` takes the query's group keys and
  metrics, picks the first fresh projection whose dims cover the keys
  and whose states derive every metric, and re-aggregates the partial
  rows (``-Merge``); otherwise it falls back to the base scan with an
  identical plan shape, so callers never branch.

At scale the arithmetic is the whole point: a projection keyed by
(day, type) holds days x types state rows.  Answering a GROUP BY type
over a year scans ~10^4 state rows instead of re-scanning 100 TB of
raw history, and each incremental fold shuffles only the new batch,
map-side-combined on the projection dims.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..functions.ch_compat import round_half_up as _rnd
from .warehouse import Warehouse, batch_member, member_kind

#: measure kinds -> state columns they materialize (suffix -> builder).
#: "moments" quantizes to integer cents (DECIMAL sums are exact and
#: order-independent, so partial folds merge bit-identically and the
#: DuckDB oracle can reproduce them — the stats_moments convention).
_MEASURE_KINDS = ("count", "sum", "min", "max", "moments", "uniq")

_CENTS = 100


@dataclass(frozen=True)
class Measure:
    kind: str  # one of _MEASURE_KINDS
    col: str | None = None  # None only for kind="count"

    def __post_init__(self):
        if self.kind not in _MEASURE_KINDS:
            raise ValueError(f"unknown measure kind {self.kind!r}")
        if (self.col is None) != (self.kind == "count"):
            raise ValueError(f"measure {self.kind!r}: col mismatch")


@dataclass(frozen=True)
class ProjectionSpec:
    """Declaration: GROUP BY ``dims``, keep states for ``measures``."""

    name: str
    dims: tuple[str, ...]
    measures: tuple[Measure, ...]

    def state_exprs(self) -> list:
        out = []
        for m in self.measures:
            p = _state_prefix(m)
            if m.kind == "count":
                out.append(F.count(F.lit(1)).alias(f"{p}__cnt"))
            elif m.kind == "sum":
                out.append(
                    F.sum(F.col(m.col).cast("decimal(27,4)")).alias(f"{p}__sum")
                )
            elif m.kind == "min":
                out.append(F.min(m.col).alias(f"{p}__min"))
            elif m.kind == "max":
                out.append(F.max(m.col).alias(f"{p}__max"))
            elif m.kind == "moments":
                q = F.floor(F.col(m.col) * _CENTS + F.lit(0.5)).cast("long")
                out.extend(
                    [
                        F.count(m.col).alias(f"{p}__n"),
                        F.sum(q).alias(f"{p}__sx"),
                        F.sum(q * q).alias(f"{p}__sxx"),
                    ]
                )
            elif m.kind == "uniq":
                out.append(F.hll_sketch_agg(m.col).alias(f"{p}__hll"))
        return out


def _state_prefix(m: Measure) -> str:
    return f"{m.kind}__{m.col or 'rows'}"


#: query-time metric kinds and the measure kinds that can serve them.
_DERIVABLE = {
    "count": {"count"},
    "sum": {"sum"},
    "min": {"min"},
    "max": {"max"},
    "avg": {"moments"},
    "var_samp": {"moments"},
    "stddev_samp": {"moments"},
    "uniq_approx": {"uniq"},
}


@dataclass(frozen=True)
class Metric:
    """A requested output column: ``kind(col) AS alias``."""

    kind: str
    col: str | None
    alias: str
    scale: int = 2  # round doubles to this many dp (parity convention)


@dataclass
class ProjectionReport:
    used: str | None = None  # projection name, or None = base scan
    folded_now: int = 0  # members folded by the ensure() this answer ran
    rebuilt: bool = False  # full conservative rebuild (membership rewrite)
    refolded: int = 0  # members re-folded by member-scoped invalidation


def _plan_folds(
    wh: Warehouse,
    proj_table: str,
    side: dict | None,
    live: list[str],
    overlays: list[dict],
) -> tuple[list[dict], int, bool, int]:
    """Shared fold-planning for aggregate and sort projections — both
    maintenance triggers are MEMBER-SCOPED:

    - membership rewrite (compaction / mutation / TTL / DROP PARTITION):
      drop exactly the fold batches whose members left the manifest; the
      replacement members fold as new.  A tiered compaction therefore
      refolds only the generation it minted — ClickHouse merges rewrite
      the projection parts OF THE MERGED PARTS, and this is that: before
      round 10 EVERY compaction wholesale-rebuilt every projection.
    - lightweight DELETE/UPDATE: drop exactly the fold batches whose
      members the new DV/patch entries of the base manifest
      (``overlays``) address — a one-row delete re-folds one member, not
      the table.  Manifest metadata only, no Spark job.

    Overlay entries that VANISH (gc after a merge materialized them) are
    pruned from the seen set: within the API lifecycle an overlay is only
    collected when every member it referenced was rewritten, and those
    members' fold batches are dropped by the membership rule above.

    The full rebuild survives only for a legacy (pre-r10) sidecar and for
    a compacted projection table (the fold↔member map lives in the proj
    manifest's batch members).  Returns (folds, fold_seq, rebuilt,
    refolded_members, changed); ``rebuilt`` means the caller must rmtree
    the projection table before folding; ``changed`` means fold batches
    were dropped and the sidecar must persist even with nothing new to
    fold."""
    if side is None:
        return [], 0, False, 0, False
    folds = side.get("folds")
    seen = side.get("overlay_files")
    fold_seq = side.get("fold_seq", 0)
    if folds is None or seen is None:
        # legacy sidecar: one-time migration rebuild
        return [], 0, True, 0, True
    if any(
        member_kind(m) != "batch"
        for m in wh.load_manifest(proj_table)["members"]
    ):
        return [], 0, True, 0, True
    live_set = set(live)
    folded = {m for f in folds for m in f["members"]}
    removed = folded - live_set
    if removed:
        for f in list(folds):
            if set(f["members"]) & removed:
                wh.drop_member(proj_table, batch_member(f["seq"]))
                folds.remove(f)
        folded = {m for f in folds for m in f["members"]}
    seen = set(seen)
    affected = folded & {
        m for e in overlays if e["name"] not in seen for m in e["members"]
    }
    refolded = 0
    for f in list(folds):
        if set(f["members"]) & affected:
            wh.drop_member(proj_table, batch_member(f["seq"]))
            folds.remove(f)
            refolded += len(f["members"])
    return folds, fold_seq, False, refolded, bool(removed) or refolded > 0


class ProjectionSet:
    """Projections attached to one base table of a Warehouse."""

    def __init__(self, wh: Warehouse, base: str, specs: list[ProjectionSpec]):
        names = [s.name for s in specs]
        if len(set(names)) != len(names):
            raise ValueError("duplicate projection names")
        self.wh = wh
        self.base = base
        self.specs = list(specs)

    # -- storage ----------------------------------------------------------

    def _proj_table(self, spec: ProjectionSpec) -> str:
        return f"{self.base}__proj__{spec.name}"

    def _sidecar_path(self, spec: ProjectionSpec) -> str:
        return os.path.join(
            self.wh.path(self.base), "_projections", f"{spec.name}.json"
        )

    def _load_sidecar(self, spec: ProjectionSpec) -> dict | None:
        try:
            with open(self._sidecar_path(spec)) as fh:
                return json.load(fh)
        except OSError:
            return None

    def _save_sidecar(self, spec: ProjectionSpec, state: dict) -> None:
        p = self._sidecar_path(spec)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh, indent=1)
        os.replace(tmp, p)  # atomic: readers see old or new, never partial

    # -- maintenance --------------------------------------------------------

    def ensure(self, spec_name: str | None = None) -> ProjectionReport:
        """Bring projections in sync with the base manifest.

        New members since the last fold are aggregated and APPENDED as
        partial-state rows (insert-time projection build); a membership
        rewrite (compaction/mutation/TTL changed or removed a folded
        member) rebuilds from the current live set.  A lightweight
        DELETE/UPDATE invalidates MEMBER-SCOPED: only the fold batches
        whose members the new overlay entries address are dropped and
        re-folded through the masked read — a one-row delete in an
        N-member table re-folds one member, not N (the r9 wholesale
        rebuild was a full-table re-aggregation per projection at
        100 TB)."""
        rep = ProjectionReport()
        man = self.wh.load_manifest(self.base)
        live = man["members"]
        overlay_now = sorted(e["name"] for e in man["overlays"])
        for spec in self.specs:
            if spec_name is not None and spec.name != spec_name:
                continue
            side = self._load_sidecar(spec)
            folds, fold_seq, rebuilt, refolded, changed = _plan_folds(
                self.wh, self._proj_table(spec), side, live, man["overlays"],
            )
            if rebuilt:
                shutil.rmtree(
                    self.wh.path(self._proj_table(spec)), ignore_errors=True
                )
                rep.rebuilt = True
            rep.refolded += refolded
            folded = {m for f in folds for m in f["members"]}
            new = [m for m in live if m not in folded]
            # one fold batch PER member: invalidation granularity stays
            # exactly one member even after a bulk first build, and a
            # crashed multi-member fold resumes at the ledger (members
            # fold in stable manifest order, so retried seqs line up)
            for m in new:
                df = self.wh._read_members(
                    self.base, [m], overlays=man["overlays"]
                )
                states = df.groupBy(*spec.dims).agg(*spec.state_exprs())
                self.wh.append(
                    self._proj_table(spec), states, batch_id=fold_seq
                )
                folds = folds + [{"seq": fold_seq, "members": [m]}]
                fold_seq += 1
                rep.folded_now += 1
            if new or side is None or changed or rebuilt or (
                side.get("overlay_files") != overlay_now
            ):
                self._save_sidecar(
                    spec,
                    {
                        "dims": list(spec.dims),
                        "folds": folds,
                        "fold_seq": fold_seq,
                        "overlay_files": overlay_now,
                    },
                )
        return rep

    # -- selection + merge --------------------------------------------------

    def _pick(
        self, group_cols: list[str], metrics: list[Metric]
    ) -> ProjectionSpec | None:
        for spec in self.specs:
            if not set(group_cols) <= set(spec.dims):
                continue
            have = {(m.kind, m.col) for m in spec.measures}
            ok = True
            for met in metrics:
                kinds = _DERIVABLE.get(met.kind)
                if kinds is None:
                    raise ValueError(f"unknown metric kind {met.kind!r}")
                src = None if met.kind == "count" else met.col
                if not any((k, src) in have for k in kinds):
                    ok = False
                    break
            if ok:
                return spec
        return None

    def _merge(
        self, spec: ProjectionSpec, group_cols: list[str], metrics: list[Metric]
    ) -> DataFrame:
        """-Merge over the partial-state rows: states of the SAME dims
        combination from different folds collapse by sum/min/max/union,
        then derived metrics come off the merged states."""
        states = self.wh.read(self._proj_table(spec))
        by_measure: dict[tuple[str, str | None], Measure] = {
            (m.kind, m.col): m for m in spec.measures
        }
        aggs, derive = [], []
        for met in metrics:
            src = None if met.kind == "count" else met.col
            kind = next(k for k in _DERIVABLE[met.kind] if (k, src) in by_measure)
            p = _state_prefix(by_measure[(kind, src)])
            if met.kind == "count":
                aggs.append(F.sum(f"{p}__cnt").alias(met.alias))
            elif met.kind == "sum":
                aggs.append(F.sum(f"{p}__sum").alias(f"{met.alias}__raw"))
                derive.append(
                    (
                        met.alias,
                        _rnd(F.col(f"{met.alias}__raw").cast("double"), met.scale),
                    )
                )
            elif met.kind == "min":
                aggs.append(F.min(f"{p}__min").alias(met.alias))
            elif met.kind == "max":
                aggs.append(F.max(f"{p}__max").alias(met.alias))
            elif met.kind in ("avg", "var_samp", "stddev_samp"):
                for suf in ("n", "sx", "sxx"):
                    a = F.sum(f"{p}__{suf}").alias(f"{met.alias}__{suf}")
                    aggs.append(a)
                n = F.col(f"{met.alias}__n").cast("double")
                sx = F.col(f"{met.alias}__sx").cast("double")
                sxx = F.col(f"{met.alias}__sxx").cast("double")
                if met.kind == "avg":
                    e = sx / n / _CENTS
                elif met.kind == "var_samp":
                    e = (sxx - sx * sx / n) / (n - F.lit(1.0)) / (_CENTS * _CENTS)
                else:
                    e = F.sqrt(
                        (sxx - sx * sx / n) / (n - F.lit(1.0))
                    ) / F.lit(float(_CENTS))
                derive.append((met.alias, _rnd(e, met.scale)))
            elif met.kind == "uniq_approx":
                aggs.append(
                    F.hll_sketch_estimate(F.hll_union_agg(f"{p}__hll")).alias(
                        met.alias
                    )
                )
        out = states.groupBy(*group_cols).agg(*aggs)
        for alias, expr in derive:
            out = out.withColumn(alias, expr)
        return out.select(*group_cols, *[m.alias for m in metrics])

    def _base_scan(self, group_cols: list[str], metrics: list[Metric]) -> DataFrame:
        """Fallback with identical semantics straight off the base table."""
        df = self.wh.read(self.base)
        aggs = []
        for met in metrics:
            if met.kind == "count":
                aggs.append(F.count(F.lit(1)).alias(met.alias))
            elif met.kind == "sum":
                aggs.append(
                    _rnd(
                        F.sum(F.col(met.col).cast("decimal(27,4)")).cast("double"),
                        met.scale,
                    ).alias(met.alias)
                )
            elif met.kind == "min":
                aggs.append(F.min(met.col).alias(met.alias))
            elif met.kind == "max":
                aggs.append(F.max(met.col).alias(met.alias))
            elif met.kind in ("avg", "var_samp", "stddev_samp"):
                # same quantized power-sum arithmetic as the projection
                # path, so fallback vs projection answers are bit-identical
                q = F.floor(F.col(met.col) * _CENTS + F.lit(0.5)).cast("long")
                n = F.count(met.col).cast("double")
                sx = F.sum(q).cast("double")
                sxx = F.sum(q * q).cast("double")
                if met.kind == "avg":
                    e = sx / n / _CENTS
                elif met.kind == "var_samp":
                    e = (sxx - sx * sx / n) / (n - F.lit(1.0)) / (_CENTS * _CENTS)
                else:
                    e = F.sqrt(
                        (sxx - sx * sx / n) / (n - F.lit(1.0))
                    ) / F.lit(float(_CENTS))
                aggs.append(_rnd(e, met.scale).alias(met.alias))
            elif met.kind == "uniq_approx":
                aggs.append(
                    F.hll_sketch_estimate(F.hll_sketch_agg(met.col)).alias(
                        met.alias
                    )
                )
        return df.groupBy(*group_cols).agg(*aggs)

    def answer(
        self,
        group_cols: list[str],
        metrics: list[Metric],
        require_projection: bool = False,
    ) -> tuple[DataFrame, ProjectionReport]:
        """The automatic-selection entrypoint: sync, pick, merge — or fall
        back to the base scan when no projection covers the request."""
        spec = self._pick(group_cols, metrics)
        if spec is None:
            if require_projection:
                raise LookupError(
                    f"no projection on {self.base!r} covers "
                    f"GROUP BY {group_cols} / {[m.kind for m in metrics]}"
                )
            return self._base_scan(group_cols, metrics), ProjectionReport()
        rep = self.ensure(spec.name)
        rep.used = spec.name
        return self._merge(spec, group_cols, metrics), rep


class SortProjection:
    """The second ClickHouse projection kind: a re-SORTED copy of the
    base table (``ADD PROJECTION p (SELECT * ORDER BY other_key)``),
    selected when a query filters on a key the base ordering can't
    prune.

    Spark-first: each fold range-partitions the NEW base members on the
    sort key and writes them sorted, then the engine's skip index
    (plans/skip_index.py) puts per-file minmax sidecars on the sorted
    files — so a point/range predicate on the sort key prunes to the
    few files whose range overlaps, per fold.  Maintenance follows the
    aggregate-projection fold model (incremental per member, rebuild on
    membership rewrite); the fold shuffle is one range exchange of the
    new batch only, never of the table."""

    def __init__(
        self,
        wh: Warehouse,
        base: str,
        name: str,
        sort_cols: tuple[str, ...],
        files_per_fold: int = 8,
    ):
        from .skip_index import SkipIndex

        self.wh = wh
        self.base = base
        self.name = name
        self.sort_cols = tuple(sort_cols)
        self.files_per_fold = files_per_fold
        self._table = f"{base}__proj__{name}"
        self._idx = SkipIndex(wh, self._table, minmax_cols=self.sort_cols)

    def _sidecar_path(self) -> str:
        return os.path.join(
            self.wh.path(self.base), "_projections", f"{self.name}.sort.json"
        )

    def ensure(self) -> ProjectionReport:
        rep = ProjectionReport()
        man = self.wh.load_manifest(self.base)
        live = man["members"]
        try:
            with open(self._sidecar_path()) as fh:
                side = json.load(fh)
        except OSError:
            side = None
        overlay_now = sorted(e["name"] for e in man["overlays"])
        folds, fold_seq, rebuilt, refolded, changed = _plan_folds(
            self.wh, self._table, side, live, man["overlays"],
        )
        if rebuilt:
            shutil.rmtree(self.wh.path(self._table), ignore_errors=True)
            rep.rebuilt = True
        rep.refolded = refolded
        folded = {m for f in folds for m in f["members"]}
        new = [m for m in live if m not in folded]
        for m in new:  # one fold batch per member (see ProjectionSet)
            df = self.wh._read_members(self.base, [m], overlays=man["overlays"])
            out = df.repartitionByRange(
                self.files_per_fold, *self.sort_cols
            ).sortWithinPartitions(*self.sort_cols)
            self.wh.append(self._table, out, batch_id=fold_seq)
            folds = folds + [{"seq": fold_seq, "members": [m]}]
            fold_seq += 1
            rep.folded_now += 1
        if new or side is None or changed or rebuilt or (
            side.get("overlay_files") != overlay_now
        ):
            p = self._sidecar_path()
            os.makedirs(os.path.dirname(p), exist_ok=True)
            tmp = p + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "sort_cols": list(self.sort_cols),
                        "folds": folds,
                        "fold_seq": fold_seq,
                        "overlay_files": overlay_now,
                    },
                    fh,
                    indent=1,
                )
            os.replace(tmp, p)
        self._idx.ensure()
        return rep

    def scan(
        self, predicates: list[tuple], require_projection: bool = False
    ) -> tuple[DataFrame, ProjectionReport]:
        """Pruned scan through the sorted copy when a predicate touches
        the sort key; otherwise the base table with the same residual
        filter (identical rows either way)."""
        pred_cols = {p[1] for p in predicates if p[0] in ("between", "eq")}
        if pred_cols & set(self.sort_cols):
            rep = self.ensure()
            rep.used = self.name
            df = self._idx.read(predicates)
            self.last_stats = self._idx.last_stats
            return df, rep
        if require_projection:
            raise LookupError(
                f"no predicate on sort key {self.sort_cols} of "
                f"projection {self.name!r}"
            )
        base = self.wh.read(self.base)
        return base.filter(self._idx._residual(predicates, base)), (
            ProjectionReport()
        )
