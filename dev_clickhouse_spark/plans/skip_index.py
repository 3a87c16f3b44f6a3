"""Data-skipping indexes over warehouse tables.

ClickHouse ships file-skipping as a first-class MergeTree feature —
``INDEX … TYPE minmax`` and the token bloom ``TYPE tokenbf_v1`` (stock
ClickHouse DDL; the reference's tables are ordinary MergeTree tables, so
every one of them can carry these, reference clickhouse/init/
01_schema.sql).  Spark's parquet reader already skips ROW GROUPS via
footer statistics, but at 100 TB the cost that matters comes earlier:
listing and opening tens of thousands of files to discover their footers.
The lake-format answer (Iceberg/Delta) is file-level column statistics in
the table's own metadata, consulted on the driver BEFORE any file is
opened — this module is that answer for plans/warehouse.py's tables
(every one of them is a manifest of member directories).

Design:

- Stats are per-FILE, grouped per-member, in sidecar JSON under
  ``<table>/_skipidx/``.  One Spark job per member computes them
  (``input_file_name()`` group-by — min/max/null-count per indexed
  column, plus an m-bit/k-hash token bloom over one string column,
  OR-folded JVM-side as distinct bit positions).  Sidecars are keyed by
  member name; every write, compaction and mutation mints a NEW member
  name (``member=<kind>-<id>``), so a rewritten member's stale sidecar
  simply stops matching and ``ensure()`` builds the fresh one — no hook
  into the write path, no coordination with the manifest lock.
- Pruning is CONSERVATIVE: a file is dropped only when the predicate is
  provably disjoint from it (range outside [min,max]; a bloom bit absent
  → token guaranteed absent).  The residual predicate is ALWAYS applied
  to the surviving scan, so a missing/stale sidecar can only cost
  speed, never correctness — the member is scanned in full.
- Reads hand the surviving file lists to ``Warehouse._read_members``,
  the one member-scan path of ``Warehouse.read``: the same footer-grouped
  scans, ALTER projection (RENAME, MODIFY cast, DEFAULT back-fill, CLEAR
  COLUMN), overlays and declared schema, so a pruned read equals
  ``wh.read(t).filter(pred)`` by construction.  A lightweight UPDATE's
  rows live in the member it appended (indexed like any other), and a
  deletion vector only removes rows, so live overlays never defeat the
  prune.  A CLEAR COLUMN entry, or a member footer whose type for a
  column differs from the declared one (MODIFY COLUMN), makes the
  member's stats no evidence on that column (``warehouse._stats_blind``,
  shared with the mutation pruner); a column a member's footer lacks
  (ADD COLUMN) has no stats in its sidecar and prunes nothing.

At 100 TB: the sidecars are driver-side metadata a few KB per member
(bloom: m/8 bytes per file), the prune is a pure-metadata loop — no task
launched for skipped files — and the conservative contract means the
index can be added to (or dropped from) a live table at any time.

Scale note on the bloom: m=8192/k=3 holds the false-positive rate under
1% up to ~700 distinct tokens per file; larger files want m scaled with
the expected distinct-token count (the constructor takes both knobs), the
same sizing rule as ClickHouse's tokenbf_v1(m, k, seed).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from ..io import read_parquet
from .warehouse import Warehouse, _stats_blind

#: tokenizer shared by index build and query: lowercase, split on
#: non-alphanumeric runs — mirrors ClickHouse tokenbf_v1's "split by
#: non-alphanumeric" tokenization.
_TOKEN_SPLIT = "[^a-z0-9]+"


def _token_positions(col, m: int, k: int):
    """Array of bloom bit positions for every distinct token in ``col``
    (a string column): k independent hashes per token via xxhash64 over a
    seed-prefixed token, mod m.  Pure JVM expression — no Python in the
    build job."""
    toks = F.array_remove(
        F.array_distinct(F.split(F.lower(col), _TOKEN_SPLIT)), ""
    )

    # one-arg closure per seed: F.transform dispatches on lambda ARITY (a
    # two-parameter lambda receives (element, index)), so a `s=s` default
    # arg would silently rebind the seed to the index column
    def hash_with_seed(s: int):
        prefix = f"{s}:"
        return lambda t: F.pmod(
            F.xxhash64(F.concat(F.lit(prefix), t)), F.lit(m)
        ).cast("int")

    per_seed = [F.transform(toks, hash_with_seed(s)) for s in range(k)]
    return F.flatten(F.array(*per_seed))


class SkipIndex:
    """minmax + token-bloom skip index over one warehouse table.

    ``minmax_cols`` get per-file [min, max, null_count]; ``token_col``
    (optional) gets a per-file token bloom.  ``ensure()`` builds sidecars
    for live members that lack one; ``read()`` returns the pruned scan
    with the residual predicate applied; ``stats()`` reports how much was
    skipped (the evidence a test or operator wants)."""

    def __init__(
        self,
        wh: Warehouse,
        table: str,
        minmax_cols: tuple[str, ...] = (),
        token_col: str | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 3,
    ):
        self.wh = wh
        self.table = table
        self.minmax_cols = tuple(minmax_cols)
        self.token_col = token_col
        self.m = bloom_bits
        self.k = bloom_hashes

    # ------------------------------------------------------------- build

    def _sidecar_dir(self) -> str:
        return os.path.join(self.wh.path(self.table), "_skipidx")

    def _sidecar_path(self, member: str) -> str:
        return os.path.join(self._sidecar_dir(), f"{member}.json")

    def ensure(self) -> int:
        """Build sidecars for live members that lack one.  Returns the
        number built.  Safe to call any time — after appends, compactions
        or mutations — because rewritten members carry new names."""
        os.makedirs(self._sidecar_dir(), exist_ok=True)
        built = 0
        for member in self.wh.load_manifest(self.table)["members"]:
            if os.path.exists(self._sidecar_path(member)):
                continue
            self._build_member(member)
            built += 1
        return built

    def _build_member(self, member: str) -> None:
        """Sidecar of ``member``'s raw files: min/max/nulls of the minmax
        columns its raw scan has, and the bloom when it has the token
        column.  A column the member predates (ADD COLUMN) gets no stats,
        so it prunes none of the member's files."""
        mpath = os.path.join(self.wh.path(self.table), member)
        df = read_parquet(self.wh.spark, mpath)
        cols = [c for c in self.minmax_cols if c in df.columns]
        bloom = self.token_col in df.columns
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            ]
        if bloom:
            aggs.append(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            _token_positions(
                                F.col(self.token_col), self.m, self.k
                            )
                        )
                    )
                ).alias("__bloom")
            )
        rows = (
            df.groupBy(F.input_file_name().alias("__file"))
            .agg(*aggs)
            .collect()
        )
        files = {}
        for r in rows:
            entry: dict = {"rows": r["__rows"], "cols": {}}
            for c in cols:
                entry["cols"][c] = [
                    _js(r[f"__min_{c}"]),
                    _js(r[f"__max_{c}"]),
                    r[f"__nulls_{c}"],
                ]
            if bloom:
                bits = bytearray(self.m // 8)
                for pos in r["__bloom"] or []:
                    bits[pos >> 3] |= 1 << (pos & 7)
                entry["bloom"] = bytes(bits).hex()
            # store paths relative to the member dir so the sidecar
            # survives a warehouse move
            f = r["__file"]
            marker = f"/{member}/"
            entry_path = f.split(marker, 1)[1] if marker in f else f
            files[entry_path] = entry
        tmp = self._sidecar_path(member) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "member": member,
                    "minmax_cols": list(self.minmax_cols),
                    "token_col": self.token_col,
                    "bloom_bits": self.m,
                    "bloom_hashes": self.k,
                    "files": files,
                },
                fh,
            )
        os.replace(tmp, self._sidecar_path(member))

    # ------------------------------------------------------------- prune

    def _query_token_bits(self, token: str) -> list[int]:
        """Bloom bit positions of a query token, computed by the SAME
        JVM expression as the build (a 1-row planning job — the only way
        to be bit-identical with Spark's xxhash64 without reimplementing
        it driver-side)."""
        row = (
            self.wh.spark.range(1)
            .select(_token_positions(F.lit(token), self.m, self.k).alias("p"))
            .first()
        )
        return list(row["p"])

    def _file_survives(self, entry: dict, predicates: list[tuple]) -> bool:
        for p in predicates:
            kind = p[0]
            if kind in ("between", "eq"):
                col = p[1]
                lo, hi = (p[2], p[3]) if kind == "between" else (p[2], p[2])
                st = entry["cols"].get(col)
                if st is None:
                    continue  # no stats for this column → cannot prune
                mn, mx, nulls = st
                if mn is None and mx is None:
                    # all-null file: no non-null value can match
                    return False
                if mx < lo or mn > hi:
                    return False
            elif kind == "token":
                bloom = entry.get("bloom")
                if bloom is None:
                    continue
                bits = bytes.fromhex(bloom)
                for pos in self._bits_cache.setdefault(
                    p[1], tuple(self._query_token_bits(p[1]))
                ):
                    if not bits[pos >> 3] & (1 << (pos & 7)):
                        return False  # guaranteed absent
            else:
                raise ValueError(f"unknown predicate kind {kind!r}")
        return True

    def prune(self, predicates: list[tuple]) -> dict:
        """Driver-side metadata pass.  Predicates:

        - ``("eq", col, v)`` / ``("between", col, lo, hi)`` against a
          minmax-indexed column,
        - ``("token", tok)`` against the token-bloom column.

        Returns {member: [surviving relative file paths]} plus counters
        under the ``"__stats__"`` key."""
        return self._prune(
            predicates, self.wh.load_manifest(self.table)["members"],
            self.wh._meta(self.table),
        )

    def _prune(
        self, predicates: list[tuple], members: list[str], meta: dict
    ) -> dict:
        """``prune`` over ``members`` with the metadata document ``meta``:
        a member's predicates on a ``_stats_blind`` column (CLEAR COLUMN
        addressed it, or its footer type is not the declared one) prune
        none of its files."""
        self._bits_cache: dict[str, tuple[int, ...]] = {}
        survivors: dict[str, list[str]] = {}
        total = kept = 0
        for member in members:
            try:
                with open(self._sidecar_path(member)) as fh:
                    side = json.load(fh)
            except OSError:
                # unindexed member: scan it whole (conservative)
                survivors[member] = ["*"]
                continue
            blind = _stats_blind(
                meta, member, self.wh._footers(self.table, [member])[member]
            )
            preds = [
                p for p in predicates
                if (self.token_col if p[0] == "token" else p[1]) not in blind
            ]
            keep = [
                f
                for f, entry in side["files"].items()
                if self._file_survives(entry, preds)
            ]
            total += len(side["files"])
            kept += len(keep)
            if keep:
                survivors[member] = keep
        survivors["__stats__"] = {
            "files_total": total,
            "files_scanned": kept,
            "members_total": len(members),
            "members_scanned": len(survivors),
        }
        return survivors

    def read(self, predicates: list[tuple]) -> DataFrame:
        """Pruned scan with the residual predicate applied — always equal
        to ``wh.read(table).filter(<predicates>)``, just touching fewer
        files: the survivors go through ``Warehouse._read_members``, the
        read path of ``wh.read`` itself, with the overlays of the manifest
        the prune ran on."""
        man = self.wh.load_manifest(self.table)
        meta = self.wh._meta(self.table)
        surv = self._prune(predicates, man["members"], meta)
        self.last_stats = surv.pop("__stats__")
        if not surv:
            return self.wh.read(self.table).limit(0)
        df = self.wh._apply_computed_read(
            self.wh._read_members(
                self.table, list(surv), meta=meta, overlays=man["overlays"],
                files={m: fs for m, fs in surv.items() if fs != ["*"]},
            ),
            meta,
        )
        return df.filter(self._residual(predicates, df))

    def _residual(self, predicates: list[tuple], df: DataFrame):
        cond = F.lit(True)
        for p in predicates:
            if p[0] == "eq":
                cond = cond & (F.col(p[1]) == F.lit(p[2]))
            elif p[0] == "between":
                cond = cond & F.col(p[1]).between(F.lit(p[2]), F.lit(p[3]))
            elif p[0] == "token":
                toks = F.array_remove(
                    F.array_distinct(
                        F.split(F.lower(F.col(self.token_col)), _TOKEN_SPLIT)
                    ),
                    "",
                )
                cond = cond & F.array_contains(toks, p[1].lower())
        return cond


def _js(v):
    """JSON-safe scalar for sidecar storage (dates/timestamps/decimals →
    ISO strings / floats; comparisons at prune time happen on the SAME
    encoding both sides, so ordering is preserved for homogeneous
    columns)."""
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v
