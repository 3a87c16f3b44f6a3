"""Schema-evolution apply path — the engine's ALTER TABLE.

The reference evolves bronze schemas with manual ALTER migrations
(scripts/alter_bronze_timezone_asia_jakarta.sql:1-16 — MODIFY COLUMN type
changes applied to live MergeTree tables); quality/checks.py already DETECTS
drift, this module APPLIES the change.  Spark-first semantics for
parquet-backed tables:

- **additive column** (new nullable field) — metadata-only: the declared
  schema is updated and persisted (``Warehouse.save_schema_override``;
  an ALTER that also records a chain commits both in ONE
  ``Warehouse._commit_meta`` write, so no reader sees half of it);
  reads conform old files through the new schema (typed NULLs), writes
  carry the column.  Instant at any scale — no 100 TB rewrite, the same
  reason ClickHouse ADD COLUMN is O(1).
- **type widening** (int→bigint, float→double, …) — also metadata-only:
  the parquet reader's type promotion serves old narrow files through the
  widened declared type.
- **destructive change** (drop column, narrow/ incompatible retype,
  rename) — REFUSED with the full reason list; destructive migrations are
  a rewrite the operator must run deliberately (``rewrite=True`` is the
  explicit opt-in: a new member plus a manifest flip, like
  ``Warehouse.compact``).

The reference's timezone MODIFY specifically is a display-level concern in
this engine (timestamps are stored as UTC instants, SURVEY.md §1.2) — the
equivalent here is a widening no-op plus the session timezone.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

from ..plans.warehouse import Warehouse, conform_to_schema

#: safe numeric widenings (target rank must be >= source rank within family)
_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
_FLOAT_RANK = {"float": 1, "double": 2}


def is_widening(src: T.DataType, dst: T.DataType) -> bool:
    """True when every value of ``src`` is exactly representable in ``dst``
    (the only retypes applied without a rewrite)."""
    if src == dst:
        return True
    s, d = src.simpleString(), dst.simpleString()
    if s in _INT_RANK and d in _INT_RANK:
        return _INT_RANK[s] <= _INT_RANK[d]
    if s in _FLOAT_RANK and d in _FLOAT_RANK:
        return _FLOAT_RANK[s] <= _FLOAT_RANK[d]
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return is_widening(src.elementType, dst.elementType)
    return False


@dataclass
class MigrationPlan:
    table: str
    added: list[str] = field(default_factory=list)
    widened: list[str] = field(default_factory=list)
    unchanged: list[str] = field(default_factory=list)
    destructive: list[str] = field(default_factory=list)  # human reasons

    @property
    def is_safe(self) -> bool:
        return not self.destructive

    @property
    def is_noop(self) -> bool:
        return not (self.added or self.widened or self.destructive)


class SchemaMigrator:
    """Plan and apply declared-schema changes on warehouse tables."""

    def __init__(self, wh: Warehouse):
        self.wh = wh

    def plan(self, table: str, target: T.StructType) -> MigrationPlan:
        """Classify ``current declared → target`` per column.  Nothing is
        modified; ``apply`` executes a safe plan."""
        current = self.wh.schema_for(table)
        cur = {f.name: f for f in current.fields}
        tgt = {f.name: f for f in target.fields}
        p = MigrationPlan(table)
        for name in cur:
            if name == "event_date" and name not in tgt:
                continue  # partition column is appended automatically
            if name not in tgt:
                p.destructive.append(
                    f"drop column {name!r} (present in current schema)"
                )
        for name, f in tgt.items():
            if name not in cur:
                p.added.append(name)
            elif cur[name].dataType == f.dataType:
                p.unchanged.append(name)
            elif is_widening(cur[name].dataType, f.dataType):
                p.widened.append(name)
            else:
                p.destructive.append(
                    f"retype {name!r} "
                    f"{cur[name].dataType.simpleString()} → "
                    f"{f.dataType.simpleString()} is not a widening"
                )
        return p

    def apply(
        self, table: str, target: T.StructType, rewrite: bool = False
    ) -> MigrationPlan:
        """Apply the migration.  Safe plans (additive/widening) commit as a
        metadata-only declared-schema update, validated by reading the table
        through the new schema first.  Destructive plans raise unless
        ``rewrite=True`` — the explicit opt-in that rewrites the data into
        one new member of the new shape, dropping/retyping columns, and
        flips the manifest to it."""
        p = self.plan(table, target)
        if p.destructive and not rewrite:
            raise ValueError(
                f"migration on {table!r} is destructive and needs "
                f"rewrite=True: " + "; ".join(p.destructive)
            )
        if p.is_noop:
            return p
        if not p.destructive:
            # metadata-only commit; validate old data serves through the
            # new schema before persisting it
            self._probe(table, target)
            self.wh.save_schema_override(table, target)
            return p
        self._rewrite(table, target)
        return p

    def _probe(self, table: str, target: T.StructType) -> None:
        """Check the table's data serves through ``target`` (plan and one
        row) before the schema commits."""
        if self.wh.exists(table):
            conform_to_schema(self.wh.read(table), target).limit(1).collect()

    def modify_column_type(
        self, table: str, name: str, dtype: T.DataType
    ) -> None:
        """``ALTER TABLE … MODIFY COLUMN name type`` — metadata-only at
        any table size, in BOTH directions:

        - **widening** (int→bigint, float→double) rides the parquet
          reader's type promotion — the existing safe-migration path.
        - **non-widening but castable** (bigint→string, double→int, …)
          persists a cast chain (``Warehouse.column_casts``): reads scan
          pre-ALTER members with the footer's physical type and fold
          ``cast(declared)``; writes land the new type; merges
          materialize it and retire the chain.  ClickHouse rewrites
          parts eagerly for these — the lazy merge-materialized variant
          here is the same trade RENAME COLUMN makes, and is the only
          sane answer at 100 TB (reference applies exactly this kind of
          ALTER to live bronze tables,
          scripts/alter_bronze_timezone_asia_jakarta.sql:1-16).

        The per-member footer decides the scan type, so a lightweight
        UPDATE's member written before the ALTER serves through the cast
        like any other pre-ALTER member."""
        wh = self.wh
        current = wh.schema_for(table)
        cur = {f.name: f for f in current.fields}
        if name not in cur:
            raise ValueError(f"no column {name!r} on {table!r}")
        if cur[name].dataType == dtype:
            return
        if name == "event_date" or name in (wh._sort_key(table) or []):
            raise ValueError(
                f"cannot retype layout column {name!r} (partition/sort key)"
            )
        self._refuse_if_projected(table, name, "retype")
        target = T.StructType([
            T.StructField(name, dtype, f.nullable) if f.name == name else f
            for f in current.fields
        ])
        if is_widening(cur[name].dataType, dtype):
            self.apply(table, target)  # metadata-only, reader promotion
            wh._log_mutation(
                table, "modify_column",
                f"MODIFY COLUMN {name} {dtype.simpleString()} (widening)",
            )
            return
        # validate the cast exists in Spark's type system (plan only)
        from pyspark.sql import functions as F

        probe = wh.spark.createDataFrame([], current)
        probe.select(F.col(name).cast(dtype)).schema
        casts = {**wh.column_casts(table), name: dtype.simpleString()}
        wh._commit_meta(table, schema=target.jsonValue(), casts=casts)
        if wh.exists(table):
            # validate old data serves through the cast chain
            wh.read(table).limit(1).collect()
        wh._log_mutation(
            table, "modify_column",
            f"MODIFY COLUMN {name} {dtype.simpleString()} (cast-on-read)",
        )

    def rename_column(self, table: str, old: str, new: str) -> None:
        """``ALTER TABLE … RENAME COLUMN old TO new`` — metadata-only at
        any table size: the declared schema adopts the new name and a
        rename chain is persisted; reads scan old files with the legacy
        name appended and fold ``coalesce(new, old)``, writes and
        compactions use the new name (retiring the chain as merges touch
        old files) — the ClickHouse RENAME COLUMN contract."""
        current = self.wh.schema_for(table)
        names = {f.name for f in current.fields}
        if old not in names:
            raise ValueError(f"no column {old!r} on {table!r}")
        if new in names or new in self.wh.computed_columns(table):
            raise ValueError(f"column {new!r} already exists on {table!r}")
        if old == "event_date" or (
            self.wh._sort_key(table) or []
        ).count(old):
            raise ValueError(
                f"cannot rename layout column {old!r} (partition/sort key)"
            )
        self._refuse_if_projected(table, old, "rename")
        target = T.StructType([
            T.StructField(new, f.dataType, f.nullable)
            if f.name == old else f
            for f in current.fields
        ])
        ren = self.wh.renames(table)
        # chaining: if `old` was itself a rename target, its legacy names
        # transfer to `new`
        legacy = [old] + ren.pop(old, [])
        ren[new] = legacy
        self.wh._commit_meta(table, schema=target.jsonValue(), renames=ren)
        # validate old data serves through the renamed declaration
        if self.wh.exists(table):
            self.wh.read(table).limit(1).collect()
        self.wh._log_mutation(
            table, "rename_column", f"RENAME COLUMN {old} TO {new}"
        )

    def drop_column(
        self, table: str, name: str, metadata_only: bool = False
    ) -> None:
        """``ALTER TABLE … DROP COLUMN`` — with ``metadata_only=True``
        the declared schema simply forgets the column (O(1)): reads never
        select it (parquet column pruning makes the dead bytes free) and
        the next compaction physically drops it from rewritten files —
        exactly ClickHouse, where the drop applies as parts merge.
        Without the flag this is the guarded destructive rewrite."""
        current = self.wh.schema_for(table)
        if name not in {f.name for f in current.fields}:
            raise ValueError(f"no column {name!r} on {table!r}")
        if name == "event_date" or (
            self.wh._sort_key(table) or []
        ).count(name):
            raise ValueError(
                f"cannot drop layout column {name!r} (partition/sort key)"
            )
        self._refuse_if_projected(table, name, "drop")
        target = T.StructType(
            [f for f in current.fields if f.name != name]
        )
        if not metadata_only:
            self.apply(table, target, rewrite=True)
            return
        ren = self.wh.renames(table)
        ren.pop(name, None)  # dropping a renamed column retires its chain
        self.wh._commit_meta(table, schema=target.jsonValue(), renames=ren)
        if self.wh.exists(table):
            # validates no computed expression references the column
            self.wh.read(table).limit(1).collect()
        self.wh._log_mutation(
            table, "drop_column", f"DROP COLUMN {name} (metadata-only)"
        )

    def _refuse_if_projected(self, table: str, col: str, verb: str) -> None:
        """A live projection's fold state references base columns by
        name — dims AND measure sources, and the sidecar records only
        dims — so any rename/drop under a live projection could strand
        it.  Refuse whenever a sidecar exists (ClickHouse likewise
        refuses ALTERs on projected columns until the projection is
        dropped); the operator drops/rebuilds projections around the
        ALTER."""
        import os

        proj_dir = os.path.join(self.wh.path(table), "_projections")
        if not os.path.isdir(proj_dir):
            return
        live = [f[:-5] for f in os.listdir(proj_dir) if f.endswith(".json")]
        if live:
            raise ValueError(
                f"cannot {verb} column {col!r} on {table!r}: live "
                f"projection(s) {live} may reference it — drop the "
                "projection first"
            )

    def add_computed_column(
        self,
        table: str,
        name: str,
        dtype: T.DataType,
        expr: str,
        kind: str = "default",
    ) -> None:
        """``ALTER TABLE … ADD COLUMN name type {DEFAULT|MATERIALIZED|ALIAS}
        expr`` — the ClickHouse column kinds, O(1) at any table size:

        - ``default``: stored for rows inserted after the ALTER (filled
          when the insert omits the column); pre-ALTER files serve the
          expression on read (ClickHouse computes a missing column's
          default when reading old parts).
        - ``materialized``: always computed at insert — a supplied value
          is overridden; same read-time back-fill for old files.
        - ``alias``: never stored; computed on every read; inserting into
          it is refused.

        The expression is a Spark SQL expression over the table's other
        columns, validated here by planning it against the declared
        schema before the metadata commits."""
        if kind not in ("default", "materialized", "alias"):
            raise ValueError(f"unknown computed-column kind {kind!r}")
        current = self.wh.schema_for(table)
        if name in {f.name for f in current.fields}:
            raise ValueError(
                f"column {name!r} already exists on {table!r}"
            )
        computed = self.wh.computed_columns(table)
        if name in computed:
            raise ValueError(
                f"computed column {name!r} already declared on {table!r}"
            )
        # validate the expression against the current shape (plan only)
        from pyspark.sql import functions as F

        probe = self.wh.spark.createDataFrame([], current)
        probe.select(F.expr(expr).cast(dtype).alias(name)).schema
        computed[name] = {
            "kind": kind,
            "expr": expr,
            "type": dtype.simpleString(),
        }
        changes = {"computed": computed}
        if kind != "alias":
            # stored kinds add the column to the declared schema, in the
            # same commit as the computed metadata
            target = T.StructType(
                [*current.fields, T.StructField(name, dtype, True)]
            )
            self._probe(table, target)
            changes["schema"] = target.jsonValue()
        self.wh._commit_meta(table, **changes)

    def _rewrite(self, table: str, target: T.StructType) -> None:
        """Destructive path: project/cast every row to the target shape
        into one new member and flip the manifest to it alone
        (``Warehouse.overwrite``'s commit), then commit the schema."""
        wh = self.wh
        if wh._sort_key(table) is not None and not any(
            f.name == "event_date" for f in target.fields
        ):
            target = T.StructType(
                [*target.fields, T.StructField("event_date", T.DateType())]
            )
        if wh.exists(table):
            wh._replace(table, conform_to_schema(wh.read(table), target))
        wh.save_schema_override(table, target)
