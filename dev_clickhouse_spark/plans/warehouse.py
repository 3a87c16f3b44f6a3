"""Partitioned-parquet warehouse: the engine's table layer.

Re-expresses the reference's MergeTree storage conventions (SURVEY.md S3/S4):
bronze and fact tables partitioned by ``event_date`` (``PARTITION BY
toDate(event_ts)``, 01_bronze_tables.sql:26) with rows sorted within
partitions on the MergeTree ORDER BY key so parquet row-group min/max stats
approximate the primary-key skip index; small gold dims unpartitioned.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import first_parquet, parquet_schema, read_parquet
from ..schemas import BRONZE_SCHEMAS, CORPUS_SCHEMAS, GOLD_SCHEMAS


def _move_file(src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` (creating ``dst``'s directory) when it
    exists — how a table's metadata document follows its data."""
    if os.path.exists(src):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


def _rename_exchange(p1: str, p2: str) -> None:
    """Swap two directory entries.  Atomic via Linux
    ``renameat2(RENAME_EXCHANGE)`` — the syscall ClickHouse's Atomic
    database uses for ``EXCHANGE TABLES``, leaving no instant where
    either name is missing (the r12 soak's concurrent readers caught
    the 3-rename fallback's window: a reader planning a query exactly
    between two renames served declared-empty).  Where the syscall is
    unavailable (non-Linux / old kernel / cross-device) it falls back to
    three renames, which leave a µs window where ``p1`` is missing."""
    try:
        import ctypes
        import ctypes.util

        libc = ctypes.CDLL(ctypes.util.find_library("c"), use_errno=True)
        AT_FDCWD = -100
        RENAME_EXCHANGE = 2
        rc = libc.renameat2(
            AT_FDCWD, os.fsencode(p1), AT_FDCWD, os.fsencode(p2),
            RENAME_EXCHANGE,
        )
        if rc == 0:
            return
    except Exception:
        pass
    tmp = os.path.join(
        os.path.dirname(p1), f".exchange-{uuid.uuid4().hex[:8]}"
    )
    os.rename(p1, tmp)
    os.rename(p2, p1)
    os.rename(tmp, p2)


def _link_tree(src: str, dst: str, skip: str | None = None) -> int:
    """Hardlink every file under ``src`` to the same relative path under
    ``dst`` (a copy across filesystems), leaving out each directory named
    ``skip``; returns the number of files linked."""
    n = 0
    for dirpath, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if d != skip]
        od = os.path.normpath(os.path.join(dst, os.path.relpath(dirpath, src)))
        os.makedirs(od, exist_ok=True)
        for f in files:
            sf, df_ = os.path.join(dirpath, f), os.path.join(od, f)
            try:
                os.link(sf, df_)
            except OSError:
                shutil.copy2(sf, df_)
            n += 1
    return n


def _backup_chain(backup: str) -> list[str]:
    """``backup`` and the base backups it was taken against (each
    ``backup.json``'s ``base_backup``), nearest first."""
    chain: list[str] = []
    cur = os.path.abspath(backup)
    while cur and cur not in chain:
        chain.append(cur)
        with open(os.path.join(cur, "backup.json")) as fh:
            cur = json.load(fh).get("base_backup")
    return chain


def _holder(chain: list[str], rel: str) -> str | None:
    """The nearest backup of ``chain`` that physically holds ``rel``."""
    return next(
        (d for d in chain if os.path.isdir(os.path.join(d, rel))), None
    )


@contextlib.contextmanager
def _file_lock(lock: str, timeout: float = 30.0):
    """Exclusive read-modify-write section via an O_EXCL lockfile — the
    local-fs stand-in for a metastore transaction.  A crash inside the
    section leaves the lockfile behind; the TimeoutError names it so an
    operator can clear it (what it guards is never torn: every commit is
    a whole file flipped into place atomically)."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"lock busy for {timeout}s: {lock} "
                    "(remove it if the holder crashed)"
                ) from None
            time.sleep(0.02)
    try:
        yield
    finally:
        os.close(fd)
        os.unlink(lock)


def conform_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto the declared schema: absent columns materialize
    as typed NULLs, type-widened columns are cast, order follows the
    declaration.  This is the read side of ADDITIVE schema evolution — a
    plan-level projection, so an ALTER is metadata-only and instant even on
    a 100 TB table (ClickHouse's non-mutating ALTERs behave the same way);
    old parquet files are never rewritten."""
    cols = []
    have = {f.name: f.dataType for f in df.schema.fields}
    for f in schema.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have[f.name] != f.dataType:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _declared_schema(meta: dict) -> T.StructType | None:
    """The ALTERed schema a metadata document declares, else None."""
    s = meta.get("schema")
    return None if s is None else T.StructType.fromJson(s)


#: tables partitioned by event_date + their in-partition sort key
_PARTITIONED_SORT: dict[str, list[str]] = {
    **{name: ["event_ts", "event_id"] for name in BRONZE_SCHEMAS},
    "fact_wazuh_events": ["event_id", "event_ts"],
    "fact_suricata_events": ["event_id", "event_ts"],
    "fact_zeek_events": ["event_id", "event_ts"],
    "bridge_wazuh_event_tag": ["event_id", "event_ts"],
    "bridge_suricata_event_tag": ["event_id", "event_ts"],
    "bridge_zeek_event_tag": ["event_id", "event_ts"],
}

_ALL_SCHEMAS: dict[str, T.StructType] = {
    **BRONZE_SCHEMAS, **GOLD_SCHEMAS, **CORPUS_SCHEMAS,
}

#: the one directory key every member is named by (``member=<kind>-<id>``):
#: a single hive-style level under the table root, so one multi-path scan
#: with ``basePath`` = the table root reads any member set (the key column
#: it discovers is dropped).  Not ``_``/``.``-prefixed: Spark hides those.
_MEMBER_KEY = "member"


def batch_member(batch_id: int) -> str:
    """Member directory of ``append(..., batch_id=batch_id)``."""
    return f"{_MEMBER_KEY}=batch-{batch_id}"


def _new_member(kind: str) -> str:
    """A fresh member directory name: ``insert`` (append without a batch id,
    overwrite), ``compacted``, ``mutated``, ``materialized``, ``attached``
    or ``updated`` (the rows of a lightweight UPDATE)."""
    return f"{_MEMBER_KEY}={kind}-{uuid.uuid4().hex[:8]}"


def member_kind(member: str) -> str:
    """The kind a member name encodes (``batch``, ``insert``, …)."""
    return member.split("=", 1)[1].split("-", 1)[0]


#: directory (under the table root) of the deletion-vector overlays
_DV_DIR = "_deletes"


def _overlay_rel(entry: dict) -> str:
    """An overlay entry's directory relative to the table root."""
    return os.path.join(_DV_DIR, entry["name"])


_RETRY = ("members of {!r} were replaced or addressed by another "
          "mutation while this one ran; nothing was changed — retry it")


def _addressing(overlays: list[dict], members) -> list[dict]:
    """The overlay entries that address any of ``members``."""
    ms = set(members)
    return [e for e in overlays if ms.intersection(e["members"])]


def _by_footer(footers: dict) -> dict:
    """Group a footer map (``Warehouse._footers``) by schema:
    ``{schema: [rel, …]}`` in the map's order."""
    groups: dict = {}
    for rel, schema in footers.items():
        groups.setdefault(schema, []).append(rel)
    return groups


def _stats_blind(
    meta: dict, member: str, footer: T.StructType
) -> set[str]:
    """Columns on which ``member``'s stored statistics (parquet footer
    min/max, skip-index sidecars) are no evidence of what a read returns:
    a CLEAR COLUMN entry addressing the member resets the column on read,
    to its DEFAULT when one is declared, a value the stored statistics
    never saw; and a column whose type in the member's ``footer``
    differs from the declared type (MODIFY COLUMN) is cast on read, so
    its statistics are values of another type.  Both stats pruners skip
    their predicates on these."""
    declared = _declared_schema(meta)
    types = {
        f.name: f.dataType.simpleString()
        for f in (declared.fields if declared else ())
    }
    return {
        e["col"] for e in meta.get("cleared", []) if member in e["members"]
    } | {
        f.name for f in footer.fields
        if types.get(f.name, f.dataType.simpleString())
        != f.dataType.simpleString()
    }


def _rg_survives(rg, names: list[str], preds: list[tuple]) -> bool:
    """False when the parquet row group ``rg`` (of a file whose columns are
    ``names``) is provably disjoint from one ``(col, op, value)``
    predicate, op in ``= == < <= > >=``, by its footer min/max.
    Conservative: a column the file lacks (partition or virtual), absent
    stats, or stats the value does not compare with (a pre-retype file
    after MODIFY COLUMN) keep the row group."""
    for col, op, val in preds:
        if col not in names:
            continue
        st = rg.column(names.index(col)).statistics
        if st is None or not st.has_min_max:
            continue
        lo, hi = st.min, st.max
        try:
            if (
                op in ("=", "==") and not lo <= val <= hi
                or op == "<" and not lo < val
                or op == "<=" and not lo <= val
                or op == ">" and not hi > val
                or op == ">=" and not hi >= val
            ):
                return False
        except TypeError:
            continue
    return True


def _drop_spent(man: dict) -> int:
    """Drop the overlay entries of ``man`` none of whose ``members`` it
    still lists — the rewrite or overwrite that replaced those members
    spent them.  Returns the number dropped."""
    live = set(man["members"])
    kept = [e for e in man["overlays"] if live.intersection(e["members"])]
    n = len(man["overlays"]) - len(kept)
    man["overlays"] = kept
    return n


def _tag_rows(df: DataFrame) -> DataFrame:
    """Prefix a raw member scan with the address every overlay row keys
    on: ``__dv_file``, the parquet file's path RELATIVE TO THE TABLE ROOT
    (``member=<kind>-<id>/[event_date=…/]part-….parquet``, the text after
    the last ``/member=`` of ``_metadata.file_path``), and ``__dv_pos``,
    the row's position in that file.  The address names no location, so
    a table directory that is moved, swapped (EXCHANGE) or cloned
    (BACKUP/RESTORE) keeps every overlay valid as written; its first
    component is the member the row lives in."""
    under_member = F.substring_index(
        F.col("_metadata.file_path"), f"/{_MEMBER_KEY}=", -1
    )
    return df.select(
        F.concat(F.lit(f"{_MEMBER_KEY}="), under_member).alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
        "*",
    )


#: address-form marker of every overlay entry: its rows key on the
#: table-relative file path of ``_tag_rows``
_ADDRESS = "relative"


def _check_overlays(overlays: list[dict], where: str) -> None:
    """Raise, naming the entry, when an overlay entry is not a deletion
    vector (a ``patch`` entry of a release whose lightweight UPDATE wrote
    updated rows under their original address, which no read applies any
    more) or lacks the address marker (committed when rows were keyed on
    absolute file paths, which no read matches any more)."""
    for e in overlays:
        if e["kind"] != "dv":
            raise ValueError(
                f"overlay entry {e['name']!r} of {where} is a "
                f"{e['kind']!r} overlay, which reads no longer apply; "
                "materialize it with compact() on the release that wrote it"
            )
        if e.get("address") != _ADDRESS:
            raise ValueError(
                f"overlay entry {e['name']!r} of {where} keys its rows on "
                "absolute file paths, which reads no longer match; "
                "materialize it with compact() on the release that wrote it"
            )


class Warehouse:
    """Path-rooted table registry with append / overwrite / read.

    Every table has ONE layout, the MANIFEST: each write lands a new member
    directory (``member=<kind>-<id>``), and the live members are listed in
    ``_manifest/v<K>.json``, whose name a ``CURRENT`` pointer file holds
    (flipped with an atomic ``os.replace`` under the manifest lock).
    Readers resolve CURRENT once and scan exactly the listed members, so
    compaction, mutations and overwrites can write new members and flip the
    pointer WHILE appends land and readers run — the ClickHouse-parts/
    Iceberg-snapshot discipline instead of a single-writer maintenance
    window.  A member is never rewritten in place, and a zero-row write
    lists no member.  A member or overlay directory that some manifest
    version listed leaves the disk only through :meth:`gc`, once no
    retained version lists it, so a plan built over any retained version
    stays readable.  On a real deployment the pointer flip maps to a
    metastore row or an object-store conditional PUT; here it is a rename
    on the local filesystem.

    Every DECLARATION of a table (ALTERed schema, sort key, engine, skip
    indexes, projections, computed columns, rename and cast chains, TTLs,
    CLEAR COLUMN overlays, STOP MERGES) lives in ONE JSON document,
    ``_schemas/<table>.json``.  :meth:`_meta` reads it (a missing document
    means "no declarations": the in-code schema applies; a damaged one
    raises), :meth:`_commit_meta` rewrites it whole under a lock and flips
    it into place with ``os.replace``, so one ALTER is one atomic commit
    and a read resolves one consistent set of declarations."""

    #: version files kept after a flip (snapshot reads, readers holding a
    #: plan); older ones are pruned and ``gc`` may then sweep their dirs
    _MANIFEST_KEEP = 10

    def __init__(
        self, spark: SparkSession, root: str, codec: str | None = None
    ):
        self.spark = spark
        self.root = root
        #: parquet compression codec for every warehouse write (None =
        #: session default, snappy).  ClickHouse tables default to heavier
        #: compression (LZ4 columns + ZSTD-leaning profiles); at 100 TB
        #: ``codec="zstd"`` trades CPU for the 1.5-2x storage/IO cut the
        #: reference gets from its column codecs.
        self.codec = codec

    # -- the per-table metadata document -------------------------------------

    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, "_schemas", table + ".json")

    def _meta(self, table: str) -> dict:
        """The table's metadata document: ``{}`` when it has none.  An
        unreadable or damaged document raises — a silently defaulted
        rename or cast chain would change query answers."""
        p = self._meta_path(table)
        try:
            with open(p) as fh:
                doc = json.load(fh)
        except FileNotFoundError:
            return {}
        except (OSError, ValueError) as e:
            raise ValueError(f"unreadable table metadata {p}: {e}") from e
        if not isinstance(doc, dict):
            raise ValueError(f"table metadata {p} is not a JSON object")
        return doc

    def _commit_meta(self, table: str, **changes) -> None:
        """Read-modify-write the metadata document under its lock and flip
        it into place atomically: readers see the old or the new document,
        never a part.  A callable value maps the key's current value (None
        when absent) to its new one inside the lock, so concurrent
        declarations never lose each other's updates; a None or empty
        value removes the key."""
        p = self._meta_path(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with _file_lock(p + ".lock"):
            old = self._meta(table)
            doc = dict(old)
            for k, v in changes.items():
                if callable(v):
                    v = v(doc.get(k))
                if v is None or v == {} or v == []:
                    doc.pop(k, None)
                else:
                    doc[k] = v
            if doc == old:
                return
            tmp = p + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(doc, fh, indent=1)
            os.replace(tmp, p)

    def set_partitioning(
        self, table: str, sort_key: list[str], partitioned: bool = True
    ) -> None:
        """Declare ``table``'s MergeTree layout: an in-part sort key and,
        by default, date partitioning — the ``PARTITION BY toDate(ts)
        ORDER BY (...)`` clause of a ClickHouse CREATE TABLE (reference
        clickhouse/init/01_create_tables.sql).  ``partitioned=False``
        declares ``ORDER BY`` WITHOUT ``PARTITION BY`` (ClickHouse allows
        a MergeTree with only a sort key): files are written sorted but
        no ``event_date=`` directory level is minted.  Must be called
        before the first append; the two layouts don't mix.

        PERSISTED: the declaration is the ``sort`` key of the table's
        metadata document, so a DDL-created table keeps its layout across
        process restarts and the declaration travels with the table
        through DETACH/EXCHANGE/DROP-to-trash."""
        self._commit_meta(
            table,
            sort={"sort": list(sort_key), "partitioned": bool(partitioned)},
        )

    def modify_order_by(self, table: str, sort_key: list[str]) -> None:
        """``ALTER TABLE … MODIFY ORDER BY`` — extend the sort key.  The
        ClickHouse constraint applies verbatim: the new key must START
        WITH the existing key (only appends are allowed, because existing
        parts are already sorted by the old prefix and stay valid — new
        parts sort by the full key, merges converge the table).  Appended
        columns must exist in the declared schema.  O(1) metadata."""
        cur = self._sort_key(table)
        if cur is None:
            raise ValueError(
                f"{table!r} has no declared ORDER BY to modify "
                "(set_partitioning / CREATE TABLE first)"
            )
        if list(sort_key[: len(cur)]) != list(cur):
            raise ValueError(
                f"MODIFY ORDER BY must extend the existing key {cur} "
                f"(got {list(sort_key)}) — ClickHouse refuses prefix "
                "changes because existing parts are sorted by it"
            )
        cols = {f.name for f in self.schema_for(table).fields}
        missing = [c for c in sort_key if c not in cols]
        if missing:
            raise ValueError(
                f"MODIFY ORDER BY references unknown columns {missing}"
            )
        self.set_partitioning(
            table, list(sort_key),
            partitioned=self._is_date_partitioned(table),
        )
        self._log_mutation(
            table, "MODIFY_ORDER_BY",
            f"MODIFY ORDER BY ({', '.join(sort_key)})",
        )

    def _is_date_partitioned(
        self, table: str, meta: dict | None = None
    ) -> bool:
        """Declared layout check: sorted tables are date-partitioned
        unless explicitly declared ORDER-BY-only.  ``meta`` is the
        already-resolved metadata document (resolved here when None)."""
        decl = (self._meta(table) if meta is None else meta).get("sort")
        if decl is not None:
            return bool(decl.get("partitioned", True))
        return table in _PARTITIONED_SORT

    def _sort_key(
        self, table: str, meta: dict | None = None
    ) -> list[str] | None:
        """Sort key for a date-partitioned table, else None."""
        decl = (self._meta(table) if meta is None else meta).get("sort")
        if decl is not None:
            return list(decl["sort"])
        return _PARTITIONED_SORT.get(table)

    def _writer(self, df: DataFrame):
        """DataFrameWriter with the warehouse codec applied — the single
        choke point every data write goes through."""
        w = df.write
        if self.codec:
            w = w.option("compression", self.codec)
        return w

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        """True when the CURRENT manifest lists a member; superseded
        directories waiting for ``gc`` do not count."""
        return bool(self.load_manifest(table)["members"])

    # -- DETACH / ATTACH TABLE ----------------------------------------------

    def _detached_dir(self) -> str:
        return os.path.join(self.root, "_detached")

    def detach_table(self, table: str) -> None:
        """``DETACH TABLE`` — the table disappears from the serving
        surface but its data, manifest, and overlays stay on disk under
        ``_detached/`` (one rename, O(1) at any size).  Reads of a
        detached table serve the declared-empty result like any missing
        table; maintenance ops fail on the missing path.  ``attach_table``
        reverses it."""
        src = self.path(table)
        if not os.path.exists(src):
            raise ValueError(f"no such table to detach: {table!r}")
        dst = os.path.join(self._detached_dir(), table)
        if os.path.exists(dst):
            raise ValueError(f"table {table!r} is already detached")
        os.makedirs(self._detached_dir(), exist_ok=True)
        os.rename(src, dst)
        # the metadata document travels WITH the table: left under
        # _schemas/ it would be inherited by a new table created under
        # the same name while this one is detached
        _move_file(
            self._meta_path(table),
            os.path.join(self._detached_dir(), "_schemas", table + ".json"),
        )

    def attach_table(self, table: str) -> None:
        """``ATTACH TABLE`` — re-register a detached table (the reverse
        rename).  The manifest version pointer inside the directory is
        untouched, so the table serves exactly the member set it had at
        detach time."""
        src = os.path.join(self._detached_dir(), table)
        if not os.path.exists(src):
            raise ValueError(f"no detached table {table!r}")
        dst = self.path(table)
        if os.path.exists(dst):
            raise ValueError(
                f"cannot attach {table!r}: a live table directory exists"
            )
        os.rename(src, dst)
        # restore the metadata document detached alongside the data
        _move_file(
            os.path.join(self._detached_dir(), "_schemas", table + ".json"),
            self._meta_path(table),
        )

    def detached_tables(self) -> list[str]:
        """Names currently under ``_detached/`` (the ``system.detached_
        parts``-adjacent listing, table-granular here)."""
        try:
            return sorted(
                e for e in os.listdir(self._detached_dir())
                if not e.startswith("_")
            )
        except OSError:
            return []

    # -- declared MergeTree engine family (CREATE TABLE ENGINE = …) ---------

    def set_table_engine(
        self,
        table: str,
        engine: str,
        *,
        version_col: str | None = None,
        sign_col: str | None = None,
        sum_cols: list[str] | None = None,
    ) -> None:
        """Declare the table's MergeTree engine family — the
        ``ENGINE = ReplacingMergeTree(updated_at)`` clause of a ClickHouse
        CREATE TABLE (reference clickhouse/init/03_gold_tables.sql declares
        every dim/fact this way).  Pure metadata: appends are unchanged;
        :meth:`read_final` / :meth:`read_summed` / :meth:`read_collapsed`
        consult it so ``FINAL`` reads need no per-call key/version args."""
        spec: dict = {"engine": engine}
        if version_col:
            spec["version_col"] = version_col
        if sign_col:
            spec["sign_col"] = sign_col
        if sum_cols:
            spec["sum_cols"] = list(sum_cols)
        self._commit_meta(table, engine=spec)

    def table_engine(self, table: str) -> dict | None:
        """The declared engine spec ({"engine", "version_col", …}) or None
        for plain-MergeTree/undeclared tables."""
        return self._meta(table).get("engine")

    # -- declared skip indexes / projections (CREATE TABLE INDEX/PROJECTION) --

    def declare_skip_index(
        self,
        table: str,
        name: str,
        col: str,
        index_type: str = "minmax",
        params: list | None = None,
    ) -> None:
        """Persist an ``INDEX name col TYPE minmax|tokenbf_v1(…)``
        declaration (the CREATE TABLE clause).  Pure metadata;
        :meth:`skip_index_for` materializes the live SkipIndex whose
        ``ensure()`` builds sidecars lazily — exactly CH's deferred
        ``MATERIALIZE INDEX`` discipline."""
        spec = {
            "col": col, "type": index_type.lower(),
            "params": list(params or []),
        }
        self._commit_meta(
            table, indexes=lambda idx: {**(idx or {}), name: spec}
        )

    def declared_skip_indexes(self, table: str) -> dict:
        return self._meta(table).get("indexes", {})

    def skip_index_for(self, table: str):
        """The live SkipIndex built from this table's declarations, or
        None when nothing is declared.  minmax entries pool into
        ``minmax_cols``; the first tokenbf entry supplies the token
        bloom (m, k taken from its declared parameters)."""
        decls = self.declared_skip_indexes(table)
        if not decls:
            return None
        from .skip_index import SkipIndex

        minmax = tuple(
            d["col"] for d in decls.values() if d["type"] == "minmax"
        )
        blooms = [
            d for d in decls.values() if d["type"].startswith("tokenbf")
        ]
        kw: dict = {}
        if blooms:
            kw["token_col"] = blooms[0]["col"]
            prm = blooms[0].get("params") or []
            if len(prm) >= 2:
                kw["bloom_bits"] = int(prm[0])
                kw["bloom_hashes"] = int(prm[1])
        return SkipIndex(self, table, minmax_cols=minmax, **kw)

    def declare_projection(
        self,
        table: str,
        name: str,
        dims: list[str],
        measures: list[tuple[str, str | None]],
    ) -> None:
        """Persist a ``PROJECTION name (SELECT … GROUP BY …)``
        declaration; :meth:`projection_set_for` materializes the live
        ProjectionSet (ensure() folds states incrementally, answer()
        rewrites matching rollups onto it)."""
        spec = {"dims": list(dims), "measures": [list(m) for m in measures]}
        self._commit_meta(
            table, projections=lambda projs: {**(projs or {}), name: spec}
        )

    def declared_projections(self, table: str) -> dict:
        return self._meta(table).get("projections", {})

    def projection_set_for(self, table: str):
        """The live ProjectionSet over this table's declared
        projections, or None when nothing is declared."""
        decls = self.declared_projections(table)
        if not decls:
            return None
        from .projection import Measure, ProjectionSet, ProjectionSpec

        specs = [
            ProjectionSpec(
                name=n,
                dims=tuple(d["dims"]),
                measures=tuple(
                    Measure(kind, col) for kind, col in d["measures"]
                ),
            )
            for n, d in decls.items()
        ]
        return ProjectionSet(self, table, specs)

    # -- declared-schema registry (ALTER target) ---------------------------

    def schema_override(self, table: str) -> T.StructType | None:
        """The persisted post-ALTER schema, if a migration has been applied
        (quality/migrate.py writes it); None = the in-code declaration."""
        return _declared_schema(self._meta(table))

    def save_schema_override(self, table: str, schema: T.StructType) -> None:
        """Persist an ALTERed declared schema — the migration COMMIT.  Only
        quality/migrate.SchemaMigrator should call this (it validates the
        change is additive/widening first)."""
        self._commit_meta(table, schema=schema.jsonValue())

    # -- computed columns (DEFAULT / MATERIALIZED / ALIAS) ------------------

    def computed_columns(self, table: str) -> dict[str, dict]:
        """Computed-column metadata applied by this warehouse's read/write
        paths: ``{name: {"kind": default|materialized|alias, "expr": sql,
        "type": ddl}}`` in declaration order.  Written only by
        ``quality/migrate.SchemaMigrator.add_computed_column``."""
        return self._meta(table).get("computed", {})

    def _footers(self, table: str, rels) -> dict[str, T.StructType]:
        """The footer map: ``{rel: schema}`` of the first parquet footer
        under each table-relative directory in ``rels`` (members or
        overlay directories).  A member or overlay is ONE write generation
        (one job wrote every file), so its first footer answers for it —
        O(1) metadata per directory per read, not O(files).  Every
        footer-driven decision (scan groups, cast-on-read, DEFAULT
        back-fill, MATERIALIZE targets, cast-chain retirement) reads it."""
        root = self.path(table)
        return {r: parquet_schema(os.path.join(root, r)) for r in rels}

    @staticmethod
    def _stored_computed(meta: dict) -> dict:
        return {
            n: m for n, m in meta.get("computed", {}).items()
            if m["kind"] != "alias"
        }

    # -- column renames (ALTER TABLE … RENAME COLUMN) ------------------------

    def renames(self, table: str) -> dict:
        """Live rename chains: ``{new_name: [old_name, older_name, …]}``.
        Old parquet files keep the old column name in their footer; reads
        scan them with the legacy fields appended and fold
        ``coalesce(new, old…)`` — metadata-only at any table size, the
        ClickHouse RENAME COLUMN contract.  Compaction writes the new
        name, so chains retire as merges touch old files."""
        return self._meta(table).get("renames", {})

    def _legacy_read_schema(self, table: str, meta: dict) -> T.StructType:
        """Declared schema extended with the legacy (pre-rename) field
        names, so old files' values surface instead of reading as NULL."""
        schema = self.schema_for(table, meta)
        ren = meta.get("renames", {})
        if not ren:
            return schema
        by_name = {f.name: f for f in schema.fields}
        extra = []
        for new, olds in ren.items():
            f = by_name.get(new)
            if f is None:
                continue
            for old in olds:
                if old not in by_name:
                    extra.append(T.StructField(old, f.dataType, True))
        return T.StructType([*schema.fields, *extra])

    @staticmethod
    def _apply_renames(df: DataFrame, ren: dict) -> DataFrame:
        """Fold legacy columns into their renamed successor and drop
        them.  A file carries a value under exactly ONE of the chain's
        names, so the coalesce is a disjoint merge, not a preference.
        ONE projection over the union of the member scans, not a
        withColumn chain."""
        if not ren:
            return df
        repl, drops = {}, set()
        for new, olds in ren.items():
            present = [o for o in olds if o in df.columns]
            if new in df.columns and present:
                repl[new] = F.coalesce(
                    F.col(new), *[F.col(o) for o in present]
                ).alias(new)
                drops.update(present)
        if not repl:
            return df
        return df.select(
            *[repl.get(c, F.col(c)) for c in df.columns if c not in drops]
        )

    # -- declared table TTL (ALTER TABLE … MODIFY TTL) -----------------------

    def set_table_ttl(
        self,
        table: str,
        interval_days: float,
        ttl_col: str = "event_ts",
        group_by: list[str] | None = None,
        aggregates: dict[str, str] | None = None,
        where: str | None = None,
    ) -> None:
        """``ALTER TABLE … MODIFY TTL col + INTERVAL n DAY [WHERE pred]
        [GROUP BY k… SET col = agg(col)…]`` — DECLARE the TTL once; every
        ``compact`` (the merge analog) enforces it from then on, exactly
        where ClickHouse applies TTL (during merges, zero extra passes).
        Without ``group_by`` expired rows are DELETED; with it they roll
        up (the downsampling idiom).  With ``where`` only matching rows
        expire — the CH conditional-TTL idiom (age out debug/noise rows
        while keeping the rest forever); delete form only.  O(1)
        metadata write.

        Scale note: a TTL-bearing compact runs as a FULL merge (expired
        rows may hide in any generation).  On a 100 TB date-partitioned
        table, prefer ``apply_ttl`` (whole-partition drops, metadata-
        only — the ``ttl_only_drop_parts`` fast path) on the tight
        cadence and reserve the declared-TTL merge for the periodic
        major compaction."""
        if (group_by is None) != (aggregates is None):
            raise ValueError(
                "rollup TTL needs BOTH group_by and aggregates"
            )
        if where is not None and group_by is not None:
            raise ValueError(
                "TTL WHERE is supported on the delete form only "
                "(ClickHouse refuses WHERE + GROUP BY TTL likewise)"
            )
        spec = {"ttl_col": ttl_col, "interval_days": float(interval_days)}
        if where is not None:
            # validate the predicate plans against the declared schema
            probe = self.spark.createDataFrame([], self.schema_for(table))
            probe.filter(F.expr(where)).schema
            spec["where"] = where
        if group_by is not None:
            spec["group_by"] = list(group_by)
            spec["aggregates"] = dict(aggregates)
        self._commit_meta(table, ttl=spec)
        self._log_mutation(
            table, "modify_ttl",
            f"MODIFY TTL {ttl_col} + INTERVAL {interval_days} DAY"
            + (f" GROUP BY {', '.join(group_by)}" if group_by else ""),
        )

    def table_ttl(self, table: str) -> dict | None:
        """The declared TTL spec, or None (``REMOVE TTL`` state)."""
        return self._meta(table).get("ttl")

    def remove_table_ttl(self, table: str) -> None:
        """``ALTER TABLE … REMOVE TTL``."""
        self._commit_meta(table, ttl=None)

    # -- MODIFY COLUMN type (cast-on-read chains) ----------------------------

    def column_casts(self, table: str) -> dict:
        """Live ``ALTER TABLE … MODIFY COLUMN col type`` retype chains:
        ``{col: declared_type_ddl}``.  Old parquet files keep the
        pre-ALTER physical type in their footers; reads scan each such
        footer group with the footer's type and fold ``cast(declared)``
        into the group's projection — metadata-only at any table size.
        ClickHouse rewrites parts eagerly for MODIFY COLUMN; here the
        new type materializes as merges rewrite members (the same lazy
        discipline as RENAME COLUMN), and entries retire once no live
        member's footer disagrees (``_gc_alter_overlays``)."""
        return self._meta(table).get("casts", {})

    # -- CLEAR COLUMN IN PARTITION (member-scoped reset overlays) ------------

    def cleared_entries(self, table: str) -> list:
        """Live ``CLEAR COLUMN … IN PARTITION`` overlays:
        ``[{"col", "date", "members"}]`` — each addresses exactly the
        members that were live when the ALTER ran, so rows inserted
        AFTER it keep their values (the ClickHouse mutation-snapshot
        contract).  Reads mask the column to its DEFAULT (or typed
        NULL) for the addressed members' rows in that partition;
        compaction materializes the mask and retires the entry."""
        return self._meta(table).get("cleared", [])

    def clear_column_in_partition(self, table: str, col: str, date) -> dict:
        """``ALTER TABLE … CLEAR COLUMN col IN PARTITION 'date'`` — O(1)
        metadata at any table size: records (column, partition, live
        member snapshot); the read path masks the column to its declared
        DEFAULT expression (or a typed NULL) for those members' rows in
        that partition and merges materialize the reset, exactly where
        ClickHouse applies the mutation (reference evolves live bronze
        tables with point ALTERs, scripts/alter_bronze_timezone_asia_
        jakarta.sql:1-16).  The live member snapshot IS the mutation
        address; a lightweight UPDATE's rows live in the member it
        appended, so the snapshot addresses them like any other row."""
        schema = self.schema_for(table)
        names = {f.name for f in schema.fields}
        if col not in names:
            raise ValueError(f"no column {col!r} on {table!r}")
        if col == "event_date" or col in (self._sort_key(table) or []):
            raise ValueError(
                f"cannot clear layout column {col!r} (partition/sort key)"
            )
        if "event_date" not in names:
            raise ValueError(
                f"CLEAR COLUMN IN PARTITION needs a date-partitioned "
                f"table; {table!r} has no event_date column"
            )
        entry = {
            "col": col, "date": str(date),
            "members": self.load_manifest(table)["members"],
        }
        self._commit_meta(table, cleared=lambda es: [*(es or []), entry])
        self._log_mutation(
            table, "clear_column",
            f"CLEAR COLUMN {col} IN PARTITION '{date}'",
            members_addressed=len(entry["members"]),
        )
        return entry

    def _reset_value(self, table: str, col: str, meta: dict):
        """Reset value for CLEAR COLUMN / column TTL: the column's
        declared DEFAULT expression when one exists (ClickHouse resets
        to the column default), else a typed NULL."""
        cc = meta.get("computed", {}).get(col)
        if cc is not None and cc["kind"] == "default":
            return F.expr(cc["expr"]).cast(cc["type"])
        dtype = next(
            (
                f.dataType
                for f in self.schema_for(table, meta).fields
                if f.name == col
            ),
            None,
        )
        return F.lit(None).cast(dtype) if dtype is not None else F.lit(None)

    # -- column-level TTL (ALTER TABLE … MODIFY COLUMN col … TTL expr) -------

    def column_ttls(self, table: str) -> dict:
        """Declared column TTLs: ``{col: {"ttl_col", "interval_days"}}``.
        Enforced by ``compact`` (the merge) like table TTL: expired rows
        keep the row but the column resets to its DEFAULT/NULL — the
        ClickHouse column-TTL storage reclaim for wide columns whose
        value stops mattering before the row does."""
        return self._meta(table).get("colttl", {})

    def set_column_ttl(
        self,
        table: str,
        col: str,
        interval_days: float,
        ttl_col: str = "event_ts",
    ) -> None:
        """``ALTER TABLE … MODIFY COLUMN col type TTL ttl_col + INTERVAL
        n DAY`` — declare once, O(1) metadata; every merge enforces it
        from then on (zero extra passes: the reset folds into the
        rewrite projection the merge runs anyway)."""
        schema = self.schema_for(table)
        names = {f.name for f in schema.fields}
        if col not in names:
            raise ValueError(f"no column {col!r} on {table!r}")
        if col == "event_date" or col in (self._sort_key(table) or []):
            raise ValueError(
                f"cannot TTL layout column {col!r} (partition/sort key)"
            )
        if ttl_col not in names:
            raise ValueError(f"TTL column {ttl_col!r} not on {table!r}")
        spec = {"ttl_col": ttl_col, "interval_days": float(interval_days)}
        self._commit_meta(
            table, colttl=lambda ttls: {**(ttls or {}), col: spec}
        )
        self._log_mutation(
            table, "modify_column_ttl",
            f"MODIFY COLUMN {col} TTL {ttl_col} + "
            f"INTERVAL {interval_days} DAY",
        )

    def remove_column_ttl(self, table: str, col: str) -> None:
        self._commit_meta(
            table,
            colttl=lambda ttls: {
                c: s for c, s in (ttls or {}).items() if c != col
            },
        )

    def _column_ttl_transform(self, table: str, specs: dict, now_dt):
        """Merge-fold for declared column TTLs: ONE projection resetting
        each expired column to its DEFAULT/NULL; row count unchanged."""
        import datetime

        meta = self._meta(table)
        resets = {c: self._reset_value(table, c, meta) for c in specs}

        def transform(df: DataFrame) -> DataFrame:
            cols = []
            for c in df.columns:
                spec = specs.get(c)
                if spec is None or spec["ttl_col"] not in df.columns:
                    cols.append(F.col(c))
                    continue
                cutoff = now_dt - datetime.timedelta(
                    days=spec["interval_days"]
                )
                expired = F.coalesce(
                    F.col(spec["ttl_col"]) < F.lit(cutoff), F.lit(False)
                )
                cols.append(
                    F.when(expired, resets[c])
                    .otherwise(F.col(c))
                    .alias(c)
                )
            return df.select(*cols)

        return transform

    @staticmethod
    def _apply_computed_read(df: DataFrame, meta: dict) -> DataFrame:
        """Read-side computed columns, ClickHouse part semantics:

        - ALIAS is never stored — always computed here.
        - DEFAULT/MATERIALIZED values ARE stored for rows written after
          the ALTER; members that predate the column serve the expression.
          ``_read_members`` decides that per footer group (the column is
          physically absent pre-ALTER), so an explicitly inserted NULL in a
          post-ALTER member is preserved, as ClickHouse preserves it; here
          only a column no member stores is computed.
        """
        for name, cc in meta.get("computed", {}).items():
            if cc["kind"] == "alias" or name not in df.columns:
                df = df.withColumn(
                    name, F.expr(cc["expr"]).cast(cc["type"])
                )
        return df

    def _apply_computed_write(self, table: str, df: DataFrame) -> DataFrame:
        """Insert-side computed columns: ALIAS is not insertable (CH
        refuses it loudly), MATERIALIZED always overrides whatever the
        insert supplied, DEFAULT fills only when the column is absent."""
        for name, meta in self.computed_columns(table).items():
            kind = meta["kind"]
            if kind == "alias":
                if name in df.columns:
                    raise ValueError(
                        f"column {name!r} of table {table!r} is ALIAS — "
                        "it cannot be inserted"
                    )
                continue
            expr = F.expr(meta["expr"]).cast(meta["type"])
            if kind == "materialized" or name not in df.columns:
                df = df.withColumn(name, expr)
        return df

    # -- manifest / version pointer ------------------------------------------

    def _manifest_dir(self, table: str) -> str:
        return os.path.join(self.path(table), "_manifest")

    def load_manifest(self, table: str) -> dict:
        """The CURRENT manifest; a table never written has the empty
        version-0 manifest.

        {"version": K, "members": [dir, ...], "committed_batches": [id, ...],
         "overlays": [{"name", "kind", "members", "address"[, "adds"]}, ...]}

        ``members`` are the live data directories (scanned by read());
        ``committed_batches`` is the replay-skip ledger of
        ``append(..., batch_id=)`` — it SURVIVES compaction, so a replayed
        micro-batch whose member was long since compacted away still skips
        instead of re-appending rows that now live inside a compacted
        member.  ``overlays`` are the committed lightweight mutations, one
        deletion vector (kind ``dv``, ``_deletes/<name>``) each, with
        ``members`` the members its rows address; a lightweight UPDATE's
        entry also names the member it appended in the same flip
        (``adds``).  An overlay directory no manifest lists is invisible,
        and ``gc()`` sweeps it.  Overlay rows address (file path relative
        to the table root, row position), marked ``"address":
        "relative"``; an entry of another kind (a ``patch`` of an older
        release) or without the marker (absolute file paths) raises,
        naming the entry."""
        cur = os.path.join(self._manifest_dir(table), "CURRENT")
        # EXCHANGE TABLES swaps the whole table directory between the
        # CURRENT read and the version-file open — the resolved v<K>.json
        # can vanish mid-resolve (the r12 soak's readers-active drill
        # caught this).  Re-resolve from the new directory: the swap is
        # atomic per rename, so a retry lands on a consistent
        # (CURRENT, v<K>.json) pair from one side or the other.
        for _attempt in range(5):
            try:
                with open(cur) as fh:
                    version_file = fh.read().strip()
            except OSError:
                return {"version": 0, "members": [], "committed_batches": [],
                        "overlays": []}
            try:
                with open(
                    os.path.join(self._manifest_dir(table), version_file)
                ) as fh:
                    man = json.load(fh)
            except OSError:
                continue
            # a manifest written before overlays were committed lists none
            _check_overlays(
                man.setdefault("overlays", []), f"table {table!r}"
            )
            return man
        raise FileNotFoundError(
            f"manifest {version_file!r} of {table!r} unreadable after "
            "5 re-resolves — not a concurrent swap"
        )

    def _write_manifest(self, table: str, manifest: dict) -> None:
        """Write v<K>.json fully, then flip CURRENT atomically.  Callers
        hold the manifest lock."""
        d = self._manifest_dir(table)
        os.makedirs(d, exist_ok=True)
        name = f"v{manifest['version']:08d}.json"
        with open(os.path.join(d, name), "w") as fh:
            json.dump(manifest, fh, indent=1)
        tmp = os.path.join(d, "CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(name)
        os.replace(tmp, os.path.join(d, "CURRENT"))
        keep = {name} | {
            f"v{v:08d}.json"
            for v in range(
                max(1, manifest["version"] - self._MANIFEST_KEEP),
                manifest["version"],
            )
        }
        for f in os.listdir(d):
            if f.startswith("v") and f.endswith(".json") and f not in keep:
                try:
                    os.unlink(os.path.join(d, f))
                except OSError:
                    pass

    def _manifest_lock(self, table: str):
        """Exclusive manifest read-modify-write section (the manifest is
        never torn: version files are whole and CURRENT flips
        atomically)."""
        d = self._manifest_dir(table)
        os.makedirs(d, exist_ok=True)
        return _file_lock(os.path.join(d, "LOCK"))

    def _flip(self, table: str, edit) -> bool:
        """THE commit point of every write: under the manifest lock,
        ``edit(man)`` changes the CURRENT manifest in place and returns
        True, and the next version is written and CURRENT flips to it; a
        False return leaves the manifest as it is.  Returns what ``edit``
        returned."""
        with self._manifest_lock(table):
            man = self.load_manifest(table)
            changed = edit(man)
            if changed:
                man["version"] += 1
                self._write_manifest(table, man)
        return changed

    def _swap_members(
        self, table: str, replaced: dict[str, str | None], snap: dict,
        overlays: dict[str, dict | None] | None = None,
    ) -> bool:
        """Flip to the live members with each key of ``replaced`` swapped
        for its value (None = removed) — the commit of a compaction,
        mutation or partition drop, whose rewrite read the manifest
        ``snap``.  ``overlays`` swaps overlay entries by name the same way
        (DROP PARTITION's remapped overlays), and the same version drops
        the entries the swap spent (``_drop_spent``).  The replaced
        members stay on disk for the versions that list them.  All or
        nothing: when a replaced member is no longer live (an overwrite or
        another rewrite replaced it since the snapshot), or an overlay
        committed after the snapshot addresses a replaced member (the
        rewrite never applied it), the manifest is left unchanged, the
        never-listed new members and overlay directories are deleted and
        False returned — swapping the rewrite in would resurrect the rows
        it replaced or lose the overlay."""
        seen = {e["name"] for e in snap["overlays"]}
        overlays = overlays or {}

        def edit(man: dict) -> bool:
            if not set(replaced) <= set(man["members"]) or any(
                e["name"] not in seen and set(e["members"]) & set(replaced)
                for e in man["overlays"]
            ):
                return False
            man["members"] = [
                r for r in (replaced.get(m, m) for m in man["members"])
                if r is not None
            ]
            man["overlays"] = [
                r for r in (overlays.get(e["name"], e) for e in man["overlays"])
                if r is not None
            ]
            _drop_spent(man)
            return True

        if self._flip(table, edit):
            return True
        for m in replaced.values():
            if m is not None:
                shutil.rmtree(
                    os.path.join(self.path(table), m), ignore_errors=True
                )
        for e in overlays.values():
            if e is not None:
                shutil.rmtree(self._overlay_path(table, e), ignore_errors=True)
        return False

    def _commit_rewrite(
        self, table: str, replaced: dict[str, str | None], snap: dict,
        overlays: dict[str, dict | None] | None = None,
    ) -> None:
        """Commit a mutation's member rewrite (``_swap_members``).  Raises
        when the snapshot went stale: the mutation then changed nothing."""
        if not self._swap_members(table, replaced, snap, overlays):
            raise RuntimeError(_RETRY.format(table))

    def _write_member(self, table: str, df: DataFrame, member: str) -> int:
        """Write ``df`` as the (not yet listed) member directory ``member``
        in the table's declared layout; returns its row count, taken from
        the parquet footers (no Spark job).  A zero-row member directory is
        removed: Spark still writes one schema-only file for an empty
        frame, and a listed empty member would cost every read a scan."""
        target = os.path.join(self.path(table), member)
        w = self._writer(df).mode("overwrite")
        if self._is_date_partitioned(table):
            w = w.partitionBy("event_date")
        w.parquet(target)
        n = self._count_rows_parquet(target)
        if n == 0:
            shutil.rmtree(target, ignore_errors=True)
        return n

    def schema_for(
        self, table: str, meta: dict | None = None
    ) -> T.StructType:
        """The declared schema (the ALTERed one when a migration has been
        applied); ``meta`` is the already-resolved metadata document."""
        meta = self._meta(table) if meta is None else meta
        schema = _declared_schema(meta) or _ALL_SCHEMAS[table]
        if self._is_date_partitioned(table, meta) and not any(
            f.name == "event_date" for f in schema.fields
        ):
            return T.StructType(
                [*schema.fields, T.StructField("event_date", T.DateType())]
            )
        return schema

    def read(self, table: str) -> DataFrame:
        """Read a table: exactly the CURRENT manifest's members.  A table
        with no members reads as empty with its declared schema, so every
        pipeline is total on a fresh warehouse.  After an applied migration
        the read conforms to the ALTERed schema (typed NULLs for added
        columns, casts for widened ones) — old members are served through
        the new schema without rewrite.  The metadata document is resolved
        ONCE and every step below uses that copy.

        A listed member or overlay that is missing while the plan is built
        (``exchange_tables`` swapped the directory after the manifest was
        resolved) re-resolves the manifest once: a changed manifest is
        read, an unchanged one re-raises."""
        man = self.load_manifest(table)
        try:
            return self._read_manifest(table, man)
        except FileNotFoundError:
            fresh = self.load_manifest(table)
            if fresh == man:
                raise
            return self._read_manifest(table, fresh)

    def read_at_version(self, table: str, version: int) -> DataFrame:
        """Snapshot read: the table EXACTLY as manifest version ``version``
        listed it — its members masked by its own overlay entries, the
        Iceberg-style time travel the version-pointer layout gives for
        free.  Every retained version (``_MANIFEST_KEEP`` flips
        back) stays readable, because ``gc`` deletes only what no retained
        version lists; raises ``LookupError`` for pruned or unknown
        versions.  Computed columns apply as in ``read`` — they are
        read-time semantics of the table, not part of a version."""
        path = os.path.join(self._manifest_dir(table), f"v{version:08d}.json")
        try:
            with open(path) as fh:
                man = json.load(fh)
        except OSError:
            raise LookupError(
                f"no retained manifest version {version} for {table!r}"
            ) from None
        _check_overlays(
            man.setdefault("overlays", []), f"{table!r} v{version}"
        )
        return self._read_manifest(table, man)

    def _read_manifest(self, table: str, man: dict) -> DataFrame:
        """The rows manifest ``man`` lists: its members through its
        overlays, with the computed columns applied."""
        meta = self._meta(table)
        return self._apply_computed_read(
            self._read_members(
                table, man["members"], meta=meta, overlays=man["overlays"]
            ),
            meta,
        )

    def _read_members(
        self, table: str, members: list[str], keep_dv_tag: bool = False,
        meta: dict | None = None, overlays: list[dict] | None = None,
        files: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Scan exactly the given member dirs; a pointer flip mid-query
        cannot mix generations.  The ONE member-scan path of every table
        read: each member's first footer is read once (``_footers``), the
        members are grouped by footer schema, and each group is ONE
        multi-path scan rooted at the table (``basePath`` = the table root,
        so partition discovery sees ``member=…/event_date=…``, prunes
        event_date as a per-member read would, and the discovered
        ``member`` column names each row's member).  A table with uniform
        footers is one scan node — one shared file index, one split
        planning pass, however many members.

        The metadata-only ALTERs apply as ONE projection over each group's
        scan: MODIFY COLUMN cast-on-read where the group's footer type
        differs from the declared type; DEFAULT/MATERIALIZED back-fill
        where the group's footer lacks the column (a footer that has it
        serves stored values verbatim, explicit NULLs included — the
        ClickHouse per-part contract); the CLEAR COLUMN mask on the
        addressed members' rows of the cleared partition.  The groups are
        unioned by name; the rename fold, the overlays and the declared
        schema then apply over the union.

        When an overlay (lightweight DELETE/UPDATE) addresses a scanned
        member, every scan is tagged by ``_tag_rows`` with the (file under
        the table root, row position) address from the parquet
        ``_metadata`` BEFORE the union — the hidden column only resolves on
        a raw scan — and ``_apply_overlays`` applies them; with
        ``keep_dv_tag`` the position columns stay visible (the mutation
        writers need them).  ``meta`` is the caller's resolved metadata
        document and ``overlays`` the overlay entries of the caller's
        manifest (each resolved here when None).  ``files`` narrows a
        member's scan to the listed files (paths relative to the member
        dir; the skip index's survivors); an unlisted member is scanned
        whole."""
        meta = self._meta(table) if meta is None else meta
        override = meta.get("schema")
        if overlays is None:
            overlays = self.load_manifest(table)["overlays"]
        overlays = _addressing(overlays, members)
        tag = bool(overlays) or keep_dv_tag
        files = files or {}
        root = self.path(table)
        # the declared schema carries legacy (pre-rename) names, so old
        # files' values surface; folded ONCE after the union (the
        # coalesce is disjoint-correct across mixed members)
        legacy = (
            self._legacy_read_schema(table, meta)
            if override is not None else None
        )
        stored = self._stored_computed(meta)
        cleared = meta.get("cleared", [])
        resets = {
            e["col"]: self._reset_value(table, e["col"], meta)
            for e in cleared
        }
        dfs = []
        for footer, group in _by_footer(self._footers(table, members)).items():
            paths = [
                p for m in group
                for p in (
                    [os.path.join(root, m, f) for f in files[m]]
                    if m in files else [os.path.join(root, m)]
                )
            ]
            have = {f.name: f.dataType for f in footer.fields}
            # MODIFY COLUMN: the cast decision is taken from the FOOTER
            # against the declared type — not from the cast-chain
            # registry — so reads stay correct even for old-type files
            # minted after the chain retired (or by writers that bypassed
            # _prep); such a group scans with the footer's type
            casts = {
                f.name: f.dataType for f in (legacy.fields if legacy else ())
                if f.name in have
                and have[f.name].simpleString() != f.dataType.simpleString()
            }
            schema = footer if legacy is None else T.StructType([
                T.StructField(f.name, have[f.name], True)
                if f.name in casts else f
                for f in legacy.fields
            ])
            df = (
                self.spark.read.schema(schema)
                .option("basePath", root)
                .parquet(*paths)
            )
            if tag:
                df = _tag_rows(df)
            fill = {
                n: F.expr(cc["expr"]).cast(cc["type"])
                for n, cc in stored.items() if n not in have
            }
            masks: dict = {}
            for e in cleared:
                hit = [m for m in group if m in e["members"]]
                if not hit or "event_date" not in df.columns or (
                    e["col"] not in df.columns and e["col"] not in fill
                ):
                    continue
                cond = F.col("event_date") == F.to_date(F.lit(e["date"]))
                if len(hit) < len(group):
                    cond = cond & F.col(_MEMBER_KEY).isin(
                        [m.split("=", 1)[1] for m in hit]
                    )
                masks[e["col"]] = (
                    cond if e["col"] not in masks else masks[e["col"]] | cond
                )
            if casts or fill or masks:

                def value(c: str):
                    expr = fill[c] if c in fill else F.col(c)
                    if c in casts:
                        expr = expr.cast(legacy[c].dataType)
                    if c in masks:
                        expr = F.when(masks[c], resets[c]).otherwise(expr)
                    return expr.alias(c)

                df = df.select(
                    *[value(c) for c in df.columns],
                    *[value(n) for n in fill if n not in df.columns],
                )
            dfs.append(df.drop(_MEMBER_KEY))
        if not dfs:
            return self.spark.createDataFrame(
                [], self.schema_for(table, meta)
            )
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        # rename fold: ONE projection over the union — a legacy column
        # holds a value in pre-rename members and NULL in post-rename
        # ones, so coalesce(new, old…) is exact here
        out = self._apply_overlays(
            table, self._apply_renames(out, meta.get("renames", {})), overlays
        )
        if tag and not keep_dv_tag:
            out = out.drop("__dv_file", "__dv_pos")
        if override is not None:
            target = self.schema_for(table, meta)
            if tag and keep_dv_tag:
                # the delete-writer needs the position tag to survive the
                # declared-schema projection
                target = T.StructType(
                    [
                        T.StructField("__dv_file", T.StringType()),
                        T.StructField("__dv_pos", T.LongType()),
                        *target.fields,
                    ]
                )
            out = conform_to_schema(out, target)
        return out

    # -- lightweight DELETE / UPDATE overlays ---------------------------------

    def _apply_overlays(
        self, table: str, out: DataFrame, overlays: list[dict]
    ) -> DataFrame:
        """THE overlay step of every read: ``out`` scans members tagged by
        ``_tag_rows``; ``overlays`` are the manifest entries addressing
        them.  One anti-join masks every address the deletion vectors
        list.  A lightweight UPDATE is a deletion vector plus the member
        it appended, so its rows arrive through the member scan and no
        overlay carries rows.  The tag columns stay."""
        if not overlays:
            return out
        # DV schema is FIXED by the delete-writer (the address pair) —
        # an explicit schema skips inference entirely (r14)
        dv = self.spark.read.schema(
            "__dv_file string, __dv_pos long"
        ).parquet(*[self._overlay_path(table, e) for e in overlays])
        return out.join(dv, ["__dv_file", "__dv_pos"], "left_anti")

    def _overlay_path(self, table: str, entry: dict) -> str:
        return os.path.join(self.path(table), _overlay_rel(entry))

    def _new_overlay(self, table: str) -> str:
        """A fresh, not yet listed deletion-vector directory."""
        return os.path.join(
            self.path(table), _DV_DIR, f"dv-{uuid.uuid4().hex[:8]}"
        )

    def _commit_overlay(
        self, table: str, path: str, snap: dict, adds: str | None = None
    ) -> None:
        """Commit the written deletion vector ``path`` — with ``adds``,
        the not yet listed member a lightweight UPDATE wrote its rows to —
        as ONE manifest flip; ``snap`` is the manifest the mutation
        matched against.  The entry's ``members`` are read from the rows'
        ``__dv_file`` column with pyarrow (no Spark job); ``address``
        marks its rows' table-relative addresses.  The flip is refused,
        both directories are deleted and the write raises when:

        - a member the rows address was replaced since the snapshot (a
          compaction or mutation flipped first): the rows would address
          files no read scans;
        - an UPDATE committed since the snapshot addresses one of those
          members: it may have moved a matched row to its own member,
          where this mask would miss it;
        - for an UPDATE, any overlay committed since the snapshot
          addresses one of those members: it may have deleted or moved a
          matched row, and the appended copy would resurrect or
          duplicate it.

        Two DELETEs never conflict: both masks apply."""
        members = self._overlay_members(path)
        seen = {e["name"] for e in snap["overlays"]}

        def add(man: dict) -> bool:
            if not set(members) <= set(man["members"]) or any(
                e["name"] not in seen and (adds or "adds" in e)
                for e in _addressing(man["overlays"], members)
            ):
                return False
            entry = {
                "name": os.path.basename(path),
                "kind": "dv",
                "members": members,
                "address": _ADDRESS,
            }
            if adds is not None:
                entry["adds"] = adds
                man["members"].append(adds)
            man["overlays"].append(entry)
            return True

        if not self._flip(table, add):
            shutil.rmtree(path, ignore_errors=True)
            if adds is not None:
                shutil.rmtree(
                    os.path.join(self.path(table), adds), ignore_errors=True
                )
            raise RuntimeError(_RETRY.format(table))

    @staticmethod
    def _overlay_members(path: str) -> list[str]:
        """The members the rows of the overlay directory ``path`` address:
        the first component of each distinct ``__dv_file``, read with
        pyarrow."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        refs = pc.unique(
            pq.read_table(path, columns=["__dv_file"])["__dv_file"]
        ).to_pylist()
        return sorted({r.split("/", 1)[0] for r in refs})

    def overlay_files(self, table: str) -> list[str]:
        """Names of the live overlay (deletion-vector) entries —
        derived structures (projections) invalidate when it moves."""
        return sorted(e["name"] for e in self.load_manifest(table)["overlays"])

    # -- mutation log (system.mutations analog) ------------------------------

    def _mutlog_path(self, table: str) -> str:
        return os.path.join(self.path(table), "_mutations.jsonl")

    def _log_mutation(self, table: str, kind: str, command: str, **extra):
        """Append one entry to the table's mutation log — the record
        ``system.mutations`` serves in ClickHouse.  Single-writer
        append-only jsonl next to the manifest; a reader never sees a
        torn entry larger than one OS pipe buffer (entries are tiny)."""
        if not os.path.isdir(self.path(table)):
            return  # nonexistent table: don't mint a phantom dir
        entry = {
            "mutation_id": None,  # assigned below from the current count
            "kind": kind,
            "command": command,
            "created_at": time.time(),
            **extra,
        }
        path = self._mutlog_path(table)
        n = 0
        if os.path.exists(path):
            with open(path) as fh:
                n = sum(1 for line in fh if line.strip())
        entry["mutation_id"] = n
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")

    def mutations(self, table: str) -> DataFrame:
        """``system.mutations`` analog: one row per mutation command ever
        issued against the table — ALTER DELETE/UPDATE part rewrites and
        lightweight DELETE/UPDATE overlays — with the command text,
        creation time, rows affected, and whether the mutation is
        MATERIALIZED into data files (part rewrites are materialized by
        construction; a lightweight mutation materializes when a merge
        folds its overlay and GC collects it, exactly ClickHouse's
        ``is_done``).  Metadata only: the log and the manifest's overlay
        entries, no data scan at any table size."""
        live = set(self.overlay_files(table))
        rows = []
        try:
            with open(self._mutlog_path(table)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    e = json.loads(line)
                    ov = e.get("overlay_file")
                    rows.append((
                        table,
                        int(e["mutation_id"]),
                        e["kind"],
                        e["command"],
                        float(e["created_at"]),
                        int(e.get("rows_affected", 0)),
                        ov,
                        int(e.get("members_rewritten", 0)),
                        ov is None or ov not in live,
                    ))
        except OSError:
            pass
        return self.spark.createDataFrame(
            rows,
            "table string, mutation_id long, kind string, command string,"
            " created_at double, rows_affected long, overlay_file string,"
            " members_rewritten long, is_materialized boolean",
        )

    def update_where_lightweight(
        self, table: str, assignments: dict[str, object], condition
    ) -> dict:
        """Lightweight ``UPDATE … SET … WHERE`` analog, the Delta/Iceberg
        shape of an update: instead of rewriting members like
        ``update_set`` (the ALTER UPDATE mutation), the matched rows are
        re-assigned and materialized ONCE, then written twice — their
        (table-relative file, row position) addresses (``_tag_rows``) as
        a deletion vector, and the rows themselves as a new ``updated``
        member in the merge layout (``_rewrite_member``).  ONE manifest
        flip commits both (a crash before it leaves the table untouched),
        so a read sees the old rows or the new ones, never both.  Update
        cost is one predicate scan + writes proportional to the MATCHED
        rows, no rewrite of the members they came from.  ``compact()``
        folds the mask and the new member like any other; ``gc`` later
        deletes the superseded directories.

        The match runs against the CURRENT visible state (earlier
        updates' members included, DV-masked rows excluded), so
        re-issuing an update whose predicate no longer matches is
        idempotent, and each logical row has exactly one live copy: a
        later DELETE or UPDATE of updated rows addresses them in the
        member the update appended, so the latest update wins with no
        ordering on read.  A concurrent mutation addressing the same
        members makes the commit refuse (``_commit_overlay``)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        man = self.load_manifest(table)
        # footer-stats member pruning (VERDICT r11 #4): the predicate scan
        # reads only members whose parquet metadata admits a match
        members, _ = self._prune_members_for_mutation(
            table, man["members"], cond
        )
        if not members:
            cols = self.read(table).columns
            for col in assignments:
                if col not in cols:
                    raise ValueError(f"no such column {col!r} in {table!r}")
            self._log_mutation(
                table, "UPDATE_LIGHTWEIGHT",
                f"UPDATE … WHERE {condition}", rows_affected=0,
            )
            return {"rows_updated": 0, "dv_files": len(man["overlays"])}
        tagged = self._read_members(
            table, members, keep_dv_tag=True, overlays=man["overlays"]
        )
        data_cols = [
            c for c in tagged.columns if c not in ("__dv_file", "__dv_pos")
        ]
        sets = {}
        for col, e in assignments.items():
            if col not in data_cols:
                raise ValueError(f"no such column {col!r} in {table!r}")
            sets[col] = F.expr(e) if isinstance(e, str) else e
        # ALL assignment RHS evaluate against the PRE-update row in one
        # select (ClickHouse ALTER UPDATE semantics, and _mutate's):
        # {a: 'b', b: 'a'} swaps — a sequential withColumn chain would
        # feed a's new value into b's expression instead
        hits = tagged.filter(cond).select(
            *[
                sets[c].cast(tagged.schema[c].dataType).alias(c)
                if c in sets
                else F.col(c)
                for c in tagged.columns
            ]
        ).persist()
        cmd = "UPDATE %s WHERE %s" % (
            ", ".join(f"{c} = {e}" for c, e in assignments.items()),
            condition,
        )
        try:
            n = self._write_overlay(
                table, hits, man, "UPDATE_LIGHTWEIGHT", cmd,
                rows=hits.drop("__dv_file", "__dv_pos"),
            )
        finally:
            hits.unpersist()
        return {"rows_updated": n, "dv_files": len(self.overlay_files(table))}

    def delete_where_lightweight(self, table: str, condition) -> dict:
        """ClickHouse ``DELETE FROM … WHERE`` (lightweight delete) analog:
        instead of rewriting members like ``delete_where`` (the ALTER
        DELETE mutation), persist a POSITIONAL deletion vector — the
        (table-relative file, row_index) addresses of matched rows
        (``_tag_rows``) — and mask it on every
        read.  Delete cost is one predicate scan + a tiny DV write, no
        data rewrite; ``compact()`` materializes the mask into the new
        member and its commit drops the spent DVs (exactly ClickHouse's
        ``_row_exists`` mask folded by background merges, and the
        Iceberg/Delta deletion-vector design at lake scale).

        Matches against rows ALREADY masked by earlier DVs are excluded,
        so re-issuing a delete is idempotent (0 new rows).  A DV is part
        of the versions from its commit on: ``read_at_version`` of an
        earlier version does not apply it."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        man = self.load_manifest(table)
        # footer-stats member pruning (VERDICT r11 #4): the predicate scan
        # reads only members whose parquet metadata admits a match
        members, _ = self._prune_members_for_mutation(
            table, man["members"], cond
        )
        cmd = f"DELETE WHERE {condition}"
        n = 0
        if members:
            hits = self._read_members(
                table, members, keep_dv_tag=True, overlays=man["overlays"]
            ).filter(cond)
            n = self._write_overlay(
                table, hits, man, "DELETE_LIGHTWEIGHT", cmd
            )
        else:
            self._log_mutation(
                table, "DELETE_LIGHTWEIGHT", cmd, rows_affected=0
            )
        return {"rows_deleted": n, "dv_files": len(self.overlay_files(table))}

    def _write_overlay(
        self, table: str, hits: DataFrame, snap: dict, log_kind: str,
        cmd: str, rows: DataFrame | None = None,
    ) -> int:
        """Write the addresses of the tagged ``hits`` as a new deletion
        vector and, for an UPDATE, ``rows`` (the re-assigned hits) as a
        new member; commit both in one flip against the manifest ``snap``
        the match read, and log the mutation.  Returns the rows masked
        (0 writes nothing)."""
        path = self._new_overlay(table)
        # repartition(1), not coalesce(1): coalesce collapses the WHOLE
        # predicate scan into one task (at 100 TB, one task reading every
        # candidate member); the repartition keeps the scan parallel and
        # shuffles only the MATCHED rows into the single overlay file (r13)
        self._writer(
            hits.select("__dv_file", "__dv_pos").repartition(1)
        ).mode("overwrite").parquet(path)
        n = self._count_rows_parquet(path)
        if n == 0:
            shutil.rmtree(path, ignore_errors=True)
            self._log_mutation(table, log_kind, cmd, rows_affected=0)
            return 0
        adds = None if rows is None else self._rewrite_member(
            table, rows, "updated"
        )
        self._commit_overlay(table, path, snap, adds)
        self._log_mutation(
            table, log_kind, cmd,
            rows_affected=n, overlay_file=os.path.basename(path),
        )
        return n

    def gc_deletes(self, table: str) -> int:
        """Drop the overlay entries none of whose members the CURRENT
        manifest lists (``_drop_spent``), as one new version.  Every
        rewrite and overwrite already applies this rule in its own commit,
        so this standalone form is idempotent and normally drops nothing.
        The directories stay for the versions that list them; ``gc``
        deletes them.  Manifest only, no Spark job.  Returns the number of
        entries dropped."""
        dropped = 0

        def drop(man: dict) -> bool:
            nonlocal dropped
            dropped = _drop_spent(man)
            return dropped > 0

        self._flip(table, drop)
        return dropped

    def _count_rows_parquet(self, path: str) -> int:
        """Row count of a just-written parquet dir from the file FOOTERS —
        the count is free metadata; the old ``spark.read...count()`` paid a
        whole Spark job per mutation call (r13, guide §1.2: don't compute
        what metadata already knows).

        Footer-read errors PROPAGATE (r14, ADVICE): the staging dir is
        local and was written by this process moments ago, so a failure
        here is a real fault — the old blanket ``return 0`` made the
        mutation writers treat it as 'no rows matched' and silently drop
        an UPDATE/DELETE that did match rows."""
        import pyarrow.parquet as pq

        n = 0
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.ParquetFile(
                        os.path.join(dirpath, f)
                    ).metadata.num_rows
        return n

    def read_window(self, table: str, start_ts, end_ts) -> DataFrame:
        """Windowed scan with explicit partition pruning: the ts predicate
        alone cannot prune a date-partitioned table, so the event_date
        predicate is added alongside (SURVEY.md §4 partition-pruning note)."""
        df = self.read(table)
        if "event_date" in df.columns:
            df = df.filter(
                (F.col("event_date") >= F.to_date(F.lit(start_ts)))
                & (F.col("event_date") <= F.to_date(F.lit(end_ts)))
            )
        return df.filter(
            (F.col("event_ts") >= F.lit(start_ts)) & (F.col("event_ts") < F.lit(end_ts))
        )

    def append(
        self, table: str, df: DataFrame, batch_id: int | None = None
    ) -> int:
        """Append rows as a new member and commit it; returns the number of
        rows written (0 commits no member).

        With ``batch_id`` the write is IDEMPOTENT (streaming callers pass
        the foreachBatch id): rows land in the member ``member=batch-<id>``,
        which a replay after a partial write overwrites, and the commit
        records the id in the manifest's replay ledger, so a replay of a
        committed id is skipped entirely.  Appends with and without batch
        ids mix freely on one table."""
        if batch_id is not None and self.batch_committed(table, batch_id):
            # Replay of an already-committed batch: skip ENTIRELY.  The
            # ledger outlives compaction folding the batch member into a
            # compacted one, so re-writing + re-registering here would
            # duplicate every row of the batch (the rows already live in
            # the compacted member).  Skipping is safe because a replayed
            # micro-batch re-derives the identical rows by construction.
            return 0
        df = self._prep(table, self._apply_computed_write(table, df))
        if batch_id is None:
            member = _new_member("insert")
        else:
            member = batch_member(batch_id)
            if self._is_date_partitioned(table) and "event_date" in df.columns:
                # ONE part per (batch, date) — the MergeTree
                # one-part-per-insert shape.  A micro-batch is bounded (a
                # 10-min window at the reference envelope ≈ 200k events),
                # so the per-date shuffle is tiny, while writing the
                # upstream shuffle's 32+ partitions straight out produces
                # 32 ~300-row files per table per batch — the small-file
                # flood the ingest soak measured (1900+ live files between
                # compactions, ~2.4k ev/s); coalesced appends write 3/batch.
                df = df.repartition("event_date").sortWithinPartitions(
                    *self._sort_key(table)
                )
        n = self._write_member(table, df, member)

        def commit(man: dict) -> bool:
            # data lands first, the pointer flips second — a crash between
            # the two leaves an unlisted dir (a batch replay overwrites it,
            # gc() sweeps any other)
            if batch_id is not None:
                if batch_id in man["committed_batches"]:
                    # a concurrent replay committed first; its rows may
                    # since live in a compacted member, so listing this
                    # member again would duplicate them
                    return False
                man["committed_batches"].append(batch_id)
            if n:
                man["members"].append(member)
            return True

        if not self._flip(table, commit):
            return 0
        return n

    def batch_committed(self, table: str, batch_id: int) -> bool:
        """True when ``append(..., batch_id=...)`` has fully committed for
        this id (the replay-skip marker of the streaming sink).  The
        manifest ledger is the only record — it survives compaction folding
        the batch member away, so a late replay cannot re-append rows that now
        live inside a compacted member, and files of a write that crashed
        before its commit never count."""
        return batch_id in self.load_manifest(table)["committed_batches"]

    def overwrite(self, table: str, df: DataFrame) -> int:
        """Full-snapshot replace (SCD2 dims, refreshable views); returns the
        number of rows written.  The new member is written from the lazy
        plan first, then the manifest flips to it alone (to no member for a
        0-row snapshot) and drops the overlay entries — so the input may
        read the table it replaces, with no checkpoint.  The superseded
        members stay on disk until ``gc``."""
        return self._replace(
            table, self._prep(table, self._apply_computed_write(table, df))
        )

    def _replace(self, table: str, df: DataFrame) -> int:
        """``overwrite`` of rows already in the stored shape."""
        member = _new_member("insert")
        n = self._write_member(table, df, member)

        def replace(man: dict) -> bool:
            man["members"] = [member] if n else []
            _drop_spent(man)
            return True

        self._flip(table, replace)
        # CLEAR entries addressed to the replaced members are spent
        self._gc_alter_overlays(table)
        return n

    def compact(
        self,
        table: str,
        ttl_older_than=None,
        mode: str = "full",
        max_generations: int = 4,
        transform=None,
        now=None,
    ) -> int:
        """Small-file compaction — the engine's analog of MergeTree background
        merges (streaming foreachBatch appends one file set per micro-batch;
        ClickHouse merges parts the same way, SURVEY.md S3/S4).  Returns the
        number of data files after compaction.

        ``mode="full"`` (default) rewrites the whole live set — the
        OPTIMIZE TABLE FINAL analog; ``mode="tiered"`` folds only the
        members appended since the last compaction into a new generation
        (major-merging the generations once ``max_generations`` exist), so
        the production maintenance cadence costs O(ingest window), not
        O(table) — the actual MergeTree background-merge discipline.

        Compaction is CONCURRENT-SAFE: the live member set is snapshotted
        from the manifest, rewritten to one sorted file per event_date
        partition in a NEW ``compacted`` member, and the pointer flips to
        [new member] + [members that appended since the snapshot].  Appends
        landing mid-compaction register themselves in the manifest and
        survive the flip; readers resolve the pointer once and never see a
        half-swapped table.  When a snapshot member is no longer live at
        the flip (an overwrite replaced it), the new member is discarded
        and the manifest left as it is; so is it when a lightweight
        DELETE/UPDATE addressing a folded member committed after the
        snapshot (the rewrite never applied it).  Only compactors must not run
        concurrently with each other (one compactor + N appenders is the
        supported discipline — same as ClickHouse merges owning parts).
        The flip drops the overlay entries the merge materialized; the
        folded members and those overlays' directories stay on disk for
        readers holding an older version, until ``gc`` finds no retained
        version listing them (ClickHouse's ``old_parts_lifetime``)."""
        if not self.exists(table):
            return 0
        if self.merges_stopped(table):
            # SYSTEM STOP MERGES: the background merge is a no-op until
            # START MERGES; appends/reads/mutations continue unaffected
            return self._listed_files(table)
        ttl_cond = None
        if ttl_older_than is not None:
            # TTL folded into the merge — ClickHouse applies TTL exactly
            # here, when a merge rewrites parts anyway (zero extra passes)
            import datetime

            cutoff = ttl_older_than
            if isinstance(cutoff, str):
                cutoff = datetime.datetime.fromisoformat(cutoff)
            ttl_cond = F.col("event_ts") >= F.lit(cutoff)
        elif transform is None:
            # DECLARED TTL (set_table_ttl): the merge enforces it without
            # the caller re-stating the clause — the CH MODIFY TTL contract
            decl = self.table_ttl(table)
            if decl is not None:
                import datetime

                now_dt = now or datetime.datetime.now()
                cutoff = now_dt - datetime.timedelta(
                    days=decl["interval_days"]
                )
                if decl.get("group_by"):
                    transform = self._ttl_rollup_transform(
                        cutoff, decl["group_by"], decl["aggregates"],
                        decl["ttl_col"],
                    )
                else:
                    ttl_cond = F.coalesce(
                        F.col(decl["ttl_col"]) >= F.lit(cutoff), F.lit(True)
                    )
                    if decl.get("where"):
                        # conditional TTL: rows NOT matching the WHERE
                        # never expire (NULL predicate = not matching)
                        ttl_cond = ttl_cond | ~F.coalesce(
                            F.expr(decl["where"]), F.lit(False)
                        )
        row_set_transform = transform is not None
        colttl = self.column_ttls(table)
        if colttl:
            # declared COLUMN TTLs fold into every merge as one extra
            # projection (row count unchanged) — applied to raw rows
            # BEFORE any caller/rollup transform.  Column TTL alone does
            # NOT force a full merge: ClickHouse applies it to exactly
            # the parts a merge rewrites, so expired values inside
            # untouched generations wait for their generation's merge.
            import datetime

            now_dt = now or datetime.datetime.now()
            col_tf = self._column_ttl_transform(table, colttl, now_dt)
            inner = transform
            transform = (
                (lambda df: inner(col_tf(df)))
                if inner is not None
                else col_tf
            )
        if ttl_cond is not None:
            # TTL must see every row, including ones inside old compacted
            # generations a tiered pass would skip
            mode = "full"
        if row_set_transform:
            # a row-set rewrite (e.g. DEDUPLICATE, rollup TTL) must see
            # every row
            mode = "full"
        man = self.load_manifest(table)
        snapshot = list(man["members"])
        if mode == "tiered":
            # ClickHouse-merge discipline: a background (minor) merge folds
            # only the NEW parts — members since the last compaction —
            # into one generation, so its cost is ∝ the ingest window, NOT
            # the table (the full-rewrite default's cost grows with every
            # cycle: the ingest soak measured 8.5 s → 12.8 s over 100
            # batches).  Generations are capped: when ``max_generations``
            # compacted members exist, the next pass folds them too (a
            # major merge — LSM-style amortized O(table/k) per cycle).
            # ``mode="full"`` remains the OPTIMIZE TABLE FINAL analog.
            gens = [m for m in snapshot if member_kind(m) == "compacted"]
            fresh = [m for m in snapshot if m not in gens]
            snapshot = fresh + (gens if len(gens) >= max_generations else [])
        if snapshot:
            merged = self._read_members(
                table, snapshot, overlays=man["overlays"]
            )
            if ttl_cond is not None:
                merged = merged.filter(ttl_cond)
            if transform is not None:
                merged = transform(merged)
            new_member = self._rewrite_member(table, merged, "compacted")
            # the new member takes the first folded member's place; the
            # merged read applied the folded members' overlays, so the
            # flip drops the entries it spent
            if self._swap_members(
                table,
                {m: None for m in snapshot} | {snapshot[0]: new_member},
                man,
            ):
                # cast chains / CLEAR overlays addressed to the folded
                # members are now physically materialized — retire spent
                # entries (footer metadata only, no data scan)
                self._gc_alter_overlays(table)
        return self._listed_files(table)

    def _listed_files(self, table: str) -> int:
        """Data files of the members the CURRENT manifest lists."""
        return sum(
            f.endswith(".parquet")
            for m in self.load_manifest(table)["members"]
            for _r, _d, fs in os.walk(os.path.join(self.path(table), m))
            for f in fs
        )

    def optimize_deduplicate(
        self, table: str, by: list[str] | None = None
    ) -> dict:
        """``OPTIMIZE TABLE … FINAL DEDUPLICATE [BY col, …]`` analog: a
        full merge that removes duplicate rows.  Without ``by``, rows
        identical in EVERY column collapse to one (a set — no pick
        needed).  With ``by``, exactly one row per distinct by-tuple
        survives; stock ClickHouse keeps an arbitrary one, pinned
        deterministic here (first under a sort over the remaining
        columns) so repeated runs and tests converge.  Runs as the same
        snapshot-rewrite-flip as ``compact`` — appends landing mid-merge
        survive the pointer flip.  Returns ``{"rows_before",
        "rows_after", "rows_removed"}``."""
        before = self.read(table).count()
        if by is None:
            transform = lambda df: df.dropDuplicates()  # noqa: E731
        else:
            by_cols = list(by)

            def transform(df: DataFrame) -> DataFrame:
                others = [c for c in df.columns if c not in by_cols]
                w = Window.partitionBy(*by_cols).orderBy(
                    *[F.col(c).asc_nulls_last() for c in others]
                ) if others else Window.partitionBy(*by_cols).orderBy(
                    F.lit(1)
                )
                return (
                    df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )

        self.compact(table, transform=transform)
        after = self.read(table).count()
        return {
            "rows_before": before,
            "rows_after": after,
            "rows_removed": before - after,
        }

    def _write_compacted(self, table: str, df: DataFrame, target: str) -> None:
        """One sorted file per event_date (hash-repartition on event_date:
        every date lands in exactly one task, dates run in parallel)."""
        par = self.spark.sparkContext.defaultParallelism
        if self._is_date_partitioned(table) and "event_date" in df.columns:
            out = df.repartition(par, "event_date").sortWithinPartitions(
                *self._sort_key(table)
            )
            self._writer(out).mode("overwrite").partitionBy("event_date").parquet(target)
        elif self._sort_key(table) is not None:
            # ORDER-BY-only layout: one sorted file, no date directories
            out = df.coalesce(1).sortWithinPartitions(*self._sort_key(table))
            self._writer(out).mode("overwrite").parquet(target)
        else:
            self._writer(df.coalesce(1)).mode("overwrite").parquet(target)

    def _rewrite_member(
        self, table: str, df: DataFrame, kind: str
    ) -> str | None:
        """Write ``df`` as a new, not yet listed member of ``kind`` in the
        merge layout (``_write_compacted``); None — and no directory — when
        it holds no rows."""
        member = _new_member(kind)
        target = os.path.join(self.path(table), member)
        self._write_compacted(table, df, target)
        if self._count_rows_parquet(target) == 0:
            shutil.rmtree(target, ignore_errors=True)
            return None
        return member

    def _gc_alter_overlays(self, table: str) -> None:
        """Retire MODIFY-COLUMN cast chains whose every live member
        already stores the declared type, and CLEAR COLUMN entries whose
        addressed members have all been rewritten away — both become
        physical as merges rewrite members, after which the metadata is
        dead weight on every read.  Footer metadata only, no data scan."""
        live = set(self.load_manifest(table)["members"])
        meta = self._meta(table)
        casts = meta.get("casts", {})
        if not casts and not meta.get("cleared"):
            return
        stale: set = set()
        for footer in self._footers(table, live if casts else ()).values():
            ftypes = {f.name: f.dataType for f in footer.fields}
            for c, ddl in casts.items():
                if c in ftypes and ftypes[c].simpleString() != ddl:
                    stale.add(c)
        retired = {c: d for c, d in casts.items() if c not in stale}
        self._commit_meta(
            table,
            casts=lambda cs: {
                c: d for c, d in (cs or {}).items() if retired.get(c) != d
            },
            cleared=lambda es: [
                e for e in (es or []) if set(e["members"]) & live
            ],
        )

    def materialize_column(self, table: str, name: str) -> dict:
        """``ALTER TABLE … MATERIALIZE COLUMN name`` — rewrite ONLY the
        members whose parquet footers predate the computed column, so its
        values become stored bytes (the read-side back-fill stops paying
        for those members and direct file readers see the column).
        Members written after the ADD COLUMN are untouched — the
        ClickHouse materialize-mutation contract (mutations address the
        parts that need them).  Returns ``{"members_rewritten",
        "members_kept"}``."""
        stored = self._stored_computed(self._meta(table))
        if name not in stored:
            raise ValueError(
                f"column {name!r} of {table!r} is not a stored "
                "(DEFAULT/MATERIALIZED) computed column"
            )
        man = self.load_manifest(table)
        snapshot = list(man["members"])
        rewritten: dict[str, str | None] = {}
        for m, footer in self._footers(table, snapshot).items():
            if name in footer.names:
                continue  # column already stored in this member
            # the member read back-fills the expression (and applies any
            # DV/cast overlays, which materialize along the way)
            rewritten[m] = self._rewrite_member(
                table,
                self._read_members(table, [m], overlays=man["overlays"]),
                "materialized",
            )
        if rewritten:
            self._commit_rewrite(table, rewritten, man)
            self._gc_alter_overlays(table)
        self._log_mutation(
            table, "materialize_column", f"MATERIALIZE COLUMN {name}",
            members_rewritten=len(rewritten),
        )
        return {
            "members_rewritten": len(rewritten),
            "members_kept": len(snapshot) - len(rewritten),
        }

    # -- mutations (ALTER TABLE … DELETE / UPDATE / DROP PARTITION, TTL) ----
    #
    # ClickHouse mutations rewrite only the PARTS that contain matching rows
    # and commit by swapping the part set (clickhouse/init/01_bronze_tables
    # MergeTree tables are mutated this way by ALTER … DELETE/UPDATE).  The
    # manifest gives the same discipline: snapshot the live members,
    # rewrite only members the predicate touches into new ``mutated``
    # members, flip the pointer.  Appends landing mid-mutation register
    # themselves and survive the flip; the ``committed_batches`` ledger is
    # untouched, so exactly-once replay semantics survive mutations exactly
    # as they survive compaction.  One maintenance writer (mutation OR
    # compaction) at a time — the same discipline ClickHouse applies to
    # merges/mutations owning parts.

    def delete_where(self, table: str, condition, partition=None) -> dict:
        """``ALTER TABLE … DELETE [IN PARTITION p] WHERE condition``
        analog.  ``condition`` is a SQL expression string or Column
        selecting rows to DELETE.  Members with no matching rows are kept
        as-is (the match probe is a count with the predicate pushed into
        the parquet scan, so row-group stats skip untouched members
        cheaply); with ``partition`` the probe SKIPS members that lack
        the partition directory entirely — no job at all for them, the
        CH IN PARTITION mutation-scoping.  Returns ``{"rows_deleted",
        "members_rewritten", "members_kept"}``."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        res = self._mutate(table, cond, None, partition=partition)
        self._log_mutation(
            table, "ALTER_DELETE",
            "ALTER DELETE"
            + (f" IN PARTITION '{partition}'" if partition else "")
            + f" WHERE {condition}",
            rows_affected=res.get("rows_deleted", 0),
            members_rewritten=res.get("members_rewritten", 0),
        )
        return res

    def update_set(
        self,
        table: str,
        assignments: dict[str, object],
        condition,
        partition=None,
    ) -> dict:
        """``ALTER TABLE … UPDATE col = expr, … [IN PARTITION p] WHERE
        condition`` analog.  ``assignments`` maps column name → SQL
        expression string or Column; rows matching ``condition`` get the
        new values, other rows pass through unchanged; ``partition``
        scopes the mutation to one event_date (members without it are
        never probed).  Returns ``{"rows_updated", "members_rewritten",
        "members_kept"}``."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        res = self._mutate(table, cond, assignments, partition=partition)
        self._log_mutation(
            table, "ALTER_UPDATE",
            "ALTER UPDATE %s%s WHERE %s" % (
                ", ".join(f"{c} = {e}" for c, e in assignments.items()),
                f" IN PARTITION '{partition}'" if partition else "",
                condition,
            ),
            rows_affected=res.get("rows_updated", 0),
            members_rewritten=res.get("members_rewritten", 0),
        )
        return res

    def _mutate(
        self,
        table: str,
        cond,
        assignments: dict[str, object] | None,
        partition=None,
    ) -> dict:
        verb = "rows_updated" if assignments is not None else "rows_deleted"
        if not self.exists(table):
            return {verb: 0, "members_rewritten": 0, "members_kept": 0}
        if partition is not None:
            # IN PARTITION: the predicate gains the partition equality so
            # rows outside it are untouched even inside probed members
            cond = cond & (
                F.col("event_date") == F.to_date(F.lit(str(partition)))
            )
        if assignments:
            missing = [
                c for c in assignments if c not in self.read(table).columns
            ]
            if missing:
                raise ValueError(
                    f"UPDATE of {table!r} assigns unknown columns {missing}"
                )

        def rewrite(df: DataFrame) -> DataFrame:
            if assignments is None:
                return df.filter(~cond)
            sets = {
                k: F.expr(v) if isinstance(v, str) else v
                for k, v in assignments.items()
            }
            return df.select(
                *[
                    F.when(cond, sets[c]).otherwise(F.col(c)).alias(c)
                    if c in sets
                    else F.col(c)
                    for c in df.columns
                ]
            )

        # rewrite ONLY affected members, flip the pointer
        man = self.load_manifest(table)
        snapshot = list(man["members"])
        rewritten: dict[str, str | None] = {}
        total = 0
        skipped_by_partition = 0
        # the directory fast path is only sound when members actually
        # carry event_date= levels: an ORDER-BY-only table has none, and
        # skipping on the missing directory would silently mutate nothing.
        # There, fall back to predicate probing (cond already carries the
        # partition equality) — loud AnalysisException if the table has
        # no event_date column at all, like CH's unknown-partition error.
        partition_dirs = partition is not None and (
            self._is_date_partitioned(table) or self._has_date_dirs(table)
        )
        # footer-stats member pruning (VERDICT r11 #4): candidate members
        # are chosen from driver-side parquet metadata before any probe
        # job launches, so mutation cost scales with MATCHED parts — the
        # CH part-scoping discipline.  Conservative: unparseable
        # predicates prune nothing.
        stats_kept, skipped_by_stats = self._prune_members_for_mutation(
            table, snapshot, cond
        )
        stats_kept_set = set(stats_kept)
        for m in snapshot:
            if partition_dirs and not os.path.isdir(
                os.path.join(
                    self.path(table), m, f"event_date={partition}"
                )
            ):
                # IN PARTITION fast path: the member has no directory for
                # the partition — no probe job at all (directory metadata)
                skipped_by_partition += 1
                continue
            if m not in stats_kept_set:
                continue
            mdf = self._read_members(table, [m], overlays=man["overlays"])
            n = mdf.filter(cond).count()
            if n == 0:
                continue
            total += n
            # a DELETE matching every row of the member drops it (None)
            rewritten[m] = self._rewrite_member(table, rewrite(mdf), "mutated")
        if not rewritten:
            return {verb: 0, "members_rewritten": 0,
                    "members_kept": len(snapshot),
                    "members_skipped_by_partition": skipped_by_partition,
                    "members_skipped_by_stats": skipped_by_stats}
        self._commit_rewrite(table, rewritten, man)
        return {
            verb: total,
            "members_rewritten": len(rewritten),
            "members_kept": len(snapshot) - len(rewritten),
            "members_skipped_by_partition": skipped_by_partition,
            "members_skipped_by_stats": skipped_by_stats,
        }

    def _remap_overlays_for_drop(
        self, table: str, part: str, replaced: dict[str, str | None],
        overlays: list[dict],
    ) -> dict[str, dict | None]:
        """Rewrite the overlay entries addressing members of a DROP
        PARTITION member swap.  Overlay rows address ``member=<old>/…``;
        the hardlink clones keep every path under the member, so the
        remap swaps the ``member=<old>/`` prefix for ``member=<new>/`` —
        without it the clone resurrects DV-deleted rows (and the original
        of every row a lightweight UPDATE moved) in the SURVIVING
        partitions.  Rows addressing the dropped partition itself are
        removed: their originals are gone.

        Returns ``{old entry name: new entry or None when no row
        survives}``; the new directories are written here and swapped in
        by the same manifest flip as the members."""
        addr = F.col("__dv_file")
        for old, new in replaced.items():
            if new is not None:
                addr = F.regexp_replace(addr, f"^{re.escape(old)}/", f"{new}/")
        remapped: dict[str, dict | None] = {}
        for e in _addressing(overlays, replaced):
            out = read_parquet(
                self.spark, self._overlay_path(table, e)
            ).filter(
                ~F.col("__dv_file").contains(f"/{part}/")
            ).withColumn("__dv_file", addr)
            path = self._new_overlay(table)
            self._writer(out.coalesce(1)).mode("overwrite").parquet(path)
            if self._count_rows_parquet(path) == 0:
                shutil.rmtree(path, ignore_errors=True)
                remapped[e["name"]] = None
                continue
            remapped[e["name"]] = {
                **e,
                "name": os.path.basename(path),
                "members": self._overlay_members(path),
            }
        return remapped

    def drop_partition(self, table: str, date) -> int:
        """``ALTER TABLE … DROP PARTITION`` analog — remove one
        ``event_date`` partition WITHOUT scanning or rewriting rows.  Each
        affected member is replaced by a hardlink clone excluding the
        dropped partition directory (metadata-only, O(files) not O(rows) —
        the reason ClickHouse DROP PARTITION is instant at any size), and
        the pointer flips.  The overlay entries addressing an affected
        member are rewritten by ``_remap_overlays_for_drop`` (a member-prefix
        swap of their table-relative addresses) in the same flip.  Returns
        the number of members affected."""
        part = f"event_date={date}"
        man = self.load_manifest(table)
        replaced: dict[str, str | None] = {}
        for m in man["members"]:
            src = os.path.join(self.path(table), m)
            if not os.path.isdir(os.path.join(src, part)):
                continue
            new_member = _new_member("mutated")
            dst = os.path.join(self.path(table), new_member)
            _link_tree(src, dst, skip=part)
            if first_parquet(dst) is None:
                shutil.rmtree(dst, ignore_errors=True)
                replaced[m] = None  # member was entirely the dropped partition
            else:
                replaced[m] = new_member
        if not replaced:
            return 0
        remapped = self._remap_overlays_for_drop(
            table, part, replaced, man["overlays"]
        )
        # CLEAR COLUMN overlays address members BY NAME; the hardlink
        # clones carry the same (unmasked) bytes under new names, so each
        # entry's member list must follow the rename or the mask silently
        # stops applying (dropped-away members leave the list)
        def remap(entries):
            remapped = []
            for e in entries or []:
                ms = [
                    replaced.get(m, m)
                    for m in e["members"]
                    if replaced.get(m, m) is not None
                ]
                if ms:
                    remapped.append({**e, "members": ms})
            return remapped

        self._commit_meta(table, cleared=remap)
        self._commit_rewrite(table, replaced, man, remapped)
        return len(replaced)

    def drop_member(self, table: str, member: str) -> bool:
        """Remove one manifest member (a pointer flip; ``gc`` deletes the
        directory) — the primitive behind member-scoped invalidation of
        derived tables (a projection dropping exactly the fold batches
        whose base members a lightweight mutation touched).  Idempotent: a
        member no longer listed returns False without a version bump.  The
        replay ledger is left untouched — callers mint monotonically
        increasing batch ids, so a dropped batch id is never reused."""
        def remove(man: dict) -> bool:
            if member not in man["members"]:
                return False
            man["members"].remove(member)
            _drop_spent(man)
            return True

        return self._flip(table, remove)

    def attach_partition(
        self, src_table: str, dst_table: str, date, replace: bool = False
    ) -> int:
        """``ALTER TABLE dst ATTACH/REPLACE PARTITION date FROM src``
        analog: hardlink-clone the source partition's data files into a
        new manifest member of the destination and flip the pointer —
        metadata-only (O(files), zero rows moved), exactly why the
        ClickHouse operation is instant at any size.  ``replace=True``
        drops the destination's existing partition first (REPLACE
        PARTITION); the source is never modified.

        Refused when the source carries deletion vectors: DVs address
        the SOURCE's members, so hardlinked clones would resurrect
        masked rows — compact the source first to materialize its mask.
        Returns the number of data files attached."""
        part = f"event_date={date}"
        src_man = self.load_manifest(src_table)
        if src_man["overlays"]:
            raise ValueError(
                f"source {src_table!r} has live deletion vectors; "
                "compact() it first so the overlay is materialized"
            )
        src_roots = [
            os.path.join(self.path(src_table), m)
            for m in src_man["members"]
        ]
        if replace:
            self.drop_partition(dst_table, date)
        new_member = _new_member("attached")
        dst = os.path.join(self.path(dst_table), new_member, part)
        linked = 0
        for root in src_roots:
            p = os.path.join(root, part)
            if not os.path.isdir(p):
                continue
            os.makedirs(dst, exist_ok=True)
            for f in sorted(os.listdir(p)):
                if f.startswith(".") or not f.endswith(".parquet"):
                    continue
                src_f = os.path.join(p, f)
                dst_f = os.path.join(dst, f"{linked:05d}-{f}")
                try:
                    os.link(src_f, dst_f)
                except OSError:
                    # cross-filesystem attach (EXDEV): degrade to a copy —
                    # still O(partition), never O(table)
                    shutil.copy2(src_f, dst_f)
                linked += 1
        if linked == 0:
            shutil.rmtree(
                os.path.join(self.path(dst_table), new_member),
                ignore_errors=True,
            )
            return 0
        def add(man: dict) -> bool:
            man["members"].append(new_member)
            return True

        self._flip(dst_table, add)
        return linked

    def backup_table(
        self, table: str, dest: str, base: str | None = None
    ) -> dict:
        """``BACKUP TABLE … TO Disk(…)`` analog: a CONSISTENT snapshot of
        the current manifest state — live members, deletion vectors,
        the replay ledger and the table's whole metadata
        document (schema, rename/cast chains, computed columns, CLEAR
        overlays, engine, TTLs) — hardlink-cloned
        (copy across filesystems).  Taken under the manifest lock so a
        concurrent append/compaction pointer flip cannot tear it;
        O(files), zero rows rewritten.  Overlay rows address files
        relative to the table root, so the backup records no source
        location and :meth:`restore_table` installs the overlays as they
        are.

        ``base`` = a previous backup of the same table → INCREMENTAL
        backup (CH ``SETTINGS base_backup = Disk(…)``): members and
        overlay entries whose files are inode-identical to the base's
        hardlink clones are RECORDED, not re-cloned, so the new backup's
        size is ∝ what changed since the base.  The inode check is
        exact, not name-trust: writers replace whole files (a replayed
        batch member re-minted under the same name fails
        ``samefile`` and is cloned fully).  Restores resolve the chain
        transparently."""
        if os.path.exists(dest) and os.listdir(dest):
            raise ValueError(f"backup destination {dest!r} is not empty")
        os.makedirs(dest, exist_ok=True)

        def same_tree(live: str, backed: str) -> bool:
            """Every file under ``live`` is the SAME inode as the base
            backup's clone (and the file sets match) — i.e. the entry is
            bit-identical to what the base already holds."""
            if not os.path.isdir(backed):
                return False
            live_files, backed_files = [], []
            for root_, d, fs in os.walk(live):
                live_files += [
                    os.path.join(os.path.relpath(root_, live), f)
                    for f in fs
                ]
            for root_, d, fs in os.walk(backed):
                backed_files += [
                    os.path.join(os.path.relpath(root_, backed), f)
                    for f in fs
                ]
            if sorted(live_files) != sorted(backed_files):
                return False
            try:
                return all(
                    os.path.samefile(
                        os.path.join(live, rel), os.path.join(backed, rel)
                    )
                    for rel in live_files
                )
            except OSError:
                return False

        base_abs = os.path.abspath(base) if base else None
        # the base may itself be incremental: an entry it RECORDED from
        # its own base has no physical copy there — resolve the check
        # through the whole base chain
        base_chain = _backup_chain(base_abs) if base_abs else []

        def in_base(rel: str, live: str) -> bool:
            held = _holder(base_chain, rel)
            return held is not None and same_tree(
                live, os.path.join(held, rel)
            )

        with self._manifest_lock(table):
            man = self.load_manifest(table)
            files = 0
            base_members: list[str] = []
            for m in man["members"]:
                live = os.path.join(self.path(table), m)
                if base_abs and in_base(m, live):
                    base_members.append(m)
                    continue
                files += _link_tree(live, os.path.join(dest, m))
            base_overlays: list[str] = []
            for e in man["overlays"]:
                rel = _overlay_rel(e)
                live = os.path.join(self.path(table), rel)
                if base_abs and in_base(rel, live):
                    base_overlays.append(e["name"])
                    continue
                files += _link_tree(live, os.path.join(dest, rel))
            meta = {
                "members": man["members"],
                "committed_batches": man["committed_batches"],
                "overlays": man["overlays"],
            }
            if base_abs:
                meta["base_backup"] = base_abs
                meta["base_members"] = base_members
                meta["base_overlays"] = base_overlays
            meta["table_meta"] = self._meta(table)
        with open(os.path.join(dest, "backup.json"), "w") as fh:
            json.dump(meta, fh, indent=1)
        return {
            "files": files,
            "members": len(meta["members"]),
            "members_from_base": len(meta.get("base_members", [])),
        }

    def restore_table(self, src: str, table: str) -> dict:
        """``RESTORE TABLE`` analog: install a :meth:`backup_table`
        snapshot as ``table``.  Member and overlay directories alike
        hardlink back (copy across filesystems) unchanged: deletion-vector
        rows address (file relative to the table root, position), which
        holds under any root.  A backup whose overlay entries key on
        absolute file paths, or that lists a ``patch`` entry, raises,
        naming the entry.  Refuses to overwrite an existing table."""
        if self.exists(table):
            raise ValueError(f"table {table!r} already exists")
        with open(os.path.join(src, "backup.json")) as fh:
            meta = json.load(fh)
        _check_overlays(meta["overlays"], f"backup {src!r}")
        # incremental chains (backup_table base=…): a member / overlay
        # entry restores from the NEAREST backup in the chain that
        # physically holds it
        chain = _backup_chain(src)
        for rel in [*meta["members"], *map(_overlay_rel, meta["overlays"])]:
            held = _holder(chain, rel)
            if held is None:
                raise FileNotFoundError(
                    f"backup chain from {src!r} holds no entry {rel!r}"
                )
            _link_tree(
                os.path.join(held, rel), os.path.join(self.path(table), rel)
            )
        self._commit_meta(table, **meta["table_meta"])
        with self._manifest_lock(table):
            self._write_manifest(
                table,
                {
                    "version": 1,
                    "members": meta["members"],
                    "committed_batches": meta["committed_batches"],
                    "overlays": meta["overlays"],
                },
            )
        return {"members": len(meta["members"])}

    def apply_ttl(
        self, table: str, older_than, ttl_col: str = "event_ts"
    ) -> dict:
        """Row TTL — ClickHouse ``TTL event_ts + INTERVAL …`` applied as a
        maintenance pass (CH applies TTL during merges; ``compact`` accepts
        the same cutoff via ``ttl_older_than`` to fold it into a merge).

        Fast path first (``ttl_only_drop_parts`` analog): every
        ``event_date`` partition STRICTLY before the cutoff's date is
        dropped via the metadata-only ``drop_partition`` — no scan, no
        rewrite.  Only the boundary date (which mixes expired and live rows)
        goes through the row-level ``delete_where`` rewrite.  Returns
        ``{"partitions_dropped", "rows_deleted"}``."""
        import datetime

        cutoff = older_than
        if isinstance(cutoff, str):
            cutoff = datetime.datetime.fromisoformat(cutoff)
        cutoff_date = cutoff.date()
        dropped = 0
        if self._sort_key(table) is not None or self._has_date_dirs(table):
            for d in self._partition_dates(table):
                if d < cutoff_date:
                    dropped += self.drop_partition(table, d)
        res = self.delete_where(table, F.col(ttl_col) < F.lit(cutoff))
        return {"partitions_dropped": dropped,
                "rows_deleted": res["rows_deleted"]}

    def show_create_table(self, table: str) -> str:
        """``SHOW CREATE TABLE`` analog: render the table's effective
        declaration — columns (with DEFAULT/MATERIALIZED/ALIAS kinds),
        PARTITION BY / ORDER BY, codec, and layout — as a CH-flavored DDL
        string.  Pure metadata; no data scan."""
        schema = self.schema_for(table)
        computed = self.computed_columns(table)
        lines = []
        for f in schema.fields:
            lines.append(f"  `{f.name}` {f.dataType.simpleString()}")
        for name, meta in computed.items():
            if meta["kind"] == "alias" or not any(
                f.name == name for f in schema.fields
            ):
                entry = f"  `{name}` {meta['type']}"
            else:
                # stored kinds already render above — annotate in place
                idx = [
                    i for i, f in enumerate(schema.fields) if f.name == name
                ][0]
                lines[idx] += f" {meta['kind'].upper()} {meta['expr']}"
                continue
            lines.append(f"{entry} {meta['kind'].upper()} {meta['expr']}")
        #: CH spelling per projection measure kind (moments serves avg/var)
        _kind_sql = {
            "count": lambda c: "count()", "sum": lambda c: f"sum({c})",
            "min": lambda c: f"min({c})", "max": lambda c: f"max({c})",
            "moments": lambda c: f"avg({c})", "uniq": lambda c: f"uniq({c})",
        }
        for iname, d in self.declared_skip_indexes(table).items():
            t = d["type"] + (
                f"({', '.join(str(p) for p in d['params'])})"
                if d.get("params") else ""
            )
            lines.append(f"  INDEX {iname} {d['col']} TYPE {t} GRANULARITY 1")
        for pname, d in self.declared_projections(table).items():
            sel = list(d["dims"]) + [
                _kind_sql[kind](col) for kind, col in d["measures"]
            ]
            lines.append(
                f"  PROJECTION {pname} (SELECT {', '.join(sel)} "
                f"GROUP BY {', '.join(d['dims'])})"
            )
        ddl = [f"CREATE TABLE {table} (", ",\n".join(lines), ")"]
        sort = self._sort_key(table)
        spec = self.table_engine(table)
        if spec is not None:
            args = (
                [spec["sign_col"]] if spec.get("sign_col") else []
            ) + (
                [spec["version_col"]] if spec.get("version_col") else []
            ) + list(spec.get("sum_cols") or [])
            engine = spec["engine"] + (
                f"({', '.join(args)})" if args else ""
            )
        else:
            engine = "MergeTree (manifest parquet)"
        ddl.append(f"ENGINE = {engine}")
        if sort is not None:
            # a table can be sorted without being date-partitioned
            # (set_partitioning(..., partitioned=False)): render PARTITION
            # BY only when the declared layout says so or date directories
            # actually exist on disk
            if self._is_date_partitioned(table) or self._has_date_dirs(table):
                ddl.append("PARTITION BY event_date")
            ddl.append(f"ORDER BY ({', '.join(sort)})")
        ttl = self.table_ttl(table)
        if ttl is not None:
            clause = (
                f"TTL {ttl['ttl_col']} + INTERVAL "
                f"{ttl['interval_days']:g} DAY"
            )
            if ttl.get("where"):
                clause += f" WHERE {ttl['where']}"
            if ttl.get("group_by"):
                clause += " GROUP BY " + ", ".join(ttl["group_by"])
                clause += " SET " + ", ".join(
                    f"{c} = {e}" for c, e in ttl["aggregates"].items()
                )
            ddl.append(clause)
        if self.codec:
            ddl.append(f"SETTINGS codec = '{self.codec}'")
        return "\n".join(ddl)

    def read_final(
        self,
        table: str,
        keys: list[str] | None = None,
        version_col: str | None = None,
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        """``SELECT … FINAL`` on a Replacing-semantics table: collapse to
        the latest version per key ACROSS parts at read time, without
        waiting for a merge (``OPTIMIZE FINAL DEDUPLICATE`` is the
        materializing twin).  One shuffle on the key — the same cost CH
        pays for FINAL's read-time merge, and at 100 TB the same advice
        applies: serve hot paths from merged/deduped tables and reserve
        FINAL for correctness-critical reads.

        ``keys``/``version_col`` default from the table's DECLARED layout
        — the ORDER BY sort key and the ``ReplacingMergeTree(version)``
        engine argument (:meth:`set_table_engine`, or a parsed CREATE
        TABLE via plans/ddl.py) — exactly how ClickHouse resolves a bare
        ``SELECT … FINAL``."""
        from ..operators.dedupe import replacing_dedupe

        if keys is None or version_col is None:
            spec = self.table_engine(table) or {}
            if keys is None:
                keys = self._sort_key(table)
            if version_col is None:
                version_col = spec.get("version_col")
            if keys is None or version_col is None:
                raise ValueError(
                    f"read_final({table!r}) without keys/version_col needs "
                    "a declared ORDER BY and ReplacingMergeTree(version) "
                    "engine (set_table_engine / create_table_from_ddl)"
                )
        return replacing_dedupe(
            self.read(table), keys, version_col, tiebreak=tiebreak
        )

    def freeze_partition(self, table: str, date) -> str:
        """``ALTER TABLE … FREEZE PARTITION`` — a hardlink snapshot of one
        partition's live members into ``_shadow/<increment>/<table>/``
        (the CH shadow/ layout): O(files) metadata work, zero data copy,
        immune to subsequent mutations/compactions because those mint NEW
        member files rather than rewriting linked ones.  Returns the
        shadow directory.  Unlike :meth:`backup_table` this is partition-
        scoped and overlay-free by design: live deletion vectors address
        row positions, so a frozen partition with pending lightweight
        mutations holds the ON-DISK rows — masked rows included, and a
        lightweight UPDATE's rows both as first written and in the member
        it appended — the exact CH FREEZE contract (mutations-in-flight
        are not applied to parts)."""
        date_str = str(date)
        shadow_root = os.path.join(self.root, "_shadow")
        os.makedirs(shadow_root, exist_ok=True)
        inc = 1 + max(
            (int(d) for d in os.listdir(shadow_root) if d.isdigit()),
            default=0,
        )
        dst_root = os.path.join(shadow_root, str(inc), table)
        n_linked = 0
        for m in self.load_manifest(table)["members"]:
            src = os.path.join(self.path(table), m, f"event_date={date_str}")
            if not os.path.isdir(src):
                continue
            dst = os.path.join(dst_root, m, f"event_date={date_str}")
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                s = os.path.join(src, f)
                if os.path.isfile(s):
                    try:
                        os.link(s, os.path.join(dst, f))
                    except OSError:
                        shutil.copy2(s, os.path.join(dst, f))
                    n_linked += 1
        if n_linked == 0:
            shutil.rmtree(os.path.join(shadow_root, str(inc)),
                          ignore_errors=True)
            raise ValueError(
                f"no files for partition {date_str!r} of {table!r}"
            )
        return dst_root

    def read_summed(
        self,
        table: str,
        keys: list[str] | None = None,
        sum_cols: list[str] | None = None,
        order_col: str | None = None,
    ) -> DataFrame:
        """``SummingMergeTree`` read semantics: collapse to one row per
        sort key with ``sum_cols`` summed; every other column takes the
        value of the first row in ``order_col`` order (CH keeps an
        arbitrary one — we pin it; defaults to the first key).  Like
        :meth:`read_final` this is the read-time merge — partial states
        in different parts stay correct without waiting for compaction.
        One shuffle on the key.  ``keys``/``sum_cols`` default from the
        declared ORDER BY and ``SummingMergeTree(cols)`` engine argument
        (:meth:`set_table_engine` / parsed CREATE TABLE)."""
        if keys is None or sum_cols is None:
            spec = self.table_engine(table) or {}
            keys = keys if keys is not None else self._sort_key(table)
            sum_cols = (
                sum_cols if sum_cols is not None else spec.get("sum_cols")
            )
            if keys is None or sum_cols is None:
                raise ValueError(
                    f"read_summed({table!r}) without keys/sum_cols needs "
                    "a declared ORDER BY and SummingMergeTree(cols) engine"
                )
        df = self.read(table)
        order_col = order_col or keys[0]
        others = [
            c for c in df.columns if c not in keys and c not in sum_cols
        ]
        aggs = [F.sum(c).alias(c) for c in sum_cols] + [
            F.min_by(c, order_col).alias(c) for c in others
        ]
        return df.groupBy(*keys).agg(*aggs).select(*df.columns)

    def read_collapsed(
        self,
        table: str,
        keys: list[str] | None = None,
        sign_col: str | None = None,
        version_col: str | None = None,
    ) -> DataFrame:
        """``CollapsingMergeTree(sign)`` / ``VersionedCollapsingMergeTree
        (sign, version)`` read semantics: per sort key, +1 ("state") and
        −1 ("cancel") rows annihilate pairwise; a key whose signs net to
        zero disappears, a key with a surviving +1 serves its LATEST
        state row (by ``version_col`` when given, else arrival order is
        undefined in CH — we require a version for determinism on
        multi-row keys).  This is the mutable-state-via-immutable-inserts
        idiom (the CH way to "update" at ingest rates); the read is one
        key shuffle.  ``keys``/``sign_col``/``version_col`` default from
        the declared ORDER BY and ``[Versioned]CollapsingMergeTree``
        engine arguments; the declared version column is dropped from the
        defaulted key set (CH VersionedCollapsing DDL puts the version
        LAST in ORDER BY, but collapsing groups by the key WITHOUT it)."""
        if keys is None or sign_col is None:
            spec = self.table_engine(table) or {}
            if keys is None:
                keys = self._sort_key(table)
                if keys is not None and spec.get("version_col"):
                    keys = [
                        k for k in keys if k != spec["version_col"]
                    ] or None
            sign_col = sign_col if sign_col is not None else spec.get(
                "sign_col")
            if version_col is None:
                version_col = spec.get("version_col")
            if keys is None or sign_col is None:
                raise ValueError(
                    f"read_collapsed({table!r}) without keys/sign_col "
                    "needs a declared ORDER BY and CollapsingMergeTree "
                    "engine"
                )
        df = self.read(table)
        order = (
            [F.col(version_col).desc()] if version_col is not None else []
        ) + [F.col(sign_col).desc()]
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn(
                "__net", F.sum(sign_col).over(Window.partitionBy(*keys))
            )
            .filter(F.col("__net") > 0)
            .filter(F.col(sign_col) > 0)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__net", "__rn")
        )

    def _ttl_rollup_transform(
        self,
        cutoff,
        group_by: list[str],
        aggregates: dict[str, str],
        ttl_col: str,
        stats_sink: dict | None = None,
    ):
        """The rollup-TTL compact transform: live rows pass through,
        rows past the cutoff collapse to one row per group with the SET
        aggregates applied; uncovered columns take the group minimum (CH
        picks ``any`` — min is the deterministic choice of one)."""

        def transform(df: DataFrame) -> DataFrame:
            expired_cond = F.coalesce(
                F.col(ttl_col) < F.lit(cutoff), F.lit(False)
            )
            live = df.filter(~expired_cond)
            expired = df.filter(expired_cond)
            agg_exprs = [
                F.expr(e).alias(c) for c, e in aggregates.items()
            ]
            leftovers = [
                c for c in df.columns
                if c not in group_by and c not in aggregates
            ]
            rolled = (
                expired.groupBy(*group_by)
                .agg(*agg_exprs,
                     *[F.min(c).alias(c) for c in leftovers])
                .select(*df.columns)
            )
            # restore declared types (SQL aggregates can widen, e.g.
            # sum(int) -> bigint, and the member swap must stay uniform)
            rolled = rolled.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in df.schema.fields
                ]
            )
            if stats_sink is not None:
                stats_sink["rows_before"] = df.count()
            return live.unionByName(rolled)

        return transform

    def apply_ttl_group_by(
        self,
        table: str,
        older_than,
        group_by: list[str],
        aggregates: dict[str, str],
        ttl_col: str = "event_ts",
        stats: bool = False,
    ) -> dict:
        """Rollup TTL — ClickHouse ``TTL ts + INTERVAL … GROUP BY k…
        SET col = agg(col), …``: rows past the cutoff are AGGREGATED into
        one row per group instead of deleted, so old data keeps serving
        coarse analytics at a fraction of the storage (the CH downsampling
        idiom).  ``aggregates`` maps column → SQL aggregate expression
        (the SET list); columns covered by neither ``group_by`` nor
        ``aggregates`` take the group minimum (CH picks ``any`` value —
        min is the deterministic choice of one).

        Applied as a compact-fold (CH applies TTL during merges): live
        rows pass through, expired rows collapse, the member swap is
        atomic.  The rollup is ONE data pass; row-count bookkeeping costs
        three more full-table actions, so it is opt-in: with
        ``stats=True`` returns {"rows_before", "rows_after", "groups"},
        else an empty dict."""
        import datetime

        cutoff = older_than
        if isinstance(cutoff, str):
            cutoff = datetime.datetime.fromisoformat(cutoff)
        want_stats = stats
        stats = {}
        transform = self._ttl_rollup_transform(
            cutoff, group_by, aggregates, ttl_col,
            stats_sink=stats if want_stats else None,
        )

        self.compact(table, transform=transform)
        if want_stats:
            after = self.read(table)
            stats["rows_after"] = after.count()
            stats["groups"] = (
                after.filter(
                    F.coalesce(F.col(ttl_col) < F.lit(cutoff), F.lit(False))
                ).count()
            )
        self._log_mutation(
            table, "ttl_group_by",
            f"TTL {ttl_col} < {cutoff} GROUP BY {', '.join(group_by)}",
            rows_affected=(
                stats["rows_before"] - stats["rows_after"]
                if want_stats else None
            ),
        )
        return stats

    def _has_date_dirs(self, table: str) -> bool:
        return bool(self._partition_dates(table))

    def _partition_dates(self, table: str) -> list:
        """Distinct ``event_date`` partition values present on disk (from
        directory names — no data scan)."""
        import datetime

        dates: set = set()
        for m in self.load_manifest(table)["members"]:
            r = os.path.join(self.path(table), m)
            if not os.path.isdir(r):
                continue
            for e in os.listdir(r):
                if e.startswith("event_date="):
                    try:
                        dates.add(
                            datetime.date.fromisoformat(e.split("=", 1)[1])
                        )
                    except ValueError:
                        pass
        return sorted(dates)

    def gc(self, table: str, min_age_sec: float = 3600.0) -> list[str]:
        """Sweep member and overlay directories no RETAINED manifest version
        references — the leftovers of (a) a writer, compactor or
        lightweight DELETE/UPDATE that crashed between writing its
        directory and flipping the pointer, and (b) members and overlays
        that a compaction, mutation, partition drop, overwrite or
        ``drop_member`` superseded, once every version listing them has
        been pruned from the ``_MANIFEST_KEEP`` window.  This is the ONE
        place that deletes a directory some manifest version listed, so a
        reader's snapshot stays on disk while any retained version names
        it.  It is also the one place that lists the overlay directories:
        what it looks for is, by definition, in no manifest.

        ``min_age_sec`` is the in-flight guard: every writer writes its
        directory BEFORE registering it, so each looks orphaned for a few
        seconds.  Only directories untouched for the window are swept,
        under the manifest lock so no flip can race the re-check.  Returns
        the swept paths relative to the table root."""
        d = self._manifest_dir(table)
        if not os.path.isdir(d):
            return []
        root = self.path(table)
        swept: list[str] = []
        with self._manifest_lock(table):
            referenced: set[str] = set()
            for f in os.listdir(d):
                if f.startswith("v") and f.endswith(".json"):
                    with open(os.path.join(d, f)) as fh:
                        man = json.load(fh)
                    referenced.update(man["members"])
                    referenced.update(
                        map(_overlay_rel, man.get("overlays", []))
                    )
            candidates = [
                e for e in os.listdir(root) if e.startswith(_MEMBER_KEY + "=")
            ]
            if os.path.isdir(os.path.join(root, _DV_DIR)):
                candidates += [
                    os.path.join(_DV_DIR, e)
                    for e in os.listdir(os.path.join(root, _DV_DIR))
                ]
            now = time.time()
            for e in sorted(candidates):
                full = os.path.join(root, e)
                if e in referenced or not os.path.isdir(full):
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age >= min_age_sec:
                    shutil.rmtree(full, ignore_errors=True)
                    swept.append(e)
        return swept

    # -- table lifecycle: DROP / UNDROP / TRUNCATE / EXCHANGE ----------------

    def _trash_dir(self) -> str:
        return os.path.join(self.root, "_trash")

    def drop_table(self, table: str) -> str:
        """``DROP TABLE`` — the data moves to a timestamped trash entry
        (with its metadata document) instead of vanishing, the CH Atomic
        database behavior (``database_atomic_delay_before_drop_table``):
        ``undrop_table`` restores it until ``purge_dropped`` reclaims the
        space.  Returns the trash entry name."""
        if not self.exists(table):
            raise ValueError(f"no table {table!r} to drop")
        entry = f"{table}@{int(time.time() * 1000)}"
        dst = os.path.join(self._trash_dir(), entry)
        os.makedirs(dst, exist_ok=True)
        os.rename(self.path(table), os.path.join(dst, "data"))
        _move_file(self._meta_path(table), os.path.join(dst, "meta.json"))
        return entry

    def dropped_tables(self) -> list[str]:
        """Trash entries, newest first."""
        d = self._trash_dir()
        if not os.path.isdir(d):
            return []
        return sorted(os.listdir(d), reverse=True)

    def undrop_table(self, table: str) -> None:
        """``UNDROP TABLE`` — restore the NEWEST trash entry for the
        name, metadata included.  Refused when a live table with the
        name exists (as in ClickHouse)."""
        if self.exists(table):
            raise ValueError(
                f"cannot UNDROP {table!r}: a live table holds the name"
            )
        entry = next(
            (e for e in self.dropped_tables()
             if e.rsplit("@", 1)[0] == table),
            None,
        )
        if entry is None:
            raise LookupError(f"no dropped table {table!r} in the trash")
        src = os.path.join(self._trash_dir(), entry)
        os.rename(os.path.join(src, "data"), self.path(table))
        _move_file(os.path.join(src, "meta.json"), self._meta_path(table))
        shutil.rmtree(src, ignore_errors=True)

    def purge_dropped(self, older_than_sec: float = 8 * 3600) -> list[str]:
        """Reclaim trash entries older than the retention window (the CH
        delayed-drop sweep).  Returns the purged entry names."""
        purged = []
        now_ms = time.time() * 1000
        for e in self.dropped_tables():
            try:
                ts = int(e.rsplit("@", 1)[1])
            except (IndexError, ValueError):
                continue
            if now_ms - ts >= older_than_sec * 1000:
                shutil.rmtree(
                    os.path.join(self._trash_dir(), e), ignore_errors=True
                )
                purged.append(e)
        return purged

    def truncate_table(self, table: str) -> None:
        """``TRUNCATE TABLE`` — all rows (and overlays, manifest, the
        committed-batches ledger) go; the DECLARED shape stays: schema
        override, computed columns, TTLs, rename/cast chains survive, so
        the next insert lands into the same table definition — the CH
        contract (TRUNCATE keeps the table, drops the parts)."""
        if not self.exists(table):
            return
        shutil.rmtree(self.path(table), ignore_errors=True)

    def exchange_tables(self, a: str, b: str) -> None:
        """``EXCHANGE TABLES a AND b`` — swap the two tables' data AND
        their metadata documents (the blue/green cutover primitive; CH
        does this atomically in the Atomic database engine).  Here it is
        one exchange of the directories and one of the documents under
        the single-maintenance-writer discipline.  A table directory is
        self-contained — overlay rows address files relative to the
        table root — so committed lightweight DELETEs and UPDATEs move
        with their rows.  Readers resolve manifests per query:
        ``load_manifest`` re-resolves when the swap lands between its
        CURRENT read and the version-file open, and ``read`` re-resolves
        once when a member the resolved manifest lists is missing (the
        swap landed after the resolve).  Residual window, documented: a
        member named in both tables (``member=batch-<id>`` names can
        collide) is read from whichever directory holds it when the scan
        runs.  The supported concurrent-reader pattern is the blue/green
        cutover this op exists for — the green side is a rebuilt
        CONTENT-EQUIVALENT of blue, so any interleaving reads equivalent
        rows (soak-verified); swapping two tables with DIFFERENT content
        wants a reader quiesce, as in CH non-Atomic RENAME-based swaps."""
        if not self.exists(a) or not self.exists(b):
            raise ValueError(f"EXCHANGE needs both tables ({a!r}, {b!r})")
        _rename_exchange(self.path(a), self.path(b))
        ma, mb = self._meta_path(a), self._meta_path(b)
        if os.path.exists(ma) and os.path.exists(mb):
            _rename_exchange(ma, mb)
        elif os.path.exists(ma):
            os.rename(ma, mb)
        else:
            _move_file(mb, ma)

    # -- SYSTEM STOP/START MERGES --------------------------------------------

    def stop_merges(self, table: str) -> None:
        """``SYSTEM STOP MERGES table`` — background merges (``compact``)
        become no-ops until ``start_merges``; appends, reads, and
        mutations continue (the CH maintenance freeze ops use around
        delicate operations).  Persisted so a restarted maintenance loop
        honors it."""
        self._commit_meta(table, merges_stopped=True)
        self._log_mutation(table, "stop_merges", "SYSTEM STOP MERGES")

    def start_merges(self, table: str) -> None:
        """``SYSTEM START MERGES table``."""
        if self.merges_stopped(table):
            self._commit_meta(table, merges_stopped=None)
            self._log_mutation(table, "start_merges", "SYSTEM START MERGES")

    def merges_stopped(self, table: str) -> bool:
        return self._meta(table).get("merges_stopped", False)

    # -- predicate → member pruning (mutation fast path) ---------------------

    def _simple_conjuncts(self, cond) -> list[tuple]:
        """Best-effort extraction of ``(column, op, literal)`` conjuncts
        from a Spark Column predicate by walking its UNRESOLVED node tree
        (``and``/comparison ``UnresolvedFunction`` nodes over
        attribute-vs-literal pairs; SQL-string conditions go through the
        session's Catalyst expression parser first).  Anything else — OR
        chains, function calls, column-to-column compares, non-primitive
        literals — contributes nothing: the result is only ever used to
        SKIP members whose parquet footer stats prove a conjunct can't
        match, so an empty list just means no pruning, never a wrong
        answer.  This is how ClickHouse mutations scope work: the WHERE
        clause is pushed through the primary-key/minmax index to select
        candidate parts before any rows are touched."""
        cmp_ops = {"=", "==", "<", "<=", ">", ">="}
        cat_ops = {
            "EqualTo": "=", "LessThan": "<", "GreaterThan": ">",
            "LessThanOrEqual": "<=", "GreaterThanOrEqual": ">=",
        }
        flip = {"=": "=", "==": "=", "<": ">", ">": "<",
                "<=": ">=", ">=": "<="}
        out: list[tuple] = []

        def py_literal(v):
            if v is None or isinstance(v, bool):
                return None
            if isinstance(v, (int, float, str)):
                return v
            try:
                cls = v.getClass().getSimpleName()
                if cls == "UTF8String":
                    return v.toString()
                if cls == "Decimal":  # Catalyst parses 250.0 as Decimal
                    return float(v.toString())
            except Exception:
                pass
            return None

        def walk_catalyst(e):
            cls = e.getClass().getSimpleName()
            if cls == "And":
                walk_catalyst(e.left())
                walk_catalyst(e.right())
                return
            op = cat_ops.get(cls)
            if op is None:
                return
            for left, right, o in (
                (e.left(), e.right(), op),
                (e.right(), e.left(), flip[op]),
            ):
                if (
                    left.getClass().getSimpleName() == "UnresolvedAttribute"
                    and right.getClass().getSimpleName() == "Literal"
                ):
                    v = py_literal(right.value())
                    if v is not None:
                        out.append((str(left.name()), o, v))
                    return

        def walk_node(n):
            cls = n.getClass().getSimpleName()
            if cls == "SqlExpression":
                # a string condition (F.expr): Catalyst's parser yields
                # the classic And/EqualTo/… tree to walk instead
                parsed = (
                    self.spark._jsparkSession.sessionState().sqlParser()
                    .parseExpression(n.expression())
                )
                walk_catalyst(parsed)
                return
            if cls != "UnresolvedFunction":
                return
            fn = n.functionName().lower()
            args = n.arguments()
            if fn == "and" and args.size() == 2:
                walk_node(args.apply(0))
                walk_node(args.apply(1))
                return
            if fn in cmp_ops and args.size() == 2:
                for i, j, o in ((0, 1, fn), (1, 0, flip[fn])):
                    a, b = args.apply(i), args.apply(j)
                    if (
                        a.getClass().getSimpleName() == "UnresolvedAttribute"
                        and b.getClass().getSimpleName() == "Literal"
                    ):
                        v = py_literal(b.value())
                        nm = a.nameParts()
                        if v is not None and nm.size() == 1:
                            out.append(
                                (str(nm.apply(0)), "=" if o == "==" else o, v)
                            )
                        return

        try:
            walk_node(cond._jc.node())
        except Exception:
            return []
        return out

    def _path_matches_stats(self, root: str, preds: list[tuple]) -> bool:
        """True unless EVERY row group under ``root`` is provably disjoint
        from ``preds`` (``_rg_survives``) — the driver-side metadata check
        that lets a mutation skip a member without launching a probe job
        (the EXPLAIN ESTIMATE machinery, short-circuited on the first
        surviving row group).  An unreadable footer counts as a match."""
        import pyarrow.parquet as pq

        for r, _dirs, files in os.walk(root):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                try:
                    md = pq.ParquetFile(os.path.join(r, f)).metadata
                except Exception:
                    return True
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                if any(
                    _rg_survives(md.row_group(i), names, preds)
                    for i in range(md.num_row_groups)
                ):
                    return True
        return False

    def _prune_members_for_mutation(
        self, table: str, members: list[str], cond
    ) -> tuple[list[str], int]:
        """(surviving members, n skipped) for a mutation predicate: the
        footer-stats prune applied over best-effort conjuncts.  At 100 TB
        this is what keeps mutation cost ∝ MATCHED parts, not table size
        — candidate parts are chosen from driver-side metadata before any
        scan task launches, exactly CH's part-level mutation scoping.

        Sound under live overlays: a deletion vector only removes rows,
        and a lightweight UPDATE's rows live in the member it appended,
        whose own footer stats cover them.  Where a member's stats are no
        evidence of what a read returns on a column (a CLEAR COLUMN reset
        to the DEFAULT, a MODIFY COLUMN cast), ``_stats_blind`` drops that
        column's conjuncts for the member."""
        preds = self._simple_conjuncts(cond)
        if not preds:
            return members, 0
        meta = self._meta(table)
        kept = []
        for m, footer in self._footers(table, members).items():
            blind = _stats_blind(meta, m, footer)
            if self._path_matches_stats(
                os.path.join(self.path(table), m),
                [p for p in preds if p[0] not in blind],
            ):
                kept.append(m)
        return kept, len(members) - len(kept)

    # -- EXPLAIN ESTIMATE ----------------------------------------------------

    def explain_estimate(
        self, table: str, predicates: list[tuple] | None = None
    ) -> dict:
        """``EXPLAIN ESTIMATE SELECT … WHERE …`` analog: how many members
        (parts), row groups (the granule/mark analog), and rows a query
        with ``predicates`` MIGHT read, decided from parquet row-group
        min/max statistics alone — footer metadata, no data scan at any
        table size.  ``predicates``: ``[(col, op, value)]`` with op in
        ``< <= > >= =``; a row group without usable stats for a
        predicate column is counted as a candidate (conservative, like
        ClickHouse counting a granule whose mark range overlaps)."""
        import pyarrow.parquet as pq

        preds = predicates or []
        total = {"parts": 0, "files": 0, "row_groups": 0, "rows": 0}
        est = {"parts": 0, "files": 0, "row_groups": 0, "rows": 0}

        for m in self.load_manifest(table)["members"]:
            root = os.path.join(self.path(table), m)
            part_hit = False
            for r, _dirs, files in os.walk(root):
                for f in sorted(files):
                    if not f.endswith(".parquet"):
                        continue
                    fp = os.path.join(r, f)
                    md = pq.ParquetFile(fp).metadata
                    names = [
                        md.schema.column(i).name
                        for i in range(md.num_columns)
                    ]
                    total["files"] += 1
                    file_hit = False
                    for i in range(md.num_row_groups):
                        rg = md.row_group(i)
                        nrows = rg.num_rows
                        total["row_groups"] += 1
                        total["rows"] += nrows
                        if _rg_survives(rg, names, preds):
                            est["row_groups"] += 1
                            est["rows"] += nrows
                            file_hit = part_hit = True
                    if file_hit:
                        est["files"] += 1
            total["parts"] += 1
            if part_hit:
                est["parts"] += 1
        return {
            "estimate": est,
            "total": total,
            "predicates": [list(p) for p in preds],
        }

    def parts_columns(self, table: str) -> DataFrame:
        """``system.parts_columns`` analog: one row per (member, column)
        with row count, compressed and uncompressed bytes, and the
        compression ratio — the per-column storage census ClickHouse
        operators use to pick codecs and spot bloated columns.  Parquet
        footer metadata only, no data scan."""
        import pyarrow.parquet as pq

        agg: dict[tuple, list] = {}
        for m in self.load_manifest(table)["members"]:
            root = os.path.join(self.path(table), m)
            for r, _dirs, files in os.walk(root):
                for f in sorted(files):
                    if not f.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(r, f)).metadata
                    for rg_i in range(md.num_row_groups):
                        rg = md.row_group(rg_i)
                        for ci in range(md.num_columns):
                            col = rg.column(ci)
                            key = (m, md.schema.column(ci).name)
                            s = agg.setdefault(key, [0, 0, 0])
                            s[0] += rg.num_rows
                            s[1] += col.total_compressed_size
                            s[2] += col.total_uncompressed_size
        rows = [
            (
                table, mem, col, n, comp, uncomp,
                round(uncomp / comp, 3) if comp else None,
            )
            for (mem, col), (n, comp, uncomp) in sorted(agg.items())
        ]
        return self.spark.createDataFrame(
            rows,
            "table string, member string, column string, rows long, "
            "compressed_bytes long, uncompressed_bytes long, "
            "compression_ratio double",
        )

    def parts(self, table: str) -> DataFrame:
        """``system.parts`` analog: one row per live member (part) with its
        file count, on-disk bytes, partition count, and its kind (batch,
        insert, compacted, mutated, materialized, attached or updated) — the
        operational view ClickHouse admins query to watch merge health
        (reference monitoring reads system.parts for part counts).  Pure
        directory metadata — no data scan at any table size."""
        rows = []
        man = self.load_manifest(table)
        for m in man["members"]:
            root = os.path.join(self.path(table), m)
            n_files, n_bytes, dates = 0, 0, set()
            for r, _dirs, files in os.walk(root):
                rel = os.path.relpath(r, root)
                for part in rel.split(os.sep):
                    if part.startswith("event_date="):
                        dates.add(part.split("=", 1)[1])
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        try:
                            n_bytes += os.path.getsize(os.path.join(r, f))
                        except OSError:
                            pass
            rows.append((table, m, member_kind(m), n_files, n_bytes,
                         len(dates)))
        # overlay rows: live deletion vectors are part state an operator
        # must see (they mask rows until a merge folds them), exactly
        # ClickHouse's _row_exists masks
        for e in man["overlays"]:
            n_files, n_bytes = 0, 0
            for r, _dirs, files in os.walk(self._overlay_path(table, e)):
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        try:
                            n_bytes += os.path.getsize(os.path.join(r, f))
                        except OSError:
                            pass
            rows.append(
                (table, e["name"], "deletion_vector", n_files, n_bytes, 0)
            )
        schema = (
            "table string, member string, kind string, n_files long,"
            " bytes long, n_partitions long"
        )
        return self.spark.createDataFrame(rows, schema)

    def tables(self) -> DataFrame:
        """``system.tables`` analog: one row per warehouse table with its
        live manifest version, member count, replay-ledger size, and the
        file count and bytes of the members and overlays the CURRENT
        manifest lists (superseded directories ``gc`` has yet to sweep do
        not count) — directory metadata only, no data scan (reference
        admins join system.tables to system.parts for merge health; same
        shape here)."""
        rows = []
        try:
            names = sorted(
                d for d in os.listdir(self.root)
                if not d.startswith((".", "_"))
                and os.path.isdir(os.path.join(self.root, d))
            )
        except OSError:
            names = []
        for t in names:
            man = self.load_manifest(t)
            if not man["members"]:
                continue
            files = [
                os.path.join(r, f)
                for d in [
                    *(os.path.join(self.path(t), m) for m in man["members"]),
                    *(self._overlay_path(t, e) for e in man["overlays"]),
                ]
                for r, _dirs, fs in os.walk(d)
                for f in fs
                if f.endswith(".parquet")
            ]
            n_files = len(files)
            n_bytes = sum(os.path.getsize(f) for f in files)
            rows.append((
                t,
                man["version"],
                len(man["members"]),
                len(man["committed_batches"]),
                n_files, n_bytes,
            ))
        schema = (
            "table string, version long, n_members long,"
            " n_committed_batches long, n_files long, bytes long"
        )
        return self.spark.createDataFrame(rows, schema)

    def table_columns(self, table: str) -> DataFrame:
        """``system.columns`` analog: one row per column with name, Spark
        type, nullability, and position — from the declared schema override
        when an ALTER has been applied, else the parquet footer of one live
        file (a metadata read, not a scan)."""
        schema = self.schema_override(table)
        if schema is None:
            schema = self.read(table).schema
        rows = [
            (table, f.name, f.dataType.simpleString(), f.nullable, i)
            for i, f in enumerate(schema.fields)
        ]
        return self.spark.createDataFrame(
            rows,
            "table string, column string, type string, nullable boolean,"
            " position long",
        )

    def _prep(self, table: str, df: DataFrame) -> DataFrame:
        # conform insert TYPES to the declared schema (ClickHouse inserts
        # cast to the column's type): after a MODIFY COLUMN a writer still
        # supplying the old type must not mint new old-type files forever —
        # the cast chain could then never retire.  Names/extra columns are
        # left alone; only same-name type mismatches are cast.
        meta = self._meta(table)
        try:
            declared_fields = self.schema_for(table, meta).fields
        except KeyError:
            # internal side table (projection state, staging) without a
            # declared schema: nothing to conform to
            declared_fields = []
        declared = {f.name: f.dataType for f in declared_fields}
        mismatched = {
            f.name: declared[f.name]
            for f in df.schema.fields
            if f.name in declared and f.dataType != declared[f.name]
        }
        if mismatched:
            df = df.select(
                *[
                    F.col(c).cast(mismatched[c]).alias(c)
                    if c in mismatched
                    else F.col(c)
                    for c in df.columns
                ]
            )
        sort_key = self._sort_key(table, meta)
        if sort_key is not None:
            if (
                self._is_date_partitioned(table, meta)
                and "event_date" not in df.columns
            ):
                df = df.withColumn("event_date", F.to_date("event_ts"))
            df = df.sortWithinPartitions(*sort_key)
        return df
