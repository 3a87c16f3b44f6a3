"""Schema-evolution apply path (the engine's ALTER TABLE — reference
scripts/alter_bronze_timezone_asia_jakarta.sql applies MODIFY COLUMN
migrations to live tables): additive columns and type widenings are
metadata-only; destructive changes are refused unless explicitly rewritten."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dev_clickhouse_spark.plans.warehouse import Warehouse
from dev_clickhouse_spark.quality import SchemaMigrator, is_widening


_TS = dt.datetime(2026, 1, 8, 9, 0)


def _wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_is_widening_matrix():
    assert is_widening(T.IntegerType(), T.LongType())
    assert is_widening(T.ShortType(), T.IntegerType())
    assert is_widening(T.FloatType(), T.DoubleType())
    assert is_widening(
        T.ArrayType(T.IntegerType()), T.ArrayType(T.LongType())
    )
    assert not is_widening(T.LongType(), T.IntegerType())   # narrowing
    assert not is_widening(T.DoubleType(), T.FloatType())
    assert not is_widening(T.StringType(), T.IntegerType())
    assert not is_widening(T.LongType(), T.DoubleType())    # lossy for 2^53+


def test_additive_column_is_metadata_only(spark, tmp_path):
    """ADD COLUMN: old files are never rewritten; reads serve them through
    the new schema with typed NULLs, and post-ALTER appends carry values."""
    import os

    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "t1", _TS), (2, "t2", _TS)],
        wh.schema_for("dim_tag"),
    ))
    files_before = sorted(
        f for _r, _d, fs in os.walk(wh.path("dim_tag")) for f in fs
        if f.endswith(".parquet")
    )

    target = T.StructType(
        [*wh.schema_for("dim_tag").fields,
         T.StructField("tag_category", T.StringType())]
    )
    plan = SchemaMigrator(wh).apply("dim_tag", target)
    assert plan.added == ["tag_category"] and plan.is_safe

    # no rewrite happened
    files_after = sorted(
        f for _r, _d, fs in os.walk(wh.path("dim_tag")) for f in fs
        if f.endswith(".parquet")
    )
    assert files_before == files_after

    # old rows read as NULL in the new column; new rows carry values
    wh.append("dim_tag", spark.createDataFrame(
        [(3, "t3", _TS, "catA")], wh.schema_for("dim_tag")
    ))
    rows = {r.tag_key: r.tag_category for r in wh.read("dim_tag").collect()}
    assert rows == {1: None, 2: None, 3: "catA"}


def test_widening_serves_old_narrow_files(spark, tmp_path):
    """MODIFY COLUMN int→bigint: old int32 files serve through the widened
    declared type via parquet type promotion — no rewrite."""
    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "t1", _TS)], wh.schema_for("dim_tag")
    ))
    cur = wh.schema_for("dim_tag")
    # dim_tag.tag_key is long already; widen a string-adjacent int instead:
    # build a target that widens nothing but adds an int col first, then
    # widen that col in a second migration.
    with_int = T.StructType(
        [*cur.fields, T.StructField("weight", T.IntegerType())]
    )
    mig = SchemaMigrator(wh)
    mig.apply("dim_tag", with_int)
    wh.append("dim_tag", spark.createDataFrame(
        [(2, "t2", _TS, 7)], wh.schema_for("dim_tag")
    ))

    widened = T.StructType(
        [*cur.fields, T.StructField("weight", T.LongType())]
    )
    plan = mig.apply("dim_tag", widened)
    assert plan.widened == ["weight"] and plan.is_safe
    df = wh.read("dim_tag")
    assert dict(df.dtypes)["weight"] == "bigint"
    assert {r.weight for r in df.collect()} == {None, 7}
    # and appends at the widened type work
    wh.append("dim_tag", spark.createDataFrame(
        [(3, "t3", _TS, 2**40)], wh.schema_for("dim_tag")
    ))
    assert wh.read("dim_tag").filter(F.col("weight") == 2**40).count() == 1


def test_partitioned_table_additive_migration(spark, tmp_path):
    """The same ALTER on a date-partitioned bronze table: partition layout
    and pruning survive, old partitions serve NULLs."""
    wh = _wh(spark, tmp_path)
    base = wh.schema_for("wazuh_events_raw")
    no_part = T.StructType(
        [f for f in base.fields if f.name != "event_date"]
    )
    row = {f.name: None for f in no_part.fields}
    row.update(event_id="e1", event_ts=dt.datetime(2026, 1, 8, 9, 0))
    df = spark.createDataFrame(
        [tuple(row[f.name] for f in no_part.fields)], no_part
    )
    wh.append("wazuh_events_raw", df)  # _prep derives event_date
    target = T.StructType(
        [*no_part.fields, T.StructField("enrichment_score", T.DoubleType())]
    )
    plan = SchemaMigrator(wh).apply("wazuh_events_raw", target)
    assert plan.added == ["enrichment_score"]
    out = wh.read_window(
        "wazuh_events_raw",
        dt.datetime(2026, 1, 8, 8, 0), dt.datetime(2026, 1, 8, 10, 0),
    )
    r = out.collect()
    assert len(r) == 1 and r[0].enrichment_score is None
    assert r[0].event_date == dt.date(2026, 1, 8)


def test_destructive_changes_are_refused_without_rewrite(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "t1", _TS)], wh.schema_for("dim_tag")
    ))
    cur = wh.schema_for("dim_tag")
    dropped = T.StructType([f for f in cur.fields if f.name != "updated_at"])
    mig = SchemaMigrator(wh)
    with pytest.raises(ValueError, match="drop column 'updated_at'"):
        mig.apply("dim_tag", dropped)
    narrowed = T.StructType([
        T.StructField("tag_key", T.IntegerType()),  # long → int narrows
        *[f for f in cur.fields if f.name != "tag_key"],
    ])
    with pytest.raises(ValueError, match="not a widening"):
        mig.apply("dim_tag", narrowed)


def test_destructive_rewrite_opt_in(spark, tmp_path):
    """rewrite=True executes the destructive migration: data is projected to
    the new shape and swapped in atomically."""
    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "t1", _TS), (2, "t2", _TS)], wh.schema_for("dim_tag")
    ))
    cur = wh.schema_for("dim_tag")
    dropped = T.StructType([f for f in cur.fields if f.name != "updated_at"])
    plan = SchemaMigrator(wh).apply("dim_tag", dropped, rewrite=True)
    assert plan.destructive
    df = wh.read("dim_tag")
    assert "updated_at" not in df.columns
    assert df.count() == 2


def test_compact_preserves_migrated_column(spark, tmp_path):
    """Compaction after an additive migration must carry the new column's
    VALUES through the rewrite — a raw inferred read over mixed pre/post-
    ALTER files could adopt an old file's schema and null the column out."""
    wh = _wh(spark, tmp_path)
    base = wh.schema_for("wazuh_events_raw")
    no_part = T.StructType([f for f in base.fields if f.name != "event_date"])
    row = {f.name: None for f in no_part.fields}
    row.update(event_id="c1", event_ts=dt.datetime(2026, 1, 8, 9, 0))
    wh.append("wazuh_events_raw", spark.createDataFrame(
        [tuple(row[f.name] for f in no_part.fields)], no_part
    ))

    target = T.StructType(
        [*no_part.fields, T.StructField("enrichment_score", T.DoubleType())]
    )
    SchemaMigrator(wh).apply("wazuh_events_raw", target)

    row2 = {f.name: None for f in target.fields}
    row2.update(event_id="c2", event_ts=dt.datetime(2026, 1, 8, 9, 5),
                enrichment_score=0.75)
    wh.append("wazuh_events_raw", spark.createDataFrame(
        [tuple(row2[f.name] for f in target.fields)], target
    ))

    n_files = wh.compact("wazuh_events_raw")
    assert n_files >= 1
    rows = {r.event_id: r.enrichment_score
            for r in wh.read("wazuh_events_raw").collect()}
    assert rows == {"c1": None, "c2": 0.75}


def test_default_column_kinds(spark, tmp_path):
    """ClickHouse column kinds: DEFAULT back-fills pre-ALTER files on read
    and fills omitted inserts; MATERIALIZED overrides supplied values;
    ALIAS is never stored and refuses inserts."""
    import os

    wh = _wh(spark, tmp_path)
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "alpha", _TS), (2, "beta", _TS)], wh.schema_for("dim_tag")
    ))
    files_before = sorted(
        f for _r, _d, fs in os.walk(wh.path("dim_tag")) for f in fs
        if f.endswith(".parquet")
    )
    mig = SchemaMigrator(wh)
    mig.add_computed_column(
        "dim_tag", "tag_upper", T.StringType(), "upper(tag_value)",
        kind="default",
    )
    mig.add_computed_column(
        "dim_tag", "tag_len", T.IntegerType(), "length(tag_value)",
        kind="materialized",
    )
    mig.add_computed_column(
        "dim_tag", "tag_head", T.StringType(), "substring(tag_value, 1, 2)",
        kind="alias",
    )
    # O(1): nothing rewritten
    files_after = sorted(
        f for _r, _d, fs in os.walk(wh.path("dim_tag")) for f in fs
        if f.endswith(".parquet")
    )
    assert files_before == files_after

    # pre-ALTER rows serve all three computed columns on read
    rows = {r.tag_key: r for r in wh.read("dim_tag").collect()}
    assert rows[1].tag_upper == "ALPHA" and rows[1].tag_len == 5
    assert rows[2].tag_head == "be"

    # post-ALTER append omitting DEFAULT/MATERIALIZED → stored computed;
    # supplying MATERIALIZED → overridden
    wh.append("dim_tag", spark.createDataFrame(
        [(3, "gamma", _TS, None, 999)],
        T.StructType([*wh.schema_for("dim_tag").fields[:3],
                      T.StructField("tag_upper", T.StringType()),
                      T.StructField("tag_len", T.IntegerType())]),
    ))
    rows = {r.tag_key: r for r in wh.read("dim_tag").collect()}
    assert rows[3].tag_len == 5  # materialized ignored the supplied 999
    # DEFAULT with an explicitly-NULL supplied value is PRESERVED on read
    # (ClickHouse keeps an inserted NULL in a nullable DEFAULT column) —
    # the back-fill applies only to files whose footer lacks the column
    assert rows[3].tag_upper is None
    # pre-ALTER rows still back-fill after the post-ALTER append
    rows2 = {r.tag_key: r for r in wh.read("dim_tag").collect()}
    assert rows2[1].tag_upper == "ALPHA" and rows2[2].tag_upper == "BETA"

    # ALIAS: not stored in any parquet footer, insert refused
    # (mergeSchema: plain inference adopts ONE file's footer and the
    # pre-ALTER file would hide the stored computed column)
    stored_cols = set(
        spark.read.option("mergeSchema", "true")
        .parquet(wh.path("dim_tag")).columns
    )
    assert "tag_head" not in stored_cols
    assert "tag_len" in stored_cols
    with pytest.raises(ValueError, match="ALIAS"):
        wh.append("dim_tag", spark.createDataFrame(
            [(4, "delta", _TS, "x", 1, "de")],
            T.StructType([*wh.schema_for("dim_tag").fields[:3],
                          T.StructField("tag_upper", T.StringType()),
                          T.StructField("tag_len", T.IntegerType()),
                          T.StructField("tag_head", T.StringType())]),
        ))


def test_computed_column_validation(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    mig = SchemaMigrator(wh)
    with pytest.raises(ValueError, match="kind"):
        mig.add_computed_column(
            "dim_tag", "x", T.StringType(), "tag_value", kind="virtual"
        )
    with pytest.raises(ValueError, match="already exists"):
        mig.add_computed_column(
            "dim_tag", "tag_value", T.StringType(), "'x'", kind="default"
        )
    with pytest.raises(Exception):  # bad expression refuses to plan
        mig.add_computed_column(
            "dim_tag", "bad", T.StringType(), "no_such_col + 1",
            kind="default",
        )
    # nothing was persisted by the failed attempts
    assert wh.computed_columns("dim_tag") == {}
    mig.add_computed_column(
        "dim_tag", "ok", T.StringType(), "upper(tag_value)", kind="alias"
    )
    with pytest.raises(ValueError, match="already declared"):
        mig.add_computed_column(
            "dim_tag", "ok", T.StringType(), "tag_value", kind="alias"
        )


def test_computed_columns_apply_to_snapshots(spark, tmp_path):
    """read_at_version serves ALIAS/back-fill too — computed columns are
    read-time semantics, not members."""
    wh = _wh(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, "alpha", _TS)], wh.schema_for("dim_tag")
    )
    wh.save_schema_override("snap_tag", df.schema)
    wh.append("snap_tag", df, batch_id=0)
    v = wh.load_manifest("snap_tag")["version"]
    SchemaMigrator(wh).add_computed_column(
        "snap_tag", "tag_head", T.StringType(), "substring(tag_value,1,2)",
        kind="alias",
    )
    snap = wh.read_at_version("snap_tag", v)
    assert snap.collect()[0]["tag_head"] == "al"


def test_default_null_preserved_on_manifest_members(spark, tmp_path):
    """Member-path twin of the explicit-NULL rule: on a manifest table the
    back-fill decision is per MEMBER (footer check before the union) —
    pre-ALTER members compute the DEFAULT, post-ALTER members serve the
    stored value verbatim, explicitly inserted NULLs included."""
    wh = _wh(spark, tmp_path)
    wh.save_schema_override("mnull", wh.schema_for("dim_tag"))
    wh.append("mnull", spark.createDataFrame(
        [(1, "alpha", _TS)], wh.schema_for("dim_tag")
    ), batch_id=0)
    mig = SchemaMigrator(wh)
    mig.add_computed_column(
        "mnull", "tag_upper", T.StringType(), "upper(tag_value)",
        kind="default",
    )
    # post-ALTER member with an explicit NULL in the DEFAULT column
    wh.append("mnull", spark.createDataFrame(
        [(2, "beta", _TS, None)],
        T.StructType([*wh.schema_for("dim_tag").fields[:3],
                      T.StructField("tag_upper", T.StringType())]),
    ), batch_id=1)
    rows = {r.tag_key: r.tag_upper for r in wh.read("mnull").collect()}
    assert rows == {1: "ALPHA", 2: None}
    # compaction folds members and MATERIALIZES the back-fill; the
    # explicit NULL still survives the merge
    wh.compact("mnull")
    rows = {r.tag_key: r.tag_upper for r in wh.read("mnull").collect()}
    assert rows == {1: "ALPHA", 2: None}


def test_rename_column_is_metadata_only(spark, tmp_path):
    """RENAME COLUMN: O(1) metadata commit — old files keep the old
    footer name and serve through a coalesce fold; new appends write the
    new name; compaction retires the legacy name physically; the chain
    survives a second rename and DETACH/ATTACH."""
    import os

    import pyarrow.parquet as pq

    wh = _wh(spark, tmp_path)
    wh.save_schema_override("rn", wh.schema_for("dim_tag"))
    wh.append("rn", spark.createDataFrame(
        [(1, "alpha", _TS)], wh.schema_for("dim_tag")
    ), batch_id=0)
    files_before = sorted(
        f for _r, _d, fs in os.walk(wh.path("rn")) for f in fs
        if f.endswith(".parquet")
    )
    mig = SchemaMigrator(wh)
    mig.rename_column("rn", "tag_value", "tag_label")
    # metadata-only: nothing rewritten
    files_after = sorted(
        f for _r, _d, fs in os.walk(wh.path("rn")) for f in fs
        if f.endswith(".parquet")
    )
    assert files_before == files_after
    # old rows serve under the new name; old name is gone from the view
    row = wh.read("rn").collect()[0]
    assert row.tag_label == "alpha" and "tag_value" not in wh.read("rn").columns
    # post-rename append uses the new name; both generations fold
    wh.append("rn", spark.createDataFrame(
        [(2, "beta", _TS)], wh.schema_for("rn")
    ), batch_id=1)
    got = {r.tag_key: r.tag_label for r in wh.read("rn").collect()}
    assert got == {1: "alpha", 2: "beta"}
    # chained rename: tag_label -> tag_text keeps serving the oldest files
    mig.rename_column("rn", "tag_label", "tag_text")
    got = {r.tag_key: r.tag_text for r in wh.read("rn").collect()}
    assert got == {1: "alpha", 2: "beta"}
    assert wh.renames("rn")["tag_text"] == ["tag_label", "tag_value"]
    # refusals
    import pytest as _pt

    with _pt.raises(ValueError, match="already exists"):
        mig.rename_column("rn", "tag_key", "tag_text")
    with _pt.raises(ValueError, match="no column"):
        mig.rename_column("rn", "ghost", "ghost2")
    # detach/attach carries the chain
    wh.detach_table("rn")
    assert wh.renames("rn") == {}
    wh.attach_table("rn")
    assert wh.renames("rn")["tag_text"] == ["tag_label", "tag_value"]
    # compaction writes the new name — the chain's files retire
    wh.compact("rn")
    man = wh.load_manifest("rn")
    member = os.path.join(wh.path("rn"), man["members"][0])
    foot_cols = set()
    for dirpath, _dirs, files in os.walk(member):
        for f in files:
            if f.endswith(".parquet"):
                foot_cols |= set(
                    pq.read_schema(os.path.join(dirpath, f)).names
                )
    assert "tag_text" in foot_cols
    assert "tag_value" not in foot_cols and "tag_label" not in foot_cols
    got = {r.tag_key: r.tag_text for r in wh.read("rn").collect()}
    assert got == {1: "alpha", 2: "beta"}


def test_drop_column_metadata_only(spark, tmp_path):
    """DROP COLUMN metadata_only=True: the declared schema forgets the
    column instantly (column pruning makes the dead bytes free); the
    next compaction physically drops it — the CH merge-applied drop."""
    import os

    import pyarrow.parquet as pq

    wh = _wh(spark, tmp_path)
    wh.save_schema_override("dc", wh.schema_for("dim_tag"))
    wh.append("dc", spark.createDataFrame(
        [(1, "alpha", _TS)], wh.schema_for("dim_tag")
    ), batch_id=0)
    mig = SchemaMigrator(wh)
    mig.drop_column("dc", "tag_value", metadata_only=True)
    assert "tag_value" not in wh.read("dc").columns
    assert wh.read("dc").count() == 1
    # data untouched on disk until the merge
    member_files = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(wh.path("dc")) for f in fs
        if f.endswith(".parquet")
    ]
    assert any(
        "tag_value" in pq.read_schema(p).names for p in member_files
    )
    wh.compact("dc")
    member_files = [
        os.path.join(dp, f)
        for m in wh.load_manifest("dc")["members"]
        for dp, _d, fs in os.walk(os.path.join(wh.path("dc"), m)) for f in fs
        if f.endswith(".parquet")
    ]
    assert all(
        "tag_value" not in pq.read_schema(p).names for p in member_files
    )
    # layout columns are protected
    import pytest as _pt

    with _pt.raises(ValueError, match="no column|layout"):
        mig.drop_column("dc", "ghost", metadata_only=True)


def test_rename_drop_refused_under_live_projection(spark, tmp_path):
    """A live projection references base columns by name: RENAME/DROP of
    a projected column is refused until the projection is dropped (the
    CH rule for ALTERs on projected columns)."""
    from pyspark.sql import functions as F  # noqa: F811

    from dev_clickhouse_spark.plans.projection import (
        Measure,
        ProjectionSet,
        ProjectionSpec,
    )

    wh = _wh(spark, tmp_path)
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    wh.save_schema_override("pt", schema)
    wh.append("pt", spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], schema
    ), batch_id=0)
    ps = ProjectionSet(wh, "pt", [ProjectionSpec(
        name="by_grp", dims=("grp",),
        measures=(Measure("count"), Measure("sum", "v")),
    )])
    ps.ensure()
    mig = SchemaMigrator(wh)
    with pytest.raises(ValueError, match="live projection"):
        mig.rename_column("pt", "grp", "grp2")
    with pytest.raises(ValueError, match="live projection"):
        mig.drop_column("pt", "v", metadata_only=True)
    # measure sources are not recorded in the sidecar, so the refusal is
    # blanket: renaming a measure column is blocked too
    with pytest.raises(ValueError, match="live projection"):
        mig.rename_column("pt", "v", "val")
    # dropping the projection unblocks the ALTER
    import shutil

    shutil.rmtree(wh.path("pt") + "/_projections")
    mig.rename_column("pt", "v", "val")
    assert {r.val for r in wh.read("pt").collect()} == {1.0, 2.0}
