"""The per-table metadata document (``_schemas/<table>.json``): a damaged
document fails loudly, an ALTER is one atomic commit, and concurrent
declarations never lose each other's updates."""

from __future__ import annotations

import datetime as dt
import os
import re
import threading

import pytest

from dev_clickhouse_spark.plans import warehouse as wmod
from dev_clickhouse_spark.plans.warehouse import Warehouse
from dev_clickhouse_spark.quality import SchemaMigrator

_TS = dt.datetime(2026, 1, 8, 9, 0)


def _two_members(spark, tmp_path) -> Warehouse:
    """Manifest table ``rn`` with dim_tag's shape, one row per member."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = wh.schema_for("dim_tag")
    wh.save_schema_override("rn", schema)
    for b, (k, v) in enumerate([(1, "alpha"), (2, "beta")]):
        wh.append(
            "rn", spark.createDataFrame([(k, v, _TS)], schema), batch_id=b
        )
    return wh


def _rows(wh, table):
    return sorted(tuple(r) for r in wh.read(table).collect())


def test_corrupt_document_fails_loudly(spark, tmp_path):
    """A truncated document raises with its path instead of reading as
    "no declarations" (which would NULL the renamed column); only a
    missing document means "no declarations"."""
    wh = _two_members(spark, tmp_path)
    assert wh._meta("ghost") == {}
    SchemaMigrator(wh).rename_column("rn", "tag_value", "tag_label")
    assert {r.tag_label for r in wh.read("rn").collect()} == {"alpha", "beta"}
    doc = wh._meta_path("rn")
    with open(doc, "r+") as fh:
        fh.truncate(os.path.getsize(doc) // 2)
    with pytest.raises(ValueError, match=re.escape(doc)):
        wh.read("rn")


def test_failed_commit_leaves_the_pre_alter_table(
    spark, tmp_path, monkeypatch
):
    """A crash at the document flip of RENAME COLUMN leaves the schema
    and the rename chain BOTH unchanged: reads serve the pre-ALTER
    columns and values."""
    wh = _two_members(spark, tmp_path)
    cols, rows = wh.read("rn").columns, _rows(wh, "rn")

    def crash(src, dst):
        raise OSError(f"crash before flipping {dst}")

    monkeypatch.setattr(wmod.os, "replace", crash)
    with pytest.raises(OSError, match="crash before flipping"):
        SchemaMigrator(wh).rename_column("rn", "tag_value", "tag_label")
    monkeypatch.undo()
    assert wh.read("rn").columns == cols
    assert _rows(wh, "rn") == rows
    assert wh.renames("rn") == {}


def test_concurrent_declarations_keep_every_key(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.save_schema_override("cd", wh.schema_for("dim_tag"))
    errors: list[BaseException] = []

    def run(fn):
        try:
            for i in range(50):
                fn(i)
        except BaseException as e:  # surfaced by the assert below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(fn,))
        for fn in (
            lambda i: wh.declare_skip_index("cd", f"idx{i}", "tag_key"),
            lambda i: wh.set_column_ttl(
                "cd", "tag_value", i + 1, ttl_col="updated_at"
            ),
        )
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert sorted(wh.declared_skip_indexes("cd")) == sorted(
        f"idx{i}" for i in range(50)
    )
    assert wh.column_ttls("cd") == {
        "tag_value": {"ttl_col": "updated_at", "interval_days": 50.0}
    }
    assert wh.schema_override("cd") == wh.schema_for("dim_tag")
    assert os.listdir(os.path.dirname(wh._meta_path("cd"))) == ["cd.json"]
