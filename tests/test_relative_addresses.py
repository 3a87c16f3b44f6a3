"""Table-relative overlay addresses: a lightweight DELETE or UPDATE keys its
rows on (file path under the table root, row position), so a table
directory carries its overlays wherever it goes — EXCHANGE, RESTORE, DROP
PARTITION and a moved warehouse root read what a pandas model of the
mutations says, and no overlay byte is rewritten on the way (DROP
PARTITION's member-prefix swap aside)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.io import load_table
from dev_clickhouse_spark.plans.warehouse import Warehouse
from tests.test_backup_restore import SF


def _events(spark):
    return load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )


def _mk(spark, wh: Warehouse, table: str, batches, delete: str, update: str):
    """``table`` from the fixture events in two batches, then a lightweight
    DELETE of event type ``delete`` and an UPDATE renaming ``update`` to
    ``'<update>-patched'``.  Returns the pandas model of what it reads."""
    ev = _events(spark)
    wh.set_partitioning(table, ["ts", "event_id"])
    for b, batch_id in enumerate(batches):
        wh.append(table, ev.filter(F.col("event_id") % 2 == b), batch_id=batch_id)
    wh.delete_where_lightweight(table, f"event_type = '{delete}'")
    wh.update_where_lightweight(
        table, {"event_type": F.lit(f"{update}-patched")},
        f"event_type = '{update}'",
    )
    model = ev.select("event_id", "event_type", "event_date").toPandas()
    model = model[model.event_type != delete].copy()
    model.loc[model.event_type == update, "event_type"] = f"{update}-patched"
    return model


def _rows(df) -> list[tuple]:
    return sorted(
        (r.event_id, r.event_type)
        for r in df.select("event_id", "event_type").collect()
    )


def _model_rows(model: pd.DataFrame) -> list[tuple]:
    return sorted(zip(model.event_id.tolist(), model.event_type.tolist()))


@pytest.fixture()
def blue_green(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    blue = _mk(spark, wh, "blue", [0, 1], delete="click", update="view")
    green = _mk(spark, wh, "green", [2, 3], delete="error", update="purchase")
    return wh, blue, green


def test_exchange_carries_each_sides_overlays(blue_green):
    wh, blue, green = blue_green
    assert len(_model_rows(blue)) == 790 and len(_model_rows(green)) == 799
    assert _rows(wh.read("blue")) == _model_rows(blue)
    wh.exchange_tables("blue", "green")
    assert _rows(wh.read("blue")) == _model_rows(green)
    assert _rows(wh.read("green")) == _model_rows(blue)


def test_read_with_pre_swap_manifest_re_resolves(blue_green, monkeypatch):
    wh, _blue, green = blue_green
    stale = wh.load_manifest("blue")
    wh.exchange_tables("blue", "green")
    real = wh.load_manifest
    handed = iter([stale])
    # the first resolve returns the manifest blue had before the swap,
    # whose members the directory now named 'blue' does not hold
    monkeypatch.setattr(
        wh, "load_manifest", lambda t: next(handed, None) or real(t)
    )
    assert _rows(wh.read("blue")) == _model_rows(green)
    # an unchanged manifest whose member is missing re-raises
    monkeypatch.setattr(wh, "load_manifest", real)
    shutil.rmtree(os.path.join(wh.path("green"), real("green")["members"][0]))
    with pytest.raises(FileNotFoundError, match="no parquet file"):
        wh.read("green")


def test_moved_root_and_drop_partition_keep_overlays(spark, blue_green, tmp_path):
    wh, blue, _green = blue_green
    day = "2024-01-12"
    wh.drop_partition("blue", day)
    blue = blue[blue.event_date.astype(str) != day]
    assert _rows(wh.read("blue")) == _model_rows(blue)
    moved = str(tmp_path / "moved")
    shutil.move(wh.root, moved)
    assert _rows(Warehouse(spark, moved).read("blue")) == _model_rows(blue)


def test_restore_links_overlays_unchanged(spark, blue_green, tmp_path):
    wh, blue, _green = blue_green
    bak = str(tmp_path / "bak")
    wh.backup_table("blue", bak)
    other = Warehouse(spark, str(tmp_path / "other"))
    other.restore_table(bak, "blue")
    assert _rows(other.read("blue")) == _model_rows(blue)
    overlays = other.load_manifest("blue")["overlays"]
    assert [e["kind"] for e in overlays] == ["dv", "dv"]
    # the update's entry names the member it appended, restored with it
    assert overlays[1]["adds"] in other.load_manifest("blue")["members"]
    linked = 0
    for e in overlays:
        restored = other._overlay_path("blue", e)
        backed = os.path.join(bak, os.path.relpath(restored, other.path("blue")))
        for f in os.listdir(backed):
            assert os.path.samefile(
                os.path.join(backed, f), os.path.join(restored, f)
            )
            linked += f.endswith(".parquet")
    assert linked >= 2


def _drop_marker(path: str) -> str:
    """Rewrite the JSON document ``path`` as an older release wrote it:
    overlay entries without the address marker.  Returns the first
    entry's name."""
    with open(path) as fh:
        doc = json.load(fh)
    for e in doc["overlays"]:
        e.pop("address", None)
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return doc["overlays"][0]["name"]


def test_absolute_address_entries_raise(spark, blue_green, tmp_path):
    wh, _blue, _green = blue_green
    bak = str(tmp_path / "bak")
    wh.backup_table("blue", bak)
    name = _drop_marker(os.path.join(bak, "backup.json"))
    with pytest.raises(ValueError, match=name):
        wh.restore_table(bak, "restored")
    assert not wh.exists("restored")

    d = os.path.join(wh.path("blue"), "_manifest")
    version = wh.load_manifest("blue")["version"]
    with open(os.path.join(d, "CURRENT")) as fh:
        name = _drop_marker(os.path.join(d, fh.read()))
    with pytest.raises(ValueError, match=name):
        wh.read("blue")
    with pytest.raises(ValueError, match=name):
        wh.read_at_version("blue", version)


def test_legacy_patch_entry_raises(spark, blue_green, tmp_path):
    """A manifest or backup still listing a ``patch`` entry (an older
    release's lightweight UPDATE, whose rows no read applies any more)
    raises, naming the entry — there is no compatibility path."""
    wh, _blue, _green = blue_green

    def to_patch(path: str) -> str:
        with open(path) as fh:
            doc = json.load(fh)
        doc["overlays"][-1]["kind"] = "patch"
        with open(path, "w") as fh:
            json.dump(doc, fh)
        return doc["overlays"][-1]["name"]

    bak = str(tmp_path / "bak")
    wh.backup_table("blue", bak)
    name = to_patch(os.path.join(bak, "backup.json"))
    with pytest.raises(ValueError, match=f"{name}.*'patch'"):
        wh.restore_table(bak, "restored")
    assert not wh.exists("restored")

    d = os.path.join(wh.path("blue"), "_manifest")
    version = wh.load_manifest("blue")["version"]
    with open(os.path.join(d, "CURRENT")) as fh:
        name = to_patch(os.path.join(d, fh.read()))
    with pytest.raises(ValueError, match=f"{name}.*'patch'"):
        wh.read("blue")
    with pytest.raises(ValueError, match=f"{name}.*'patch'"):
        wh.read_at_version("blue", version)
