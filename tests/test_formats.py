"""ClickHouse input formats (io.read_ch_format) — the ingestion half of
the serving layer's FORMAT renderers: a file rendered by serving.py in
format X must read back through read_ch_format(X) with equal rows."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import types as T

from dev_clickhouse_spark.io import (
    TEST_TABLES,
    load_table,
    parquet_schema,
    read_ch_format,
    read_parquet,
)

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("v", T.DoubleType()),
])
ROWS = [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.0)]


@pytest.mark.parametrize("fmt,text", [
    ("JSONEachRow",
     '{"id":1,"name":"a","v":1.5}\n{"id":2,"name":"b","v":-2.0}\n'
     '{"id":3,"name":"c","v":0.0}\n'),
    ("CSV", "1,a,1.5\n2,b,-2.0\n3,c,0.0\n"),
    ("CSVWithNames", "id,name,v\n1,a,1.5\n2,b,-2.0\n3,c,0.0\n"),
    ("TSV", "1\ta\t1.5\n2\tb\t-2.0\n3\tc\t0.0\n"),
    ("TSVWithNames", "id\tname\tv\n1\ta\t1.5\n2\tb\t-2.0\n3\tc\t0.0\n"),
])
def test_roundtrip_text_formats(spark, tmp_path, fmt, text):
    p = tmp_path / f"data_{fmt}.txt"
    p.write_text(text)
    got = sorted(
        map(tuple, read_ch_format(spark, str(p), fmt, SCHEMA).collect())
    )
    assert got == ROWS


def test_parquet_format_and_inference(spark, tmp_path):
    src = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / "pq")
    src.write.parquet(p)
    got = sorted(map(tuple, read_ch_format(spark, p, "Parquet").collect()))
    assert got == ROWS


def test_headerless_requires_schema_and_unknown_refused(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("1,a,1.5\n")
    with pytest.raises(ValueError, match="schema is required"):
        read_ch_format(spark, str(p), "CSV")
    with pytest.raises(ValueError, match="unsupported input format"):
        read_ch_format(spark, str(p), "Avro", SCHEMA)


def test_show_create_table(spark, tmp_path):
    import datetime as dt

    from dev_clickhouse_spark.plans.warehouse import Warehouse
    from dev_clickhouse_spark.quality import SchemaMigrator

    wh = Warehouse(spark, str(tmp_path / "wh"), codec="zstd")
    wh.append("dim_tag", spark.createDataFrame(
        [(1, "a", dt.datetime(2026, 1, 8))], wh.schema_for("dim_tag")
    ))
    SchemaMigrator(wh).add_computed_column(
        "dim_tag", "tag_upper", T.StringType(), "upper(tag_value)",
        kind="default",
    )
    SchemaMigrator(wh).add_computed_column(
        "dim_tag", "tag_head", T.StringType(), "substring(tag_value,1,2)",
        kind="alias",
    )
    ddl = wh.show_create_table("dim_tag")
    assert "CREATE TABLE dim_tag" in ddl
    assert "`tag_upper` string DEFAULT upper(tag_value)" in ddl
    assert "`tag_head` string ALIAS substring(tag_value,1,2)" in ddl
    assert "SETTINGS codec = 'zstd'" in ddl
    # partitioned table renders its layout clause
    ddl_ev = wh.show_create_table("wazuh_events_raw")
    assert "PARTITION BY event_date" in ddl_ev
    assert "ORDER BY (event_ts, event_id)" in ddl_ev


def test_order_by_only_layout(spark, tmp_path):
    """``set_partitioning(..., partitioned=False)`` declares a MergeTree
    ORDER BY without PARTITION BY: writes are sorted but mint no
    ``event_date=`` directory level, and SHOW CREATE TABLE renders only
    the ORDER BY clause (the r10 version misreported every sorted table
    as date-partitioned)."""
    import datetime as dt
    import os

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.set_partitioning("dim_tag", ["tag_key"], partitioned=False)
    wh.append("dim_tag", spark.createDataFrame(
        [(2, "b", dt.datetime(2026, 1, 9)), (1, "a", dt.datetime(2026, 1, 8))],
        wh.schema_for("dim_tag"),
    ))
    ddl = wh.show_create_table("dim_tag")
    assert "ORDER BY (tag_key)" in ddl
    assert "PARTITION BY" not in ddl
    # no date directory level on disk
    dirs = [
        d for _r, ds, _f in os.walk(wh.path("dim_tag")) for d in ds
    ]
    assert not any(d.startswith("event_date=") for d in dirs)
    assert wh.read("dim_tag").count() == 2


# -- footer schema (io.parquet_schema / io.read_parquet) ---------------------

SF = "/root/testdata/sf0.001"


def _assert_footer_read_matches_inference(spark, *paths):
    got = read_parquet(spark, *paths)
    want = spark.read.parquet(*paths)
    assert got.schema == want.schema, paths  # names, types, nullability
    return got


def test_footer_schema_matches_inference_on_fixtures(spark):
    for name in TEST_TABLES:
        _assert_footer_read_matches_inference(
            spark, os.path.join(SF, f"{name}.parquet")
        )


def test_footer_schema_matches_inference_on_warehouse_layouts(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from dev_clickhouse_spark.plans.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    for t in ("plain_ev", "batch_ev"):
        wh.set_partitioning(t, ["ts", "event_id"])  # event_date=… dirs
    wh.append("plain_ev", ev)
    for b in range(2):
        wh.append(
            "batch_ev", ev.filter(F.col("event_id") % 2 == b), batch_id=b
        )
    wh.update_where_lightweight(
        "batch_ev", {"event_type": F.lit("tap")}, "event_type = 'click'"
    )
    member = wh.load_manifest("batch_ev")["members"][0]
    (patch,) = wh.load_manifest("batch_ev")["overlays"]
    for path, partition_cols in (
        (wh.path("plain_ev"), ["member", "event_date"]),
        (wh.path("batch_ev"), ["member", "event_date"]),
        (os.path.join(wh.path("batch_ev"), member), ["event_date"]),
        (wh._overlay_path("batch_ev", patch), []),
    ):
        got = _assert_footer_read_matches_inference(spark, path)
        # partition columns come from directory discovery, not the footer
        data_cols = parquet_schema(path).names
        assert got.columns == data_cols + partition_cols
    assert read_parquet(spark, wh.path("plain_ev")).count() == ev.count()


def test_footer_schema_maps_nanos_to_bigint(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
        "k": pa.array([1], pa.int32()),
    }), p)
    assert pq.read_schema(p).field("ts").type == pa.timestamp("ns")
    got = _assert_footer_read_matches_inference(spark, p)
    assert dict(got.dtypes) == {"ts": "bigint", "k": "int"}
    assert got.first()["ts"] == 1_700_000_000_123_456_789


def test_footer_schema_fails_loudly(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    p = tmp_path / "cut.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(p))
    p.write_bytes(p.read_bytes()[:-12])  # truncated footer
    with pytest.raises(pa.ArrowInvalid):
        parquet_schema(str(p))
    with pytest.raises(pa.ArrowInvalid):
        read_parquet(spark, str(p))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        parquet_schema(str(empty))
    with pytest.raises(AnalysisException):  # Spark's own no-file error
        read_parquet(spark, str(empty))
