"""Batch IO for the driver test tables and generic sources/sinks.

The reference's scan surface (SURVEY.md §2.1): MergeTree partitioned tables
(S3) → partitioned parquet here; federated postgresql() scans (S6) → JDBC;
INSERT…SELECT sinks (S5) → ``write_partitioned``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import tune

#: Timestamp columns of the driver test tables.  Should a table arrive with
#: them stored as parquet TIMESTAMP(NANOS), Spark reads epoch-nano longs
#: (spark.sql.legacy.parquet.nanosAsLong) and ``load_table`` converts them
#: to TimestampType via integer division (no float round-trip — epoch nanos
#: exceed double's 2^53 integer range).  Every committed fixture stores
#: microsecond timestamps without a UTC adjustment, which Spark reads as
#: ``timestamp_ntz``, so the conversion never fires on them.
NANO_TS_COLUMNS: dict[str, list[str]] = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}

TEST_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: footer key under which Spark stores the exact schema of a frame it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def first_parquet(*paths: str) -> str | None:
    """The first parquet data file under ``paths`` (a file path is its own
    first file).  Hidden ``_``/``.`` entries are skipped, as Spark's file
    index skips them (``_SUCCESS``, a table's ``_deletes``)."""
    for root in paths:
        if os.path.isfile(root):
            return root
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for f in sorted(files):
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    return os.path.join(dirpath, f)
    return None


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Spark's ``DataType.asNullable``: a file source reads every field,
    element and map value as nullable, whatever the writer declared."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _arrow_to_spark(at) -> T.DataType:
    """Arrow → Spark type as this session's parquet reader maps it:
    TIMESTAMP(NANOS) reads as epoch-nano ``bigint`` (nanosAsLong), and a
    timestamp without a UTC adjustment as ``timestamp_ntz``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_timestamp(at) and at.unit == "ns":
        return T.LongType()
    return from_arrow_type(at, prefer_timestamp_ntz=True)


def parquet_schema(path: str) -> T.StructType:
    """Spark data schema of the parquet data at ``path`` (a file or a
    directory), read from ONE footer — the first parquet file's — with no
    Spark job and no cache.  Files this program writes carry Spark's exact
    schema in the footer; other files map their arrow schema.  Partition
    columns (``k=v`` directories) are not part of it: Spark's partition
    discovery appends them to an explicit-schema read with the types an
    inferred read gives.  A missing file or an unreadable footer raises."""
    import pyarrow.parquet as pq

    fp = first_parquet(path)
    if fp is None:
        raise FileNotFoundError(f"no parquet file under {path!r}")
    meta = pq.read_metadata(fp)
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        schema = T.StructType.fromJson(json.loads(spark_json))
    else:
        schema = T.StructType([
            T.StructField(f.name, _arrow_to_spark(f.type))
            for f in meta.schema.to_arrow_schema()
        ])
    return _as_nullable(schema)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from the first
    footer (:func:`parquet_schema`) instead of a schema-inference job.
    Paths holding no parquet file at all are left to Spark, which raises
    its own error."""
    fp = first_parquet(*paths)
    if fp is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(parquet_schema(fp)).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table with timestamps normalized to TimestampType."""
    tune(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for c in NANO_TS_COLUMNS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (mirrors the DuckDB oracle)."""
    for name in TEST_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: Per-dialect JDBC defaults (reference S6 federates from Postgres;
#: postgres_to_clickhouse_backfill.sql:47-54).  The env has no live Postgres
#: server — Derby (embedded, in the JVM) exercises the live read path in
#: tests while this matrix pins the dialect-specific knobs a production
#: deployment flips: driver class, identifier quoting, fetch batching, and
#: whether Spark may push predicates into the foreign engine.
JDBC_DIALECTS: dict[str, dict[str, str]] = {
    "postgresql": {
        "driver": "org.postgresql.Driver",
        "quote": '"',
        "fetchsize": "10000",          # stream batches, don't buffer the table
        "pushDownPredicate": "true",   # PG evaluates filters server-side
    },
    "mysql": {
        "driver": "com.mysql.cj.jdbc.Driver",
        "quote": "`",
        "fetchsize": "10000",
        "pushDownPredicate": "true",
    },
    "derby": {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        "quote": '"',
        "pushDownPredicate": "true",
    },
}


def jdbc_dialect(url: str) -> str:
    """Dialect key from a JDBC url (``jdbc:postgresql://…`` → postgresql)."""
    parts = url.split(":")
    return parts[1] if len(parts) > 1 else ""


def quote_ident(name: str, dialect: str) -> str:
    """Quote an identifier the way the dialect expects (schema.table parts
    quoted separately) — dialect quirk the reference's psql scripts rely on
    implicitly."""
    q = JDBC_DIALECTS.get(dialect, {}).get("quote", '"')
    return ".".join(q + part.replace(q, q + q) + q for part in name.split("."))


def jdbc_options(url: str, table: str, **overrides: str) -> dict[str, str]:
    """Assemble the dialect-aware option map for a federated read: explicit
    overrides win, then dialect defaults.  Exposed separately so the per-
    dialect matrix is assertable without a live server for every engine."""
    dialect = jdbc_dialect(url)
    opts = {"url": url, "dbtable": table}
    for k, v in JDBC_DIALECTS.get(dialect, {}).items():
        if k != "quote":
            opts.setdefault(k, v)
    opts.update(overrides)
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Federated foreign scan — reference S6: the ``postgresql(...)`` table
    function used by backfill scripts (reference
    scripts/postgres_to_clickhouse_backfill.sql:47-54).  Parallel reads via
    range-partitioned JDBC when a numeric partition column is supplied;
    dialect defaults (driver, fetchsize, predicate pushdown) come from
    :data:`JDBC_DIALECTS` keyed by the url scheme.
    """
    reader = spark.read.format("jdbc")
    for k, v in jdbc_options(url, table, **options).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1 << 31))
        )
    return reader.load()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — pre-shuffled storage for co-located joins.

    Two tables bucketed identically on their join key sort-merge-join with
    ZERO exchange (the big-fact ↔ big-fact case where neither side
    broadcasts); aggregations on the bucket key also skip their shuffle.
    This is the Spark equivalent of engine-side co-partitioning the reference
    gets from MergeTree ORDER BY locality.  Size ``num_buckets`` so one
    bucket ≈ one task's memory budget at the target scale.
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] = "event_date",
    mode: str = "append",
    sort_within_partitions: list[str] | None = None,
) -> None:
    """Partitioned parquet sink — reference S3: bronze/gold MergeTree tables
    ``PARTITION BY toDate(event_ts) ORDER BY (event_ts, event_id)``
    (reference clickhouse/init/01_bronze_tables.sql:25-27).

    Partition dirs give Catalyst partition pruning for windowed ELT; sorting
    within partitions gives parquet min/max row-group stats, approximating the
    MergeTree primary-key skip index (SURVEY.md §4).
    """
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    df.write.mode(mode).partitionBy(*cols).parquet(path)


#: ClickHouse input-format names → Spark reader recipes.  The serving layer
#: RENDERS these formats out (serving.py FORMAT clauses); this is the
#: ingestion half — every reference deployment loads CSV/TSV/JSONEachRow
#: exports through clickhouse-client --format, and a migrating user feeds
#: the same files here.  Native/Parquet map 1:1.
_CH_INPUT_FORMATS = {
    "jsoneachrow": {"reader": "json", "options": {}},
    "csv": {"reader": "csv", "options": {"header": "false"}},
    "csvwithnames": {"reader": "csv", "options": {"header": "true"}},
    "tsv": {"reader": "csv", "options": {"header": "false", "sep": "\t"}},
    "tsvwithnames": {
        "reader": "csv", "options": {"header": "true", "sep": "\t"}
    },
    "parquet": {"reader": "parquet", "options": {}},
}


def read_ch_format(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema=None,
) -> DataFrame:
    """Read a file in a ClickHouse wire/input format (``INSERT … FORMAT
    X`` / ``clickhouse-client --format X``).  A declared ``schema`` is
    authoritative when given (headerless CSV/TSV NEED one — CH also
    requires the table schema there); JSONEachRow/withNames variants can
    infer but production loads should pin the schema so a malformed file
    fails loudly instead of adopting a wrong inference."""
    key = fmt.strip().lower()
    if key not in _CH_INPUT_FORMATS:
        raise ValueError(
            f"unsupported input format {fmt!r} "
            f"(supported: {sorted(_CH_INPUT_FORMATS)})"
        )
    spec = _CH_INPUT_FORMATS[key]
    reader = spark.read.options(**spec["options"])
    if schema is not None:
        reader = reader.schema(schema)
    elif spec["reader"] == "csv" and spec["options"]["header"] == "false":
        raise ValueError(
            f"format {fmt!r} is headerless — a schema is required"
        )
    return getattr(reader, spec["reader"])(path)
