"""Streaming bronze ingest (SURVEY.md §2.1 S1/S2, §2.9 ST1-ST6).

The reference consumes a Kafka topic as raw JSON strings and fans each block
through 3 materialized views into typed bronze tables
(clickhouse/init/02_kafka_ingest.sql.tmpl).  Here: one ``readStream`` →
``foreachBatch`` that runs the same extraction expression layer
(sources/json_events.extract_all) and appends 3 partitioned parquet tables per
micro-batch.  Exactly-once = checkpointed source offsets + genuinely
idempotent per-batch writes: every table (and ingest_metrics) gets the batch
as a ``Warehouse.append(..., batch_id=)`` member that a replayed batch
OVERWRITES, so a failure after a partial write converges to the same end
state instead of duplicating rows; fully-committed batch ids are skipped
outright.

Delivery semantics mapping:
- consumer-group offsets (ST1)        → checkpointLocation
- kafka_skip_broken_messages (ST2)    → permissive parse; unrouted/unparseable
  rows are counted to the ingest_metrics table instead of failing the batch
- no ingest watermark (ST3)           → same: bronze appends as events arrive;
  optional ``dedupe=True`` adds withWatermark + dropDuplicates (ST5)
- 5-min cadence (ST4)                 → Trigger.ProcessingTime / AvailableNow
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.warehouse import Warehouse
from ..sources.json_events import extract_all


class BronzeStream:
    """Streaming ingest into a Warehouse: files (testable anywhere) or Kafka
    (same foreachBatch, broker required)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        checkpoint_root: str,
        dedupe: bool = False,
    ):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.checkpoint_root = checkpoint_root
        self.dedupe = dedupe

    # -- sources -----------------------------------------------------------

    def from_files(
        self, input_dir: str, available_now: bool = True,
        processing_time: str = "5 minutes",
    ) -> StreamingQuery:
        """File-source stream: one JSON document per line (the reference's
        JSONAsString framing)."""
        raw = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", "16")
            .load(input_dir)
            .select(F.col("value").alias("raw"))
        )
        return self._start(raw, available_now, processing_time)

    @staticmethod
    def kafka_options(brokers: str, topics: str, group_id: str) -> dict[str, str]:
        """The Kafka source options, one-to-one with the reference's Kafka
        engine table settings (02_kafka_ingest.sql.tmpl:1-11):
        kafka_broker_list → bootstrap.servers, kafka_topic_list → subscribe,
        kafka_group_name → group.id, kafka_skip_broken_messages →
        failOnDataLoss=false.  Exposed separately so the mapping is
        assertable without a broker in the environment."""
        return {
            "kafka.bootstrap.servers": brokers,
            "subscribe": topics,
            "kafka.group.id": group_id,
            "failOnDataLoss": "false",
        }

    #: the Kafka wire schema (what ``format("kafka").load()`` returns) — also
    #: the schema test streams must present to ``from_kafka_wire``
    KAFKA_WIRE_SCHEMA = (
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp, timestampType int"
    )

    @staticmethod
    def kafka_wire_to_raw(kafka_df: DataFrame) -> DataFrame:
        """The Kafka branch's value-cast step: binary ``value`` → UTF-8 raw
        JSON string (the reference's JSONAsString framing,
        02_kafka_ingest.sql.tmpl:9).  Shared by the real reader and the
        wire-shaped test twin so the executed transform is identical."""
        return kafka_df.selectExpr("CAST(value AS STRING) AS raw")

    @staticmethod
    def kafka_wire_virtuals(kafka_df: DataFrame) -> DataFrame:
        """Raw string plus the ClickHouse Kafka-engine VIRTUAL columns
        (``_topic``, ``_partition``, ``_offset``, ``_timestamp``,
        ``_key``) under their CH names — what a CH materialized view
        selects off a Kafka engine table for provenance/audit
        (``SELECT …, _topic, _offset FROM kafka_table``).  Spark's wire
        schema carries the same fields natively; this is the naming
        shim so MV-style consumers keep the CH contract."""
        return kafka_df.select(
            F.expr("CAST(value AS STRING)").alias("raw"),
            F.col("topic").alias("_topic"),
            F.col("partition").alias("_partition"),
            F.col("offset").alias("_offset"),
            F.col("timestamp").alias("_timestamp"),
            F.expr("CAST(key AS STRING)").alias("_key"),
        )

    def from_kafka(
        self, brokers: str, topics: str, group_id: str,
        available_now: bool = False, processing_time: str = "5 minutes",
    ) -> StreamingQuery:
        """Kafka source — same foreachBatch sink as ``from_files`` (shared
        ``_start``), differing only in the reader.  The broker-side reader
        requires the spark-sql-kafka connector + a broker (absent in the test
        environment); everything downstream of ``load()`` — value cast →
        route → extract → exactly-once sink — is exercised for real by
        ``from_kafka_wire`` micro-batches in tests/test_streaming.py."""
        raw = self.kafka_wire_to_raw(
            self.spark.readStream.format("kafka")
            .options(**self.kafka_options(brokers, topics, group_id))
            .load()
        )
        return self._start(raw, available_now, processing_time)

    def from_kafka_wire(
        self, wire: DataFrame, available_now: bool = True,
        processing_time: str = "5 minutes",
    ) -> StreamingQuery:
        """Drive the Kafka branch from an already-constructed stream with the
        Kafka wire schema (``KAFKA_WIRE_SCHEMA``).  This is the broker-less
        twin of ``from_kafka``: identical value-cast transform, identical
        sink — only ``format("kafka").load()`` itself is substituted."""
        return self._start(
            self.kafka_wire_to_raw(wire), available_now, processing_time
        )

    # -- sink --------------------------------------------------------------

    def _start(
        self, raw: DataFrame, available_now: bool, processing_time: str
    ) -> StreamingQuery:
        writer = raw.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", os.path.join(self.checkpoint_root, "bronze")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..sources.json_events import with_parsed

        # replay of a fully-committed batch (metrics written last = the
        # commit marker): skip — offsets alone cannot guarantee this, the
        # checkpoint commits AFTER foreachBatch returns
        if self.wh.batch_committed("ingest_metrics", batch_id):
            return

        # parse once, then the 3 stream writes + metrics reuse the struct
        batch = with_parsed(batch).localCheckpoint(eager=True)
        n_raw = batch.count()

        # the three typed writes share the one materialized parse and target
        # disjoint tables — submit them CONCURRENTLY (same design as
        # PipelineRunner.ingest_raw).  Partial failure is safe: each table's
        # batch member is replay-overwritten, the metrics marker below is
        # only committed when all three succeeded, so
        # a failed write fails the batch and the replay converges every
        # table to exactly-once regardless of which subset committed.
        from concurrent.futures import ThreadPoolExecutor

        def write(item):
            table, df = item
            df = df.filter(F.col("event_ts").isNotNull())
            if self.dedupe:
                df = df.dropDuplicates(["event_id", "event_ts"])
            return self.wh.append(table, df, batch_id=batch_id)

        extracted = extract_all(batch)
        with ThreadPoolExecutor(max_workers=len(extracted)) as pool:
            counts = dict(zip(extracted, pool.map(write, extracted.items())))
        # unrouted = documents matching NO route (a doc can match several
        # routes, and dedupe drops rows post-route — neither may be counted
        # as broken input)
        from ..sources.json_events import route_suricata, route_wazuh, route_zeek

        n_routed_any = batch.filter(
            route_suricata(batch) | route_wazuh(batch) | route_zeek(batch)
        ).count()
        metrics = self.spark.createDataFrame(
            [(int(batch_id), n_raw, counts.get("suricata_events_raw", 0),
              counts.get("wazuh_events_raw", 0), counts.get("zeek_events_raw", 0),
              n_raw - n_routed_any)],
            "batch_id long, n_raw long, n_suricata long, n_wazuh long, "
            "n_zeek long, n_unrouted long",
        ).withColumn("processed_at", F.current_timestamp())
        # committed LAST: its ledger entry doubles as the commit marker
        self.wh.append("ingest_metrics", metrics, batch_id=batch_id)


def windowed_event_counts(
    bronze_stream: DataFrame, watermark: str = "10 minutes",
    window_size: str = "5 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark (ST4) — the
    streaming twin of the stored-data 5-minute bucket query (W3)."""
    return (
        bronze_stream.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window_size).alias("w"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("w.start").alias("bucket_start"), "event_count")
    )
