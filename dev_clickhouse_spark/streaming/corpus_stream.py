"""Streaming training-corpus builder with INLINE near-dup rejection.

The batch dedup family (llm/dedup.py) answers "which documents in this
corpus are near-dups"; a 100 TB ingest pipeline needs the ONLINE form:
as document micro-batches arrive, reject what near-dups the corpus built
so far, admit the rest, and grow the index — without ever re-shuffling
the accepted corpus.  Three warehouse tables:

- ``corpus_documents``  — accepted docs (the training corpus)
- ``corpus_band_index`` — (doc_id, band, band_hash) rows of accepted docs:
  the PERSISTED LSH index ``incremental_lsh_pairs`` probes; per batch the
  corpus contributes only this index, so batch cost is
  O(batch + collisions), independent of corpus size
- ``corpus_rejects``    — dropped docs with their match + reason, auditable

Exactly-once: all three tables are batch-append (warehouse manifest
ledger); a replayed batch re-runs the SAME dedup decision because the
index load EXCLUDES the replaying batch's own doc_ids — a partially
committed previous attempt cannot make the batch near-dup itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm.dedup import (
    incremental_lsh_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
)
from ..plans.warehouse import Warehouse
from ..schemas import CORPUS_DOCUMENTS


class CorpusStream:
    """foreachBatch pipeline: micro-batches of documents → deduped corpus."""

    def __init__(self, spark: SparkSession, warehouse_root: str,
                 checkpoint_root: str):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.checkpoint_root = checkpoint_root

    # -- source wiring -----------------------------------------------------

    def from_files(self, input_dir: str) -> StreamingQuery:
        """Consume parquet files with the ``corpus_documents`` schema."""
        stream = (
            self.spark.readStream.schema(CORPUS_DOCUMENTS)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        return (
            stream.writeStream.foreachBatch(self._process_batch)
            .option(
                "checkpointLocation",
                os.path.join(self.checkpoint_root, "corpus"),
            )
            .trigger(availableNow=True)
            .start()
        )

    # -- the per-batch dedup decision -------------------------------------

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # metrics are committed LAST: their ledger entry doubles as the
        # commit marker (same pattern as BronzeStream's ingest_metrics)
        if self.wh.batch_committed("corpus_ingest_metrics", batch_id):
            return
        batch = batch.localCheckpoint(eager=True)
        batch_ids = batch.select("doc_id").distinct()

        # 1. within-batch EXACT dupes: keep the lowest doc_id per text hash
        w_ids = batch.select(
            "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("fp")
        )
        keep_fp = w_ids.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
        exact_rejects = (
            w_ids.join(keep_fp, "fp")
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select("doc_id", F.col("keep_id").alias("matched_doc_id"),
                    F.lit(1.0).alias("jaccard"),
                    F.lit("batch_exact").alias("reject_kind"))
        )
        survivors = batch.join(
            exact_rejects.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)

        # 2. within-batch NEAR dupes (keep the lower id of each pair)
        within = minhash_lsh_pairs(survivors).select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("matched_doc_id"),
            "jaccard",
            F.lit("batch_near_dup").alias("reject_kind"),
        ).dropDuplicates(["doc_id"])
        survivors2 = survivors.join(
            within.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)

        # 3. vs the CORPUS: probe the persisted band index.  The index may
        # hold rows from a partially-committed previous attempt of THIS
        # batch — exclude the batch's own ids so a replay re-derives the
        # same decision instead of near-dupping itself.
        index = self.wh.read("corpus_band_index").join(
            batch_ids, "doc_id", "left_anti"
        )
        corpus_texts = self.wh.read("corpus_documents").select("doc_id", "text")
        all_texts = survivors2.select("doc_id", "text").unionByName(
            corpus_texts
        )
        vs_corpus = incremental_lsh_pairs(
            survivors2, index, all_texts
        ).select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("matched_doc_id"),
            "jaccard",
            F.lit("corpus_near_dup").alias("reject_kind"),
        ).dropDuplicates(["doc_id"])

        accepted = survivors2.join(
            vs_corpus.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)

        # materialize the rejects BEFORE any append: their lineage scans the
        # CURRENT index/corpus files, and the batch-dir overwrites below
        # replace those files on a replay — a lazy plan would re-read paths
        # that no longer exist
        rejects = (
            exact_rejects.unionByName(within).unionByName(vs_corpus)
            .join(batch.select("doc_id", "text"), "doc_id", "left")
            .select("doc_id", "text", "matched_doc_id", "jaccard",
                    "reject_kind")
            .localCheckpoint(eager=True)
        )

        # 4. commit: corpus + index first, rejects LAST (the commit marker
        # batch_committed() checks) — all three idempotent per-batch appends
        self.wh.append("corpus_documents", accepted, batch_id=batch_id)
        idx_rows = (
            minhash_signatures(accepted)
            .filter(F.col("bands").isNotNull())
            .select("doc_id", F.posexplode("bands").alias("band", "band_hash"))
        )
        self.wh.append("corpus_band_index", idx_rows, batch_id=batch_id)
        self.wh.append("corpus_rejects", rejects, batch_id=batch_id)

        # observability + commit marker: accept/reject accounting per batch
        kinds = {
            r["reject_kind"]: r["n"]
            for r in rejects.groupBy("reject_kind")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        metrics = self.spark.createDataFrame(
            [(
                int(batch_id), batch.count(),
                kinds.get("batch_exact", 0), kinds.get("batch_near_dup", 0),
                kinds.get("corpus_near_dup", 0), accepted.count(),
            )],
            "batch_id long, n_in long, n_batch_exact long, "
            "n_batch_near long, n_corpus_near long, n_accepted long",
        ).withColumn("processed_at", F.current_timestamp())
        self.wh.append("corpus_ingest_metrics", metrics, batch_id=batch_id)
