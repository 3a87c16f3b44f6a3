"""Corpus-stream soak drill: long-haul integrity of the ONLINE dedup path.

VERDICT r6 item #7: the streaming corpus builder's unit tests prove 2-batch
semantics; a 100 TB ingest runs for months with background compaction,
orphan GC, restarts (metastore reloads), and mid-flight crashes.  This soak
drives >= 20 micro-batches through ``CorpusStream._process_batch`` with all
four disruptions injected mid-stream and then audits the END STATE against
ground truth recomputed from scratch:

- **index exactness** — the persisted ``corpus_band_index`` must equal the
  band rows recomputed from the accepted corpus (set-equal both ways), i.e.
  compaction/GC/reload never lost or duplicated an index row;
- **no re-accepted near-dups** — running the BATCH near-dup detector over
  the whole accepted corpus must find zero pairs: if any near-dup slipped
  in (a stale index after compaction would cause exactly that), this fails;
- **bounded file count** — after the final compact+gc the table holds fewer
  data files than batches processed (without compaction it's >= 1/batch);
- **replay convergence** — a kill between the data appends and the metrics
  commit marker, followed by a replay of the same batch, changes nothing.

Run as a script to write the ``SOAK_CORPUS.json`` artifact (the per-batch
accept/reject metrics table snapshot VERDICT asked for); the pytest
integration twin is ``tests/test_corpus_stream.py::test_corpus_soak``.

Reference parity: ClickHouse runs background merges + TTL drops while Kafka
materialized views append (dev-clickhouse ``init/02_kafka_ingest.sql.tmpl``);
this drill is that steady-state, for the corpus-builder tables.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dev_clickhouse_spark.llm.dedup import minhash_lsh_pairs, minhash_signatures
from dev_clickhouse_spark.plans.warehouse import batch_member
from dev_clickhouse_spark.streaming import CorpusStream

#: one batch = 3 novel docs + 1 near-dup of the PREVIOUS batch's first novel
#: doc + 1 exact within-batch dup of this batch's first novel doc
DOCS_PER_BATCH = 5
NOVEL_PER_BATCH = 3


def _novel_text(i: int) -> str:
    """Deterministic 25-pseudo-word text; distinct i share no 5-gram shingle
    (every word encodes i), so cross-doc Jaccard is 0 for novel pairs."""
    return " ".join(f"t{i}w{(i * 37 + k * 11) % 9973}" for k in range(25))


def _batch_rows(i: int) -> list[tuple]:
    rows = []
    texts = [_novel_text(NOVEL_PER_BATCH * i + k) for k in range(NOVEL_PER_BATCH)]
    for k, txt in enumerate(texts):
        rows.append((1000 * i + k + 1, txt, "en", "soak", len(txt)))
    if i == 0:
        # no prior corpus yet: the near-dup slot is a 4th novel doc
        extra = _novel_text(10_000)
        rows.append((1000 * i + 4, extra, "en", "soak", len(extra)))
    else:
        # 24 of its 25 words match batch i-1's first novel doc: J ~= 21/22
        nd = _novel_text(NOVEL_PER_BATCH * (i - 1)) + " tail"
        rows.append((1000 * i + 4, nd, "en", "soak", len(nd)))
    rows.append((1000 * i + 5, texts[0], "en", "soak", len(texts[0])))
    return rows


def expected_accepted_ids(n_batches: int) -> set[int]:
    ids = {4}  # batch 0's extra novel doc
    for i in range(n_batches):
        ids.update(1000 * i + k + 1 for k in range(NOVEL_PER_BATCH))
    return ids


def run_soak(spark: SparkSession, root: str, n_batches: int = 24) -> dict:
    """Drive the soak; returns the audit report (raises AssertionError on
    any integrity violation, so both the pytest twin and the CLI share one
    set of checks)."""
    from dev_clickhouse_spark.schemas import CORPUS_DOCUMENTS

    assert n_batches >= 20
    wh_root = os.path.join(root, "wh")
    cs = CorpusStream(spark, wh_root, os.path.join(root, "ck"))
    events: list[dict] = []
    tables = ("corpus_documents", "corpus_band_index", "corpus_rejects")

    for i in range(n_batches):
        batch = spark.createDataFrame(_batch_rows(i), CORPUS_DOCUMENTS)
        cs._process_batch(batch, i)
        if i % 4 == 3:
            # _process_batch localCheckpoints several intermediates per
            # batch; over 20+ batches the dropped RDD blocks outlive their
            # Python refs until a GC lets the ContextCleaner reap them —
            # same driver-headroom pattern as tools/scale_rehearsal.py
            import gc as _gc

            _gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass

        if i == n_batches // 3:  # mid-soak compaction + orphan GC
            n_files = {t: cs.wh.compact(t) for t in tables}
            swept = {t: cs.wh.gc(t, min_age_sec=0.0) for t in tables}
            events.append({"after_batch": i, "compact_files": n_files,
                           "gc_swept": {t: len(s) for t, s in swept.items()}})
        if i == n_batches // 2:  # metastore reload: fresh instance, same root
            cs = CorpusStream(spark, wh_root, os.path.join(root, "ck"))
            events.append({"after_batch": i, "reload": True})
        if i == (2 * n_batches) // 3:
            # kill between the data appends and the metrics commit marker
            # (roll the marker's commit back), then replay the SAME batch
            # through the reloaded instance
            def uncommit(man, i=i):
                man["committed_batches"].remove(i)
                man["members"].remove(batch_member(i))
                return True

            cs.wh._flip("corpus_ingest_metrics", uncommit)
            assert not cs.wh.batch_committed("corpus_ingest_metrics", i)
            cs._process_batch(batch, i)
            events.append({"after_batch": i, "kill_replay": True})

    final_files = {t: cs.wh.compact(t) for t in tables}
    for t in tables:
        cs.wh.gc(t, min_age_sec=0.0)

    # ---- audit against ground truth recomputed from scratch --------------
    corpus = cs.wh.read("corpus_documents").localCheckpoint(eager=True)
    accepted = {r.doc_id for r in corpus.select("doc_id").collect()}
    want = expected_accepted_ids(n_batches)
    assert accepted == want, (
        f"accepted set diverged: extra={sorted(accepted - want)[:5]} "
        f"missing={sorted(want - accepted)[:5]}"
    )
    assert corpus.count() == corpus.select("doc_id").distinct().count(), \
        "duplicate rows in corpus_documents (replay not exactly-once)"

    # no near-dups among what was admitted: the batch detector over the
    # final corpus must be empty, else the index went stale at some point
    n_residual_pairs = minhash_lsh_pairs(corpus).count()
    assert n_residual_pairs == 0, (
        f"{n_residual_pairs} near-dup pairs survived inside the corpus"
    )

    # persisted band index == recompute from the accepted corpus, set-equal
    idx = cs.wh.read("corpus_band_index").select("doc_id", "band", "band_hash")
    truth = (
        minhash_signatures(corpus)
        .filter(F.col("bands").isNotNull())
        .select("doc_id", F.posexplode("bands").alias("band", "band_hash"))
    )
    extra = idx.exceptAll(truth).count()
    missing = truth.exceptAll(idx).count()
    assert extra == 0 and missing == 0, (
        f"band index drifted: {extra} extra rows, {missing} missing rows"
    )

    rejects = cs.wh.read("corpus_rejects")
    n_rejects = rejects.count()
    # every batch rejects its in-batch exact dup; batches 1.. also reject
    # the corpus near-dup — and the replayed batch must not double-count
    assert n_rejects == n_batches + (n_batches - 1), (
        f"reject ledger off: {n_rejects} rows"
    )

    metrics = [
        r.asDict()
        for r in cs.wh.read("corpus_ingest_metrics")
        .orderBy("batch_id").collect()
    ]
    for m in metrics:
        m["processed_at"] = str(m["processed_at"])
        ok = (m["n_in"] == DOCS_PER_BATCH and m["n_batch_exact"] == 1
              and m["n_accepted"] in (3, 4))
        assert ok, f"per-batch metrics off at batch {m['batch_id']}: {m}"

    assert final_files["corpus_documents"] < n_batches, (
        f"file count unbounded: {final_files['corpus_documents']} files "
        f"after {n_batches} batches"
    )
    return {
        "metric": "corpus_soak",
        "n_batches": n_batches,
        "events": events,
        "n_accepted": len(accepted),
        "n_rejects": n_rejects,
        "residual_near_dup_pairs": n_residual_pairs,
        "band_index_drift": {"extra": extra, "missing": missing},
        "final_data_files": final_files,
        "batch_metrics": metrics,
        "verdict": "PASS",
    }


def main() -> None:
    import argparse
    import tempfile

    from dev_clickhouse_spark.session import get_spark

    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()

    spark = get_spark()
    with tempfile.TemporaryDirectory(prefix="corpus_soak_") as root:
        report = run_soak(spark, root, n_batches=24)
    out = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                       "SOAK_CORPUS.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in report.items()
                      if k != "batch_metrics"}))


if __name__ == "__main__":
    main()
