from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.io import load_table, write_bucketed
from dev_clickhouse_spark.llm.similarity import cosine_topk, ivf_topk


def test_bucketed_join_has_no_exchange(spark):
    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "bkt_left", "k", num_buckets=8, sort_cols=["k"])
    write_bucketed(right, "bkt_right", "k", num_buckets=8, sort_cols=["k"])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: sort-merge join with zero shuffle exchanges
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_ivf_recall_vs_exact(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=5).collect()}
    approx_df = ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4)
    approx = {(r.query_id, r.neighbor_id) for r in approx_df.collect()}
    assert len(exact) == 50
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # structural: ranks contiguous from 1 per query
    ranks = {}
    for r in approx_df.collect():
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_ivf_assignment_margins_dominate_float_noise(spark):
    """Backs the exact value-hash oracle on ann_ivf_topk: for every point,
    the gap between its nearest and second-nearest centroid distance must be
    many orders of magnitude above float64 accumulation-order noise (~1e-13
    relative), so the assignment — and hence the whole IVF result — is
    engine-independent.  (Exact ties are fine: both engines break them on
    cid asc.)"""
    import numpy as np

    from dev_clickhouse_spark.llm.similarity import ivf_build

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    centroids, _ = ivf_build(emb, n_centroids=16)
    C = np.array(
        [r.cv for r in sorted(centroids, key=lambda r: r.cid)],
        dtype=np.float64,
    )
    E = np.array(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    d2 = ((E[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    ds = np.sort(d2, axis=1)
    gaps = ds[:, 1] - ds[:, 0]
    scale = np.maximum(ds[:, 0], 1.0)
    nonexact = gaps > 0  # exact ties take the cid tie-break in both engines
    assert (gaps[nonexact] / scale[nonexact]).min() > 1e-9

    # the query-side boundary the assignment margin does NOT cover: probes
    # keep the 4 nearest centroids, so the 4th-vs-5th distance gap for the
    # 20 query vectors must also dwarf float noise
    Q = E[:20] if len(E) >= 20 else E
    qd = np.sort(((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1)
    pgap = qd[:, 4] - qd[:, 3]
    pscale = np.maximum(qd[:, 3], 1.0)
    pne = pgap > 0
    assert (pgap[pne] / pscale[pne]).min() > 1e-9

    # and the ranking boundary: cosines are rounded to 4dp BEFORE ranking
    # (ties then break on neighbor_id in both engines), so the only
    # cross-engine risk is a raw cosine sitting within float noise of a
    # x.xxxx5 rounding edge — assert every query-candidate cosine is far
    # from one
    norms = np.linalg.norm(E, axis=1)
    cos = (Q @ E.T) / (np.linalg.norm(Q, axis=1)[:, None] * norms[None, :])
    frac = np.abs((cos * 10000 + 0.5) - np.round(cos * 10000 + 0.5))
    assert frac.min() > 1e-7  # ≫ 1e-12-ish accumulation noise at this scale


def test_ivf_full_probe_equals_exact(spark):
    # probing every list degrades IVF to exact search — recall must be 1.0
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=3).collect()}
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=3, n_centroids=8, n_probe=8).collect()
    }
    assert exact == full


def test_cosine_threshold_pairs_matches_bruteforce(spark):
    """The LSH-blocked threshold join must return EXACTLY the brute-force
    pair set (values included) on the driver testdata — this is what lets the
    registered query keep its exact SQL oracle while dropping the O(n^2)
    broadcast nested-loop plan."""
    from dev_clickhouse_spark.queries.extended import (
        cosine_pairs_bruteforce,
        dedup_embedding_cosine_pairs,
    )

    sf = "/root/testdata/sf0.001"
    blocked = dedup_embedding_cosine_pairs(spark, sf)
    brute = cosine_pairs_bruteforce(spark, sf)
    got = {(r.vec_a, r.vec_b, r.cosine) for r in blocked.collect()}
    want = {(r.vec_a, r.vec_b, r.cosine) for r in brute.collect()}
    assert got == want and len(want) > 0


def test_cosine_threshold_pairs_plan_has_no_nested_loop(spark):
    from dev_clickhouse_spark.queries.extended import dedup_embedding_cosine_pairs

    df = dedup_embedding_cosine_pairs(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_lsh_recall_query_consistent(spark):
    """ann_lsh_recall_at_5 must agree with an independent recomputation from
    the exact and LSH top-5 sets, and report a usable aggregate recall."""
    from dev_clickhouse_spark.llm.similarity import (
        ann_lsh_bucket_topk,
        ann_cosine_topk,
        ann_lsh_recall_at_5,
    )

    sf = "/root/testdata/sf0.001"
    exact = {(r.query_id, r.neighbor_id) for r in ann_cosine_topk(spark, sf).collect()}
    ann = {(r.query_id, r.neighbor_id) for r in ann_lsh_bucket_topk(spark, sf).collect()}
    rows = ann_lsh_recall_at_5(spark, sf).collect()
    assert len(rows) == 20
    for r in rows:
        want = len({p for p in exact if p[0] == r.query_id}
                   & {p for p in ann if p[0] == r.query_id})
        assert r.n_hits == want and r.recall == want / 5.0
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert 0.0 < mean_recall <= 1.0


def test_sharded_pairs_within_exact_and_cross_recall(spark):
    """The sharded production path (VERDICT r6 #4): within-shard pairs are
    found EXACTLY (same algorithm restricted to the shard — the contract
    the oracle gates), cross-shard recall via IVF probes stays high at the
    corpus's 0.4 operating point, and no pair is invented (every emitted
    pair must exist in the exact result with the identical cosine)."""
    from dev_clickhouse_spark.llm.similarity import (
        cosine_threshold_pairs,
        cosine_threshold_pairs_sharded,
        shard_of,
    )

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    exact_rows = cosine_threshold_pairs(emb, 0.4, dim).withColumn(
        "same_shard", shard_of(F.col("vec_a"), 4) == shard_of(F.col("vec_b"), 4)
    ).collect()
    exact = {(r.vec_a, r.vec_b): (r.cosine, r.same_shard) for r in exact_rows}
    shd = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_threshold_pairs_sharded(
            emb, 0.4, dim, shards=4
        ).collect()
    }
    # soundness: nothing invented, cosines identical
    assert set(shd) <= set(exact)
    for k, c in shd.items():
        assert abs(c - exact[k][0]) < 1e-9
    # completeness: ALL within-shard pairs; >= 90% overall
    within = {k for k, v in exact.items() if v[1]}
    assert within <= set(shd)
    assert len(shd) / len(exact) >= 0.9, (len(shd), len(exact))


def test_pq_adc_rerank_recall_and_code_size(spark):
    """PQ/ADC ANN (VERDICT r6 #8): codes are 8 small ints per vector (the
    30-60x memory shrink), ADC-only recall is the documented weak floor on
    these near-uniform synthetic vectors, and the production ADC->exact-
    rerank recipe recovers recall@5 >= 0.6 while touching only a
    50-candidate pool of raw vectors per query."""
    from dev_clickhouse_spark.llm.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_build,
    )

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)

    books, codes = pq_build(emb)
    n = emb.count()
    # every vector encodes to exactly m=8 (subspace, code) entries with
    # codes in [1, 16] — 8 half-byte indices per vector
    assert codes.count() == 8 * n
    rng = codes.agg(F.min("code"), F.max("code")).first()
    assert rng[0] >= 1 and rng[1] <= 16
    assert books.count() == 8 * 16

    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    adc_only = {(r.query_id, r.neighbor_id)
                for r in pq_adc_topk(emb, q, k=5).collect()}
    rerank = {(r.query_id, r.neighbor_id)
              for r in pq_adc_topk(emb, q, k=5, rerank_pool=50).collect()}
    r_adc = len(exact & adc_only) / len(exact)
    r_rr = len(exact & rerank) / len(exact)
    assert r_rr >= 0.6, (r_adc, r_rr)
    assert r_rr > r_adc  # the re-rank must actually help


def test_coarse_assignment_matches_flat_on_separated_clusters(monkeypatch):
    """Two-level coarse branch of the kernel (_coarse_index, top_p past
    COARSE_MIN_K): on well-separated clusters the two-level search must
    EQUAL the flat n x k scan (cells are decisive), and on any data the
    machinery must be deterministic, emit exactly p disjoint slots per
    row, and cover every centroid exactly once across the children
    lists."""
    import numpy as np

    from dev_clickhouse_spark.llm import centroids
    from dev_clickhouse_spark.llm.centroids import _coarse_index, top_p

    rng = np.random.RandomState(11)
    # 100 well-separated cluster centers, centroids jittered around them
    centers = rng.randn(100, 16) * 50.0
    C = np.repeat(centers, 4, axis=0) + rng.randn(400, 16)
    E = np.repeat(centers, 10, axis=0) + rng.randn(1000, 16)
    assert _coarse_index(C, 4) is None  # 400 < COARSE_MIN_K: flat search
    # COARSE_MIN_K=64 forces the two-level branch on this small fixture
    # (the production floor 1024 is the measured flat-GEMM crossover, far
    # above any unit-test size)
    monkeypatch.setattr(centroids, "COARSE_MIN_K", 64)
    coarse = _coarse_index(C, 4)
    Cc, children, wc = coarse
    covered = sorted(i for ch in children for i in ch)
    assert covered == list(range(400))  # disjoint, complete
    flat = top_p(E, C, 4)[0]
    two = top_p(E, C, 4, coarse)[0]
    agree = (flat == two).all(axis=1).mean()
    assert agree >= 0.99, agree
    # p slots per row, no duplicates
    assert two.shape == (1000, 4)
    assert all(len(set(row)) == 4 for row in two)
    # determinism
    two2 = top_p(E, C, 4, _coarse_index(C, 4))[0]
    assert (two == two2).all()


def test_sharded_pairs_recall_with_coarse_assignment(spark, monkeypatch):
    """End-to-end pair recall of the sharded path with the two-level
    assignment forced on (COARSE_MIN_K patched below this fixture's 100
    centroids — the production floor 1024 is the measured flat-GEMM
    crossover): same contract as the flat-path test above — within-shard
    exact, no invented pairs — with a 0.85 overall recall floor: this
    config (100 centroids over 200 unstructured vectors, cells of ~2) is
    the coarse search's worst case and measures 0.898 (53/59; every miss
    cross-shard); the flat path's own test keeps the 0.9 floor."""
    from dev_clickhouse_spark.llm import centroids
    from dev_clickhouse_spark.llm.similarity import (
        cosine_threshold_pairs,
        cosine_threshold_pairs_sharded,
        shard_of,
    )

    monkeypatch.setattr(centroids, "COARSE_MIN_K", 64)
    # the index is built on the driver, where the patch applies; record
    # that the probe pass really searched a two-level index
    built = []
    coarse_index = centroids._coarse_index

    def spy(C, n_probe, **kw):
        out = coarse_index(C, n_probe, **kw)
        built.append((len(C), out is not None))
        return out

    monkeypatch.setattr(centroids, "_coarse_index", spy)

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    exact_rows = cosine_threshold_pairs(emb, 0.4, dim).withColumn(
        "same_shard", shard_of(F.col("vec_a"), 4) == shard_of(F.col("vec_b"), 4)
    ).collect()
    exact = {(r.vec_a, r.vec_b): (r.cosine, r.same_shard) for r in exact_rows}
    shd = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_threshold_pairs_sharded(
            emb, 0.4, dim, shards=4, n_centroids=100
        ).collect()
    }
    assert set(shd) <= set(exact)
    for key, c in shd.items():
        assert abs(c - exact[key][0]) < 1e-9
    within = {k for k, v in exact.items() if v[1]}
    assert within <= set(shd)
    assert len(shd) / len(exact) >= 0.85, (len(shd), len(exact))
    assert built and all(two_level for _, two_level in built), built


def test_ivf_topk_on_empty_corpus_returns_typed_empty(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(0)
    out = ivf_topk(emb, emb, k=5, n_centroids=16, n_probe=4)
    assert out.collect() == []
    assert out.columns == ["query_id", "neighbor_id", "rank", "cosine"]


def test_kernel_queries_invariant_to_batch_and_partition_counts(spark):
    """k-means, IVF and PQ answers must not depend on how rows are cut
    into Arrow batches or shuffle partitions: identical sorted rows under
    the defaults and under 7-row batches with 37 shuffle partitions.  The
    three queries of one setting run concurrently (as the runner's thread
    pools run registry queries)."""
    from concurrent.futures import ThreadPoolExecutor

    from dev_clickhouse_spark.queries import REGISTRY

    names = [
        "semantic_cluster_kmeans", "ann_ivf_topk", "ann_pq_recall_contract",
    ]
    sf = "/root/testdata/sf0.001"

    def rows(name):
        return sorted(map(tuple, REGISTRY[name].fn(spark, sf).collect()))

    def run():
        with ThreadPoolExecutor(len(names)) as pool:
            return dict(zip(names, pool.map(rows, names)))

    keys = [
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.shuffle.partitions",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    base = run()
    try:
        spark.conf.set(keys[0], "7")
        spark.conf.set(keys[1], "37")
        cut = run()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert cut == base
