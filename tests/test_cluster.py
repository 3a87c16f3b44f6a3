"""Semantic k-means clustering (llm/cluster.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dev_clickhouse_spark.llm import centroids
from dev_clickhouse_spark.llm.centroids import nearest, top_p
from dev_clickhouse_spark.llm.cluster import (
    _quantize,
    kmeans_rounds,
)


def _toy(spark):
    # two tight groups on opposite corners of the plane; the seed rule
    # takes the k lowest vec_ids, so ids 1 and 2 sit in DIFFERENT groups
    rows = [
        (1, [1.0, 1.0]), (3, [1.1, 0.9]), (5, [0.9, 1.1]),
        (2, [-1.0, -1.0]), (4, [-1.1, -0.9]), (6, [-0.9, -1.1]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select("vec_id", _quantize(F.col("embedding")).alias("q"))


def test_kmeans_separates_obvious_clusters(spark):
    asg = kmeans_rounds(spark, _toy(spark), k=2, n_rounds=2).collect()
    by_cl = {}
    for r in asg:
        by_cl.setdefault(r["cl"], set()).add(r["vec_id"])
    assert sorted(map(sorted, by_cl.values())) == [[1, 3, 5], [2, 4, 6]]


def test_kmeans_is_deterministic(spark):
    df = _toy(spark)
    a = sorted(map(tuple, kmeans_rounds(spark, df, 2, 2).collect()))
    b = sorted(map(tuple, kmeans_rounds(spark, df, 2, 2).collect()))
    assert a == b


def test_assignment_is_map_only(spark):
    df = _toy(spark)
    cents = [(0, [1000000, 1000000]), (1, [-1000000, -1000000])]
    plan = nearest(df, "q", cents)._jdf.queryExecution().executedPlan()
    plan = plan.toString()
    # assignment is one numpy pass per partition — the k×d centroid rows
    # ship in the task closure; the corpus is never shuffled and no
    # join/exchange appears in the plan at all
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_argmin_tie_breaks_on_lower_cluster_id(spark):
    df = spark.createDataFrame(
        [(5, [0, 0])], "vec_id long, q array<long>"
    )
    cents = [(1, [3, 4]), (0, [4, 3]), (2, [5, 0])]
    # clusters 0 and 1 are equidistant (25); 2 is equal too (25)
    got = nearest(df, "q", cents).collect()[0]
    assert got["label"] == 0 and got["dist"] == 25


def _fold_top_p(E, C, p):
    """Reference: every (row, centroid) distance as the sequential left
    fold acc += (x_j - c_j)^2, ranked by (distance, index)."""
    acc = np.zeros((len(E), len(C)), dtype=np.result_type(E, C))
    for j in range(C.shape[1]):
        t = E[:, j, None] - C[None, :, j]
        acc += t * t
    idx = np.argsort(acc, axis=1, kind="stable")[:, :p]
    return idx, np.take_along_axis(acc, idx, axis=1)


def _kernel_cases():
    rng = np.random.default_rng(5)
    for trial in range(40):
        n, k, d = (int(v) for v in rng.integers(1, [200, 40, 70]))
        E, C = rng.standard_normal((n, d)), rng.standard_normal((k, d))
        kind = trial % 5
        if kind == 1:  # ulp-near duplicate centroids
            C = np.repeat(C[: max(1, k // 2)], 2, axis=0)[:k]
            C[1::2] = np.nextafter(C[1::2], np.inf)
        elif kind == 2:  # vectors on the midpoint of two centroids
            E = (C[rng.integers(0, k, n)] + C[rng.integers(0, k, n)]) / 2
        elif kind == 3:  # large offset: |x|^2 dwarfs the distances
            E, C = E + 1e6, C + 1e6
        elif kind == 4:  # quantized int64 vectors with exact ties
            E = np.floor(E * 1e6 + 0.5).astype(np.int64)
            C = np.floor(C * 1e6 + 0.5).astype(np.int64)
            C[1::2] = C[::2][: len(C[1::2])]
        yield E, C


def test_top_p_is_bit_identical_to_sequential_fold():
    for E, C in _kernel_cases():
        for p in (1, 4):
            idx, dist = top_p(E, C, p)
            ref_idx, ref_dist = _fold_top_p(E, C, min(p, len(C)))
            assert np.array_equal(idx, ref_idx)
            assert dist.dtype == ref_dist.dtype
            assert np.array_equal(dist, ref_dist)


def test_top_p_rejects_overflowing_and_non_finite_input():
    big = np.full((1, 4), 1 << 30, dtype=np.int64)
    with pytest.raises(ValueError, match="too large for exact int64"):
        top_p(big, -big, 1)
    # a NaN row has no candidate; it must raise, not shift later rows
    E = np.array([[np.nan, 0.0], [1.0, 1.0]])
    with pytest.raises(ValueError, match="finite"):
        top_p(E, np.eye(2), 1)


def test_nearest_without_centroids_is_typed_empty(spark):
    df = _toy(spark)
    out = nearest(df, "q", [])
    assert out.collect() == []
    assert out.dtypes == [
        ("vec_id", "bigint"), ("q", "array<bigint>"),
        ("label", "int"), ("dist", "bigint"),
    ]
    idx, dist = top_p(np.zeros((3, 2)), np.zeros((0, 2)), 4)
    assert idx.shape == dist.shape == (3, 0)


def test_top_p_coarse_branch(monkeypatch):
    """Past COARSE_MIN_K the kernel searches the two-level index: its
    distances are still exact folds, and on well-separated clusters its
    answer equals the flat scan."""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((30, 8)) * 50.0
    C = np.repeat(centers, 3, axis=0) + rng.standard_normal((90, 8))
    E = np.repeat(centers, 5, axis=0) + rng.standard_normal((150, 8))
    flat_idx, flat_dist = top_p(E, C, 4)
    monkeypatch.setattr(centroids, "COARSE_MIN_K", 64)
    coarse = centroids._coarse_index(C, 4)
    assert coarse is not None
    idx, dist = top_p(E, C, 4, coarse)
    assert np.array_equal(idx, flat_idx)
    assert np.array_equal(dist, flat_dist)
    # probing every cell, the two-level search is the fold over all of C
    monkeypatch.setattr(centroids, "COARSE_MIN_K", 1)
    for E, C in _kernel_cases():
        for p in (1, 4):
            coarse = centroids._coarse_index(C, p, cell_frac=1)
            idx, dist = top_p(E, C, p, coarse)
            ref_idx, ref_dist = _fold_top_p(E, C, min(p, len(C)))
            assert np.array_equal(idx, ref_idx)
            assert np.array_equal(dist, ref_dist)


def test_cluster_dups_blocked_gemm_matches_single_block(monkeypatch):
    """r14 (VERDICT r13 #5): the row-blocked pair GEMM must produce the
    exact same (n_dup_pairs, n_removed) as one full-matrix pass — forced
    multi-block via a tiny per-block byte budget."""
    import numpy as np
    import pandas as pd

    from dev_clickhouse_spark.llm import cluster as cl_mod

    rng = np.random.default_rng(7)
    n, d = 37, 8
    base = rng.integers(-1000, 1000, size=(n, d))
    # plant near-duplicates: several rows are tiny perturbations of others
    for src, dst in [(0, 5), (1, 9), (2, 20), (3, 33), (0, 12)]:
        base[dst] = base[src]
        base[dst, 0] += 1
    pdf = pd.DataFrame({
        "cl": [4] * n,
        "vec_id": rng.permutation(n * 10)[:n].astype("int64"),
        "q": [row.astype("int64") for row in base],
    })

    full = cl_mod._cluster_dups(pdf.copy())  # default budget: single block
    monkeypatch.setattr(cl_mod, "_GEMM_BLOCK_BYTES", 8 * n * 3)  # 3-row blocks
    blocked = cl_mod._cluster_dups(pdf.copy())
    assert full.values.tolist() == blocked.values.tolist()
    assert int(full["n_dup_pairs"].iloc[0]) >= 4  # the planted dups scored


def test_kmeans_on_empty_corpus_returns_typed_empty(spark):
    empty = _toy(spark).limit(0)
    out = kmeans_rounds(spark, empty, k=2, n_rounds=2, keep_vec=True)
    assert out.collect() == []
    assert out.columns == ["vec_id", "cl", "d", "q"]
