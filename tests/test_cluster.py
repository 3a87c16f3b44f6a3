"""Semantic k-means clustering (llm/cluster.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dev_clickhouse_spark.llm.cluster import (
    _assign,
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
    cent = spark.createDataFrame(
        [(0, [1000000, 1000000]), (1, [-1000000, -1000000])],
        "cl int, cq array<long>",
    )
    plan = _assign(df, cent)._jdf.queryExecution().executedPlan().toString()
    # r14: assignment is one numpy pass per partition — the k×d centroid
    # table ships in the task closure; the corpus is never shuffled and
    # no join/exchange appears in the plan at all
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_argmin_tie_breaks_on_lower_cluster_id(spark):
    df = spark.createDataFrame(
        [(5, [0, 0])], "vec_id long, q array<long>"
    )
    cent = spark.createDataFrame(
        [(1, [3, 4]), (0, [4, 3]), (2, [5, 0])], "cl int, cq array<long>"
    )  # clusters 0 and 1 are equidistant (25); 2 is equal too (25)
    got = _assign(df, cent).collect()[0]
    assert got["cl"] == 0 and got["d"] == 25


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
