"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk`` — exact brute-force top-k: broadcast the query set, score
  every candidate with JVM-side ``zip_with``/``aggregate`` (no Python), rank
  per query.  O(|Q|·N) — the correctness baseline and still the right answer
  when |Q| is small.
- ``lsh_bucket_topk`` — the scale path: deterministic random-hyperplane
  signatures bucket the corpus; each query searches only its bucket.
  Sub-linear candidates at the cost of recall (report it, don't hide it).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ch_compat import round_half_up as rnd
from ..io import load_table
from ..queries.registry import register
from ..session import spread
from .centroids import _coarse_index, nearest, top_p

N_PLANES = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.  Scores are rounded
    to 4dp BEFORE ranking (with id tie-break) so ranking is reproducible
    across engines/precision modes.

    r13: norms are computed ONCE per vector map-side before the join (the
    old shape re-evaluated both norms inside the per-pair projection —
    |Q|·N interpreted norm folds instead of |Q|+N), and the corpus side is
    spread across cores.  Same double arithmetic in the same order, so the
    rounded scores are bit-identical."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).select("query_id", "qv", _norm(F.col("qv")).alias("qn"))
    c = spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )).select("neighbor_id", "cv", _norm(F.col("cv")).alias("cn"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            rnd(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")), 4
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def _plane_weights(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — reproducible across
    runs/engines with no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_signature(vec_col, dim: int, n_planes: int = N_PLANES):
    """Sign-bit signature string, e.g. '10110010' — one char per hyperplane."""
    planes = _plane_weights(dim, n_planes)
    bits = [
        F.when(
            _dot(vec_col, F.array(*[F.lit(w) for w in planes[p]])) >= 0, "1"
        ).otherwise("0")
        for p in range(n_planes)
    ]
    return F.concat(*bits)


def lsh_bucket_topk(
    corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ANN: score only candidates sharing the query's hyperplane bucket.
    At 100 TB the bucketed self-join replaces the full cross product; recall
    is tunable via n_planes (fewer planes → bigger buckets → higher recall)."""
    # r13: spread + per-vector norms, same rationale as cosine_topk
    c = spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )).select(
        "neighbor_id", "cv",
        _norm(F.col("cv")).alias("cn"),
        lsh_signature(F.col("cv"), dim).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).select(
        "query_id", "qv",
        _norm(F.col("qv")).alias("qn"),
        lsh_signature(F.col("qv"), dim).alias("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            rnd(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")), 4
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def cosine_threshold_pairs(
    emb: DataFrame, threshold: float, dim: int,
    chunk: int = 4096,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold, exactly, via BLOCK-MATRIX scoring —
    the scale shape for moderate-threshold embedding near-dup detection.

    Why not banded LSH: the round-6 ×10 scale rehearsal caught the previous
    banded hyperplane-LSH implementation grinding to a halt.  At t=0.4 a
    random pair collides in a 3-bit band with probability 0.5^3, so across
    40 bands the DISTINCT-candidate probability is 1-(1-0.125)^40 ≈ 0.995 —
    the banding admitted essentially every pair while evaluating an
    interpreted per-pair JVM dot product 40× over.  Hyperplane LSH only
    prunes at HIGH thresholds (p=1-acos(t)/π → bits can grow); at 0.4 the
    honest exact plan is a blocked n² GEMM with vectorized constants.

    Shape: ids hash into B = ⌈n/chunk⌉ blocks; each unordered block pair
    (i ≤ j) becomes ONE row carrying both blocks' vectors (explode the
    pair index, ONE equi-join shuffle on (i, j) — no nested-loop join over
    rows); a numpy matmul scores all chunk² pairs of that row at once in
    mapInPandas and emits only qualifying pairs.  Shuffle volume is
    n·dim·(B+1) values (each block replicated once per partner), compute is
    the unavoidable n²·dim/2 multiplies at BLAS speed instead of ~40n²
    interpreted array-fold evaluations.  At corpus scale, exact all-pairs
    is only run inside bounded shards (dedup within a source/day); the
    cross-shard approximate path is IVF/ANN (ivf_topk below).

    PLANNING JOB: when ``n_rows`` is not supplied, sizing the block grid
    runs ``emb.count()`` EAGERLY at build time (one extra evaluation of
    emb's lineage — a metadata-only footer count for a plain parquet scan).
    This is the same planning-step shape as IVF training; callers that
    already know the cardinality (or a good upper bound) should pass
    ``n_rows`` to keep the builder fully lazy (ADVICE r6)."""
    n = emb.count() if n_rows is None else n_rows
    n_blocks = max(1, -(-n // chunk))
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn("ch", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)))
    blocks = base.groupBy("ch").agg(
        F.collect_list(F.struct("id", "e")).alias("vs")
    )
    left = blocks.select(
        F.col("ch").alias("i"),
        F.explode(F.sequence(F.col("ch"), F.lit(n_blocks - 1))).alias("j"),
        F.col("vs").alias("vs_l"),
    )
    right = blocks.select(
        F.explode(F.sequence(F.lit(0), F.col("ch"))).alias("i"),
        F.col("ch").alias("j"),
        F.col("vs").alias("vs_r"),
    )
    paired = left.join(right, ["i", "j"]).repartition(
        max(n_blocks * (n_blocks + 1) // 2, 1)
    )
    return paired.mapInPandas(
        _grid_scorer(threshold), "vec_a long, vec_b long, cosine double"
    )


def _grid_scorer(threshold: float):
    """mapInPandas kernel shared by the exact and sharded pair paths: one
    numpy GEMM per (vs_l, vs_r) block-pair row, emitting only pairs with
    cosine ≥ threshold as canonical (min_id, max_id) with 4-digit
    rounding.  Diagonal blocks (i == j) keep the upper triangle only."""

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_l = np.array([v["id"] for v in row.vs_l], dtype=np.int64)
                ids_r = np.array([v["id"] for v in row.vs_r], dtype=np.int64)
                A = np.array([v["e"] for v in row.vs_l], dtype=np.float64)
                Bm = np.array([v["e"] for v in row.vs_r], dtype=np.float64)
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
                S = A @ Bm.T
                ii, jj = np.nonzero(S >= threshold)
                ia, ib = ids_l[ii], ids_r[jj]
                keep = ia != ib  # same block scores itself: drop diagonal
                va = np.minimum(ia[keep], ib[keep])
                vb = np.maximum(ia[keep], ib[keep])
                cs = S[ii[keep], jj[keep]]
                if row.i == row.j:  # diagonal block: each pair appears twice
                    tri = ia[keep] < ib[keep]
                    va, vb, cs = va[tri], vb[tri], cs[tri]
                out_a.append(va)
                out_b.append(vb)
                out_c.append(np.floor(cs * 10000 + 0.5) / 10000)
            if out_a:
                yield pd.DataFrame({
                    "vec_a": np.concatenate(out_a),
                    "vec_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_c),
                })

    return score


def shard_of(key, shards: int):
    """Deterministic md5 shard in [0, shards) — the same first-8-hex-chars
    construction as ``sampling.hash_bucket`` so a DuckDB oracle can replay
    shard assignment exactly (xxhash64 has no DuckDB twin)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
    return (h.cast("long") % shards).cast("int")


def _gemm_ivf_probes(base: DataFrame, n_centroids: int, n_probe: int,
                     dim: int) -> DataFrame:
    """IVF centroid build + probe assignment as two map-only passes of the
    nearest-centroid kernel (``centroids.top_p``).

    The same ALGORITHM as ``ivf_build``: seeds = the lowest-id vectors,
    ONE Lloyd refinement, memberless seeds dropped exactly as
    ``ivf_build``'s groupBy drops them, then a probe pass ranking centroids
    per vector by (distance, cid).  Only the mean refinement differs: each
    partition emits per-centroid partial sums (≤ k rows per partition,
    elementwise-summed JVM-side) instead of ``ivf_build``'s per-dimension
    ``avg``, because the sharded pair query sizes k ~ n·n_probe/1024 and
    the (cid, pos) explode would be n·dim rows.  Partial sums round in a
    partition-dependent order, so the refined centroids — and, under
    near-ties, the probe sets — are not bit-replayable; every consumer of
    this path is recall-gated, never parity-gated.  Past
    ``COARSE_MIN_K`` centroids both passes take the kernel's two-level
    search (the flat n×k filter is this path's only superlinear term),
    each over a coarse index built once here on the driver.
    The centroid matrix rides in the task closure (k × dim doubles —
    ~3.6 MB at k=7031, dim=64); collecting it is the index-build planning
    job, same note as ivf_build's materialization.  Returns
    (id, e, sh, cid) probe rows, ≤ n_probe per id."""
    seed_rows = base.orderBy("id").limit(n_centroids).select("e").collect()
    C0 = np.array([r.e for r in seed_rows], dtype=np.float64)
    k = C0.shape[0]
    # the build pass only needs argmin-quality assignment for the mean
    # refinement, so past COARSE_MIN_K it probes the sizing floor of
    # cells, not the third the probe pass below takes
    coarse0 = _coarse_index(C0, 1, cell_frac=0)

    def partial_sums(batches):
        sums = np.zeros_like(C0)
        counts = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            E = np.array(pdf["e"].tolist(), dtype=np.float64)
            a = top_p(E, C0, 1, coarse0)[0][:, 0]  # ties → lowest cid
            np.add.at(sums, a, E)
            np.add.at(counts, a, 1)
        if seen:
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame({
                "cid": nz.astype("int64"),
                "cnt": counts[nz],
                "s": list(sums[nz]),
            })

    partials = base.select("e").mapInPandas(
        partial_sums, "cid long, cnt long, s array<double>"
    )
    mean_rows = partials.groupBy("cid").agg(
        F.sum("cnt").alias("cnt"),
        *[F.sum(F.col("s")[i]).alias(f"s{i}") for i in range(dim)],
    ).collect()
    # ivf_build's mean recompute is a groupBy over the first assignment, so
    # a seed that attracts no members simply DISAPPEARS from the refined
    # centroid set (ADVICE r7).  Mirror that: only member-bearing cids,
    # with their original 1-based labels.
    cents = [
        (r.cid + 1, [r[f"s{i}"] / r.cnt for i in range(dim)])
        for r in mean_rows
    ]
    return nearest(base, "e", cents, p=n_probe).select(
        "id", "e", "sh", F.col("label").alias("cid")
    )


def cosine_threshold_pairs_sharded(
    emb: DataFrame, threshold: float, dim: int,
    shards: int = 4, chunk: int = 4096,
    n_centroids: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """PRODUCTION recipe for embedding near-dup pairs at corpus scale:
    **exact within bounded shards + IVF across shards** — the path
    SCALING.md prescribes for quadratic operating points of
    ``cosine_threshold_pairs`` (VERDICT r6 item #4).

    Two branches, one union:

    1. **Within-shard EXACT.**  Vectors hash into ``shards`` disjoint md5
       shards; the block-GEMM grid of ``cosine_threshold_pairs`` runs with
       the shard as a join-key prefix, so only same-shard block pairs are
       generated: compute drops from n²/2 to n²/(2·shards) and every
       same-shard pair is found exactly — at 100 TB a shard is a
       source/day/tenant partition and this branch is the dedup-within-
       partition guarantee.

    2. **Cross-shard via IVF probes.**  One shared IVF index
       (deterministic ``ivf_build``); every vector joins its ``n_probe``
       nearest centroids; each centroid's probe list is scored by ONE
       GEMM (lists are ~n·n_probe/n_centroids — size ``n_centroids``
       ~ n/1024 in production to bound list memory); only pairs from
       DIFFERENT shards are emitted (same-shard ones are branch 1's,
       exactly).  A cross-shard near-dup is missed only if the two
       vectors share none of their ``n_probe`` nearest centroids — rare
       at near-dup cosine levels; ``dedup_cosine_sharded_recall``
       measures exactly this.

    Output: (vec_a, vec_b, cosine) canonical pairs, deduped with max()
    over the (identical) branch cosines."""
    n = emb.count() if n_rows is None else n_rows
    per_shard = max(1, -(-n // shards))
    n_blocks = max(1, -(-per_shard // chunk))
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn("sh", shard_of(F.col("id"), shards))

    # branch 1: same-shard exact block grid, keyed (sh, i, j)
    blocked = base.withColumn(
        "ch", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks))
    )
    blocks = blocked.groupBy("sh", "ch").agg(
        F.collect_list(F.struct("id", "e")).alias("vs")
    )
    left = blocks.select(
        "sh", F.col("ch").alias("i"),
        F.explode(F.sequence(F.col("ch"), F.lit(n_blocks - 1))).alias("j"),
        F.col("vs").alias("vs_l"),
    )
    right = blocks.select(
        "sh", F.explode(F.sequence(F.lit(0), F.col("ch"))).alias("i"),
        F.col("ch").alias("j"),
        F.col("vs").alias("vs_r"),
    )
    within = (
        left.join(right, ["sh", "i", "j"])
        .repartition(max(shards * n_blocks * (n_blocks + 1) // 2, 1))
        .mapInPandas(
            _grid_scorer(threshold), "vec_a long, vec_b long, cosine double"
        )
    )

    # branch 2: cross-shard candidates from shared IVF probe lists, with
    # the centroid build + assignment as kernel passes (_gemm_ivf_probes)
    probes = _gemm_ivf_probes(base, n_centroids, n_probe, dim).select(
        "id", "sh", "e", "cid"
    )
    lists = probes.groupBy("cid").agg(
        F.collect_list(F.struct("id", "sh", "e")).alias("vs")
    )

    def score_list(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids = np.array([v["id"] for v in row.vs], dtype=np.int64)
                shs = np.array([v["sh"] for v in row.vs], dtype=np.int64)
                A = np.array([v["e"] for v in row.vs], dtype=np.float64)
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                S = A @ A.T
                ii, jj = np.nonzero(S >= threshold)
                keep = (ids[ii] < ids[jj]) & (shs[ii] != shs[jj])
                out_a.append(ids[ii][keep])
                out_b.append(ids[jj][keep])
                out_c.append(
                    np.floor(S[ii[keep], jj[keep]] * 10000 + 0.5) / 10000
                )
            if out_a:
                yield pd.DataFrame({
                    "vec_a": np.concatenate(out_a),
                    "vec_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_c),
                })

    across = lists.mapInPandas(
        score_list, "vec_a long, vec_b long, cosine double"
    )
    # a pair sharing both probes appears twice with the identical cosine
    return within.union(across).groupBy("vec_a", "vec_b").agg(
        F.max("cosine").alias("cosine")
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------

@register(
    "ann_cosine_topk",
    oracle="""
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_cosine_similarity(q.e, c.e) * 10000 + 0.5) / 10000 AS cosine
  FROM q, c WHERE c.vec_id != q.vec_id
),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rn
       FROM sims)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, cosine
FROM rk WHERE rn <= 5
""",
    tags=["llm-similarity"],
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 20 vectors — the brute-force
    baseline every ANN variant is measured against."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + per-list search
# ---------------------------------------------------------------------------

def ivf_build(
    corpus: DataFrame, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: deterministic seed centroids (lowest ids — no RNG),
    one Lloyd refinement (assign → per-dimension mean), inverted lists.

    Returns (centroid rows (cid, cv), assignments[id, cid]).  Both assignments
    are MAP-ONLY passes of the nearest-centroid kernel
    (``centroids.nearest``), whose distances are the exact sequential fold
    the DuckDB oracle sums, with the lower-cid tie-break (exact below
    ``centroids.COARSE_MIN_K`` centroids; past it the kernel's two-level
    search, which no oracle replays); the mean
    recompute stays a JVM posexplode → groupBy(cid, pos) avg →
    re-assemble, single-shuffle on (cid, pos).

    Both outputs are MATERIALIZED — the centroids collected to the
    driver, the assignments localCheckpointed: an IVF index is a persisted
    structure by nature — without this every search branch re-runs the
    whole build.  At 100 TB the production move is the same idea durable:
    write assignments to parquet once, search many times.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    seeds = [
        (i + 1, r["cv"])
        for i, r in enumerate(c.orderBy("id").limit(n_centroids).collect())
    ]
    first = nearest(c, "cv", seeds).select(
        "id", F.col("label").alias("cid"), "cv"
    )
    means = (
        first.select("cid", F.posexplode("cv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cv")
        )
        .collect()  # n_centroids rows: the index-build planning job
    )
    assignments = (
        nearest(c, "cv", means)
        .select("id", F.col("label").alias("cid"))
        .localCheckpoint(eager=True)  # probed by every query branch
    )
    return means, assignments


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, n_centroids: int = 16,
    n_probe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ANN search over the IVF lists: each query probes its ``n_probe``
    nearest centroids and scores only those lists — candidates shrink by
    ~n_probe/n_centroids versus brute force, recall rises with n_probe."""
    centroids, assign = ivf_build(corpus, n_centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probes = nearest(q, "qv", centroids, p=n_probe).select(
        "query_id", "qv", F.col("label").alias("cid")
    )

    # r13: per-vector norms hoisted out of the pair projection (same double
    # arithmetic — bit-identical rounded scores).  No spread here: the
    # assignment join already re-partitions the candidate side, and a
    # measured attempt at spreading the scan REGRESSED this query (extra
    # exchange ahead of a join that reshuffles anyway).
    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    ).select(
        "neighbor_id", "nv", _norm(F.col("nv")).alias("nn")
    ).join(assign.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    probes = probes.select(
        "query_id", "qv", "cid", _norm(F.col("qv")).alias("qn")
    )
    scored = (
        probes.join(cand, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            rnd(
                _dot(F.col("qv"), F.col("nv"))
                / (F.col("qn") * F.col("nn")), 4
            ).alias("cosine"),
        )
        .distinct()  # a neighbor may appear via several probed lists
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


#: squared L2 between two DOUBLE[] lists (DuckDB).  ``list_distance`` would
#: order identically (sqrt is monotonic) but this mirrors the Spark-side
#: ``(x-y)^2`` accumulation shape.
_D2 = ("list_sum(list_transform(list_zip({a}, {b}), "
       "z -> (z[1] - z[2]) * (z[1] - z[2])))")

_IVF_TOPK_ORACLE = f"""
WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS cv FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY id) AS cid, cv AS seed
  FROM (SELECT * FROM c ORDER BY id LIMIT 16)
),
fa AS (
  SELECT id, cid, cv FROM (
    SELECT c.id, s.cid, c.cv,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY {_D2.format(a='c.cv', b='s.seed')} ASC, s.cid ASC
           ) AS rn
    FROM c CROSS JOIN seeds s
  ) WHERE rn = 1
),
means AS (
  SELECT cid, list(m ORDER BY pos) AS mv FROM (
    SELECT cid, pos, avg(val) AS m FROM (
      SELECT cid, unnest(cv) AS val, generate_subscripts(cv, 1) AS pos FROM fa
    ) GROUP BY cid, pos
  ) GROUP BY cid
),
sa AS (
  SELECT id, cid FROM (
    SELECT c.id, m.cid,
           row_number() OVER (
             PARTITION BY c.id
             ORDER BY {_D2.format(a='c.cv', b='m.mv')} ASC, m.cid ASC
           ) AS rn
    FROM c CROSS JOIN means m
  ) WHERE rn = 1
),
q AS (SELECT id AS query_id, cv AS qv FROM c WHERE id < 20),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, m.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_D2.format(a='q.qv', b='m.mv')} ASC, m.cid ASC
           ) AS rn
    FROM q CROSS JOIN means m
  ) WHERE rn <= 4
),
scored AS (
  SELECT DISTINCT p.query_id, c.id AS neighbor_id,
         floor(list_cosine_similarity(p.qv, c.cv) * 10000 + 0.5) / 10000
           AS cosine
  FROM probes p JOIN sa ON sa.cid = p.cid JOIN c ON c.id = sa.id
  WHERE c.id != p.query_id
),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rn
       FROM scored)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, cosine
FROM rk WHERE rn <= 5
"""


@register("ann_ivf_topk", oracle=_IVF_TOPK_ORACLE, tags=["llm-similarity"])
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-list ANN for the first 20 query vectors (scale path #2).
    Approximate w.r.t. the exact top-k but fully DETERMINISTIC end to end:
    lowest-id seeds, one Lloyd step, cid/neighbor-id tie-breaks, no RNG —
    so the whole build+probe+search is re-expressible in ANSI SQL and the
    query carries an exact value-hash oracle (centroid-assignment margins
    dwarf cross-engine float accumulation noise; asserted in
    tests/test_bucketing_ivf.py).  Recall vs the exact baseline is
    additionally asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


def _signature_sql(vec_expr: str = "e", dim: int = 64,
                   n_planes: int = N_PLANES) -> str:
    """DuckDB expression reproducing ``lsh_signature`` bit-for-bit: the
    md5-parity planes are deterministic literals, and the smallest |dot|
    across the testdata is ~7e-4 — nine orders of magnitude above float64
    accumulation-order noise — so the sign decisions (and hence buckets)
    are engine-independent.  That is what lets the LSH ANN queries carry
    exact value-hash oracles instead of rows-only checks."""
    planes = _plane_weights(dim, n_planes)
    return " || ".join(
        "(CASE WHEN list_dot_product(" + vec_expr + ", ["
        + ",".join(repr(w) for w in p)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )


#: the embedding dimensionality baked into the LSH oracles below — their
#: hyperplane literals are generated for exactly this many components.
_ORACLE_DIM = 64


def _require_oracle_dim(dim: int, query: str) -> None:
    """The DuckDB oracles carry ``_ORACLE_DIM``-sized plane literals; a corpus
    with any other dimensionality would be hashed against a DIFFERENT plane
    set and fail (or worse, pass) confusingly.  Fail loudly instead."""
    if dim != _ORACLE_DIM:
        raise ValueError(
            f"{query}: embeddings have dim={dim} but the registered DuckDB "
            f"oracle was generated for dim={_ORACLE_DIM}; regenerate "
            "_signature_sql's plane literals for the new dimensionality"
        )


_LSH_TOPK_ORACLE = f"""
WITH sig AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, {_signature_sql()} AS bucket
  FROM embeddings
),
q AS (SELECT * FROM sig WHERE vec_id < 20),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_cosine_similarity(q.e, c.e) * 10000 + 0.5) / 10000 AS cosine
  FROM q JOIN sig c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rn
       FROM sims)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, cosine
FROM rk WHERE rn <= 5
"""


@register("ann_lsh_bucket_topk", oracle=_LSH_TOPK_ORACLE, tags=["llm-similarity"])
def ann_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN for the same 20 queries (scale path).  Approximate
    w.r.t. the exact top-k but fully deterministic: fixed md5-parity planes
    make the buckets — and therefore the result — reproducible in ANSI SQL,
    so this carries an exact oracle (see ``_signature_sql``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    _require_oracle_dim(dim, "ann_lsh_bucket_topk")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 20), dim=dim, k=5)


_LSH_RECALL_ORACLE = f"""
WITH sig AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, {_signature_sql()} AS bucket
  FROM embeddings
),
q AS (SELECT * FROM sig WHERE vec_id < 20),
exact_sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_cosine_similarity(q.e, c.e) * 10000 + 0.5) / 10000 AS cosine
  FROM q JOIN sig c ON c.vec_id != q.vec_id
),
exact_rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id) AS rn
             FROM exact_sims),
exact5 AS (SELECT query_id, neighbor_id FROM exact_rk WHERE rn <= 5),
ann_sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_cosine_similarity(q.e, c.e) * 10000 + 0.5) / 10000 AS cosine
  FROM q JOIN sig c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
),
ann_rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rn
           FROM ann_sims),
ann5 AS (SELECT query_id, neighbor_id FROM ann_rk WHERE rn <= 5),
hits AS (
  SELECT e.query_id, count(*) AS n
  FROM exact5 e JOIN ann5 a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT q.vec_id AS query_id,
       CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,
       coalesce(h.n, 0) / 5.0 AS recall
FROM q LEFT JOIN hits h ON h.query_id = q.vec_id
"""


@register("ann_lsh_recall_at_5", oracle=_LSH_RECALL_ORACLE, tags=["llm-similarity"])
def ann_lsh_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH-bucketed ANN against the exact top-5, per query —
    the measured-not-guessed answer to 'how approximate is the scale path'.
    Deterministic end to end (fixed planes, id tie-breaks), hence exact
    SQL oracle; the aggregate recall is also asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    dim = len(emb.select("embedding").first()[0])
    _require_oracle_dim(dim, "ann_lsh_recall_at_5")
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    ann = lsh_bucket_topk(emb, q, dim=dim, k=5).select("query_id", "neighbor_id")
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce(F.col("n"), F.lit(0)) / F.lit(5.0)).alias("recall"),
        )
    )


_SHARDED_RECALL_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
              % 4 AS INTEGER) AS sh
  FROM embeddings
),
exact AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.sh = b.sh AS same_shard
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST(count(*) FILTER (WHERE same_shard) AS BIGINT) AS n_within_shard,
       100.0 AS within_recall_pct,
       CAST(1 AS INTEGER) AS contract_met
FROM exact
"""


@register(
    "dedup_cosine_sharded_recall",
    oracle=_SHARDED_RECALL_ORACLE,
    tags=["llm-similarity", "llm-dedup"],
)
def dedup_cosine_sharded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the sharded production near-dup path
    (``cosine_threshold_pairs_sharded``, VERDICT r6 item #4) vs the exact
    block-GEMM path at the corpus's 0.4 operating point (the test corpus
    has NO pairs at ≥ 0.6 — 0.4 is where its near-dups live).

    Contract shape (same pattern as the HLL / quantile error-contract
    oracles): the DuckDB oracle computes the exact pair census — total
    pairs and how many fall within an md5 shard — and asserts the one
    property the sharded design GUARANTEES deterministically: every
    within-shard exact pair is found (within_recall_pct = 100, the
    within-shard branch IS the exact algorithm restricted to the shard).
    Cross-shard recall is approximate by design (IVF probe overlap) and is
    measured, not gated, in tests/test_bucketing_ivf.py and the scale
    rehearsal."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    exact = cosine_threshold_pairs(emb, 0.4, dim)
    shd = cosine_threshold_pairs_sharded(emb, 0.4, dim, shards=4)
    classified = exact.withColumn(
        "same_shard",
        shard_of(F.col("vec_a"), 4) == shard_of(F.col("vec_b"), 4),
    ).join(
        shd.select("vec_a", "vec_b", F.lit(1).alias("found")),
        ["vec_a", "vec_b"], "left",
    )
    agg = classified.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.sum(F.col("same_shard").cast("long")).alias("n_within_shard"),
        F.sum((F.col("same_shard") & F.col("found").isNotNull()).cast("long"))
        .alias("n_within_found"),
    )
    return agg.select(
        "n_exact_pairs",
        "n_within_shard",
        (F.col("n_within_found") * 100.0 / F.col("n_within_shard"))
        .alias("within_recall_pct"),
        F.when(F.col("n_within_found") == F.col("n_within_shard"), 1)
        .otherwise(0).cast("int").alias("contract_met"),
    )


def sharded_pair_params(
    n: int, target_shard: int = 5_000, target_list: int = 1_024,
    n_probe: int = 4,
) -> tuple[int, int]:
    """Size the sharded near-dup path so TOTAL work grows LINEARLY with the
    corpus: shards scale with n (each shard bounded at ~target_shard
    vectors → within-shard exact work is n·target_shard/2  id-pairs, not
    n²/2) and IVF centroids scale with n (each probe list bounded at
    ~target_list vectors → cross-shard work is n·n_probe·target_list).
    In production the shard is a natural bounded partition (source/day/
    tenant); this helper is the synthetic stand-in that gives the scale
    rehearsal the same bounded-partition shape."""
    shards = max(4, -(-n // target_shard))
    n_centroids = max(16, (n * n_probe) // target_list)
    return shards, n_centroids


@register(
    "dedup_cosine_pairs_sharded",
    oracle=None,  # cross-shard IVF probe sets are not SQL-replicable; the
    # deterministic contract (within-shard exactness, soundness) is gated
    # by dedup_cosine_sharded_recall's oracle instead
    tags=["llm-similarity", "llm-dedup"],
)
def dedup_cosine_pairs_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded near-dup pair path ALONE, sized by ``sharded_pair_
    params`` — the entry the bench/scale-rehearsal times to prove the
    production recipe's wall-time stays sub-quadratic while the exact
    block-GEMM path (``dedup_embedding_cosine_pairs``) is honestly
    quadratic at the 0.4/dim-64 operating point.

    Sizing (n, dim) comes from parquet METADATA via pyarrow — footer row
    counts and one record-batch head — so building this query runs zero
    Spark jobs (the eager ``emb.count()``/``.first()`` the r7 advice
    flagged on the old builder)."""
    import os as _os

    import pyarrow.dataset as _ds

    dset = _ds.dataset(_os.path.join(sf_dir, "embeddings.parquet"))
    n = dset.count_rows()
    dim = len(dset.head(1)["embedding"][0].as_py())
    emb = load_table(spark, sf_dir, "embeddings")
    shards, n_centroids = sharded_pair_params(n)
    return cosine_threshold_pairs_sharded(
        emb, 0.4, dim, shards=shards, n_centroids=n_centroids, n_rows=n,
    )


@register(
    "dedup_cosine_sharded_soundness",
    oracle="""
SELECT CAST(0 AS BIGINT) AS n_below_threshold,
       CAST(0 AS BIGINT) AS n_noncanonical,
       CAST(0 AS BIGINT) AS n_cosine_mismatch,
       CAST(1 AS INTEGER) AS has_pairs
""",
    tags=["llm-similarity", "llm-dedup"],
)
def dedup_cosine_sharded_soundness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOUNDNESS contract for the sharded production near-dup path
    (VERDICT r7 #2): the pair SET of ``dedup_cosine_pairs_sharded`` is not
    SQL-replicable (cross-shard membership depends on IVF probe overlap),
    but every property of each EMITTED pair is deterministic and checkable
    against the raw parquet:

    - **threshold soundness** — re-deriving the cosine from the embeddings
      table (JVM zip_with/aggregate fold, independent of the numpy GEMM
      that emitted it) must give ≥ 0.4 − 1e-9 for every pair;
    - **canonical form** — vec_a < vec_b, so no pair can appear twice
      in either orientation;
    - **value fidelity** — the reported 4-digit cosine equals the
      re-derived one to within one rounding ulp (GEMM expands
      ‖x‖²−2x·y+‖y‖²; the fold sums sequentially — they may differ in the
      last float64 bits, never by 1e-4);
    - **non-vacuity** — the within-shard exact branch guarantees at least
      one pair on this corpus (the recall contract counts them), so an
      empty result cannot fake a pass.

    The complement (no TRUE within-shard pair is MISSED) is
    ``dedup_cosine_sharded_recall``; together they driver-gate both
    directions of the production path."""
    pairs = dedup_cosine_pairs_sharded(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e")
    )

    def _norm(c: str):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))

    j = (
        pairs
        .join(emb.select(F.col("vec_id").alias("vec_a"),
                         F.col("e").alias("ea")), "vec_a")
        .join(emb.select(F.col("vec_id").alias("vec_b"),
                         F.col("e").alias("eb")), "vec_b")
        .withColumn(
            "cos_check",
            F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y),
                        F.lit(0.0), lambda a, v: a + v)
            / (_norm("ea") * _norm("eb")),
        )
    )
    return j.agg(
        F.sum((F.col("cos_check") < 0.4 - 1e-9).cast("long"))
        .alias("n_below_threshold"),
        F.sum((F.col("vec_a") >= F.col("vec_b")).cast("long"))
        .alias("n_noncanonical"),
        F.sum(
            (F.abs(F.floor(F.col("cos_check") * 10000 + 0.5) / 10000
                   - F.col("cosine")) > 1e-4 + 1e-12).cast("long")
        ).alias("n_cosine_mismatch"),
        (F.count(F.lit(1)) > 0).cast("int").alias("has_pairs"),
    )


# ---------------------------------------------------------------------------
# Product quantization: the ANN MEMORY story at billion-vector scale
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_build(
    corpus: DataFrame, m: int = PQ_SUBSPACES, k: int = PQ_CODES,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train a product-quantization codebook and encode the corpus.

    The vector splits into ``m`` contiguous subspaces; each subspace gets a
    ``k``-codeword codebook (deterministic seeds = the k lowest ids'
    sub-vectors, one Lloyd refinement — the same no-RNG recipe as
    ``ivf_build``); a vector's code is its nearest codeword per subspace —
    exact below ``centroids.COARSE_MIN_K`` codewords, the kernel's
    two-level search past it.
    Memory is the point: dim-64 float32 = 256 B/vector; m=8, k=16 codes =
    8 half-byte indices = 4-8 B/vector, a 30-60× index shrink — what makes
    a billion-vector in-memory ANN index fit a cluster at all (IVF lists
    hold codes; only the final re-rank touches raw vectors, off-memory).

    Vectors are L2-NORMALIZED before splitting, so summing subspace dot
    products against a normalized query approximates the COSINE — the
    corpus's similarity metric.

    Returns (codebooks[s, code, cv], codes[id, s, code]), both
    materialized (an index is a persisted structure; at 100 TB both are
    parquet written once, searched many)."""
    unit = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn(
        "e",
        F.transform("e", lambda x: x / F.sqrt(
            F.aggregate("e", F.lit(0.0), lambda a, v: a + v * v)
        )),
    )
    sub = unit.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"),
                    F.slice(
                        "e", s * (F.size("e") / m).cast("int") + 1,
                        (F.size("e") / m).cast("int"),
                    ).alias("sv"),
                ),
            )
        ).alias("x"),
    ).select("id", "x.s", "x.sv")
    # every subspace's seeds are the sub-vectors of the same k lowest ids
    seeds = []
    for code, r in enumerate(unit.orderBy("id").limit(k).collect(), start=1):
        ds = len(r["e"]) // m
        seeds += [(s, code, r["e"][s * ds:(s + 1) * ds]) for s in range(m)]

    # both assignments are map-only kernel passes, each sub-vector ranked
    # against its own subspace's codebook
    first = nearest(sub, "sv", seeds, key_col="s").select(
        "id", "s", F.col("label").alias("code"), "sv"
    )
    books = (
        first.select("s", "code", F.posexplode("sv").alias("pos", "val"))
        .groupBy("s", "code", "pos")
        .agg(F.avg("val").alias("mv"))
        .groupBy("s", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda r: r.mv,
            ).alias("cv")
        )
        .localCheckpoint(eager=True)
    )
    codes = (
        nearest(sub, "sv", books.collect(), key_col="s")
        .select("id", "s", F.col("label").alias("code"))
        .localCheckpoint(eager=True)
    )
    return books, codes


def pq_adc_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    m: int = PQ_SUBSPACES, n_codes: int = PQ_CODES,
    rerank_pool: int = 0,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ codes: each
    query precomputes its dot product against all m·n_codes codewords (a
    tiny broadcast table); a candidate's approximate cosine is the SUM of
    the m table entries its code selects — the corpus's raw vectors are
    never touched at search time.  Scale shape: one broadcast join on
    (s, code), one groupBy(query, id) sum, one per-query top-k window —
    all JVM, no Python.

    With ``rerank_pool`` = N > k the PRODUCTION recipe runs: ADC selects
    the N best codes-only candidates, then ONLY those N·|Q| rows join back
    to raw vectors for an exact-cosine re-rank of the final top-k.  This
    is how PQ actually ships — the 30-60× compressed index does the
    pruning; the exact metric touches a constant-per-query sliver of raw
    data (N vectors instead of the corpus)."""
    books, codes = pq_build(corpus, m, n_codes, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn(
        "qv",
        F.transform("qv", lambda x: x / F.sqrt(
            F.aggregate("qv", F.lit(0.0), lambda a, v: a + v * v)
        )),
    )
    dim_sub = F.size("qv") / m
    qsub = q.select(
        "query_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"),
                    F.slice("qv", s * dim_sub.cast("int") + 1,
                            dim_sub.cast("int")).alias("qsv"),
                ),
            )
        ).alias("x"),
    ).select("query_id", "x.s", "x.qsv")
    table = qsub.join(F.broadcast(books), "s").select(
        "query_id", "s", "code",
        F.aggregate(
            F.zip_with("qsv", "cv", lambda x, y: x * y),
            F.lit(0.0), lambda a, v: a + v,
        ).alias("pdot"),
    )
    scored = (
        codes.join(F.broadcast(table), ["s", "code"])
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(rnd(F.sum("pdot"), 4).alias("cosine_pq"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_pq"), F.asc("neighbor_id")
    )
    adc = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max(k, rerank_pool))
        .select("query_id", "neighbor_id",
                F.col("rank").cast("int").alias("rank"), "cosine_pq")
    )
    if rerank_pool <= k:
        return adc
    cand = adc.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        ),
        "neighbor_id",
    ).join(F.broadcast(q), "query_id")
    rescored = cand.select(
        "query_id", "neighbor_id",
        rnd(_dot(F.col("qv"), F.col("cv")) / _norm(F.col("cv")), 4)
        .alias("cosine_pq"),  # qv already unit-norm
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_pq"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("int").alias("rank"), "cosine_pq")
    )


_PQ_RECALL_ORACLE = """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           WHERE vec_id < 20),
c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_cosine_similarity(q.e, c.e) * 10000 + 0.5) / 10000
           AS cosine
  FROM q JOIN c ON c.vec_id != q.vec_id
),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rn
       FROM sims)
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       floor(avg(cosine) * 10000 + 0.5) / 10000 AS mean_exact_top5_cosine,
       CAST(1 AS INTEGER) AS recall_floor_met
FROM rk WHERE rn <= 5
"""


@register(
    "ann_pq_recall_contract",
    oracle=_PQ_RECALL_ORACLE,
    tags=["llm-similarity"],
)
def ann_pq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for PQ/ADC ANN (VERDICT r6 #8, the billion-vector
    memory story): the DuckDB oracle pins the EXACT side (query census +
    mean exact top-5 cosine) and the deterministic floor flag; the Spark
    side additionally computes PQ recall@5 for real and only sets the flag
    when mean recall ≥ 0.5.  The search runs the PRODUCTION recipe — ADC
    over 8-byte codes prunes to a 50-candidate pool, exact cosine re-ranks
    the pool — measured at 0.60-0.79 recall@5 across the test sfs (codes
    alone: 0.25; these synthetic near-uniform vectors are PQ's worst
    case).  Per-parameter measurements in tests/test_bucketing_ivf.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, k=5)
    pq = pq_adc_topk(emb, q, k=5, rerank_pool=50).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(pq, ["query_id", "neighbor_id"])
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(rnd(F.avg("cosine"), 6).alias("m5"), F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "m5",
            (F.coalesce("n", F.lit(0)) / F.col("k")).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        rnd(F.avg("m5"), 4).alias("mean_exact_top5_cosine"),
        F.when(F.avg("recall") >= 0.5, 1).otherwise(0).cast("int")
        .alias("recall_floor_met"),
    )
