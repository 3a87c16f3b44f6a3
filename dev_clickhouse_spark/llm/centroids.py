"""Nearest-centroid search: the one kernel behind k-means, IVF, PQ and the
sharded near-dup probes.

``top_p(E, C, p)`` returns, for every row of ``E``, the ``p`` nearest rows
of ``C`` with their squared L2 distances, ordered by (distance, row index).
It is a cheap filter followed by an exact refine (the REPOSE top-k shape):

- **filter** — GEMM distances ``G = ‖x‖² − 2x·c + ‖c‖²`` at BLAS speed;
- **candidates** — every centroid with ``G_ij ≤ G_(p),i + 2·tol_i``, where
  ``G_(p),i`` is row i's p-th smallest ``G``.  For floats
  ``tol_i = 2γ(‖x_i‖ + max_j‖c_j‖)²`` with ``γ = (2d+2)u / (1 − (2d+2)u)``
  and ``u = 2⁻⁵³`` bounds the rounding of ``G`` and of the fold below
  together, so no centroid of the fold's top p can fall outside the
  candidate set; integer inputs are exact and use ``tol = 0``;
- **refine** — only the candidates are recomputed as the sequential left
  fold ``acc += (x_j − c_j)²`` (a loop over dimensions, never ``np.sum``,
  which sums pairwise) and ranked by (distance, index).

The result is therefore bit-identical to folding every (row, centroid)
pair — the arithmetic of the JVM ``aggregate`` lambda and of the DuckDB
oracles — while the fold runs on ~p candidates per row instead of k.

Integer inputs are the quantized k-means vectors: every intermediate is an
exact int64 as long as ``4·m²·d < 2⁶³`` (m = the largest |component|),
and inputs past that bound raise.

Past ``COARSE_MIN_K`` centroids the flat n×k filter is replaced by the
two-level search of ``_coarse_index``: rank √k coarse cells, then run the
same core over the children of the nearest cells.  That branch is exact
within its candidate cells but approximate against the flat scan, so the
exact (oracle-gated) contract of every caller holds only below
``COARSE_MIN_K`` centroids; past it the consumers are recall-gated.  The
index is built once, where the centroids are known (the driver), and
handed to ``top_p``; ``_coarse_index`` returns None below the crossover,
which selects the flat search.

``nearest(df, vec_col, cents, p)`` is the map-only Spark wrapper: the
centroid rows (and their coarse index, past the crossover) ride in the
task closure and every batch runs ``top_p``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: below this many centroids a flat n×k GEMM filter is already cheap; the
#: two-level coarse index only pays off past it.  The crossover is
#: MEASURED, not aesthetic: per-batch A/B on 64-dim gaussian vectors
#: (10k-row batches, the mapInPandas shape) has flat winning at k=156/468
#: (0.50/2.52 s vs 0.70/4.58 s per 50k/150k rows), parity at k≈800, and
#: coarse 2.2× faster at k=1950 (45.2 s vs 20.9 s per 250k rows) — BLAS
#: throughput on the dense n×k GEMM beats the gather-heavy two-level
#: search until the candidate cut (≈3× fewer scored pairs at wc=kc/3)
#: overcomes the per-FLOP gap.  With k sized ∝ n (n_probe·n/1024), the
#: flat regime below the crossover is the n² term SCALE_X50 flags on
#: dedup_cosine_pairs_sharded; past k=1024 the coarse index caps the
#: search at n·√k ~ n^1.5.
COARSE_MIN_K = 1024

_U = 2.0 ** -53


def top_p(E: np.ndarray, C: np.ndarray, p: int,
          coarse=None) -> tuple[np.ndarray, np.ndarray]:
    """The ``min(p, k)`` nearest C-rows per E-row: (index, distance) arrays
    of shape (n, min(p, k)), ordered by (distance, index).  ``coarse`` is
    ``_coarse_index(C, p)``: None (always so below ``COARSE_MIN_K``) is
    the flat search, an index the two-level search over it."""
    if coarse is not None and len(E):
        return _coarse_top_p(E, C, p, coarse)
    return _flat_top_p(E, C, p)


def _prepare(E: np.ndarray, C: np.ndarray):
    """Cast to the kernel's arithmetic (int64 when both sides are integral,
    else float64) and return (E, C, slack): ``slack`` is each row's
    ``2·tol`` candidate margin (0 for integers).  Raises on int64 input
    past the exact-distance bound."""
    d = C.shape[1]
    if E.dtype.kind == "i" and C.dtype.kind == "i":
        E, C = E.astype(np.int64, copy=False), C.astype(np.int64, copy=False)
        m = max(int(np.abs(E).max(initial=0)), int(np.abs(C).max(initial=0)), 1)
        if 4 * m * m * d >= (1 << 63):
            raise ValueError(
                "quantized components too large for exact int64 "
                f"distances (max |q|={m}, d={d})"
            )
        return E, C, np.zeros(len(E), np.int64)
    E = E.astype(np.float64, copy=False)
    C = C.astype(np.float64, copy=False)
    g = (2 * d + 2) * _U
    g /= 1 - g
    c_max = math.sqrt(np.einsum("ij,ij->i", C, C).max(initial=0.0))
    x = np.sqrt(np.einsum("ij,ij->i", E, E))
    return E, C, 4 * g * (x + c_max) ** 2


def _filter(E: np.ndarray, C: np.ndarray, p: int, slack: np.ndarray):
    """(row, col, G) of every pair whose GEMM distance ``G`` is within
    ``slack`` of its row's p-th smallest; rows ascending."""
    x2 = np.einsum("ij,ij->i", E, E)
    c2 = np.einsum("ij,ij->i", C, C)
    G = x2[:, None] - 2 * (E @ C.T) + c2[None, :]
    thr = np.partition(G, p - 1, axis=1)[:, p - 1] + slack
    rows, cols = np.nonzero(G <= thr[:, None])
    return rows, cols, G[rows, cols]


def _refine(E: np.ndarray, C: np.ndarray, rows: np.ndarray,
            cols: np.ndarray, p: int):
    """Rank each row's candidates (``rows`` ascending) by their sequential
    fold distance, then index; the first p per row."""
    n = len(E)
    if (np.bincount(rows, minlength=n) < p).any():
        raise ValueError("vector components must be finite")
    acc = np.zeros(len(rows), dtype=E.dtype)
    for j in range(C.shape[1]):
        t = E[rows, j] - C[cols, j]
        acc += t * t
    # a (row, distance, index) sort leaves each row's candidates
    # contiguous and its first p the answer
    order = np.lexsort((cols, acc, rows))
    start = np.searchsorted(rows, np.arange(n))
    sel = (start[:, None] + np.arange(p)).reshape(-1)
    return cols[order][sel].reshape(n, p), acc[order][sel].reshape(n, p)


def _flat_top_p(E: np.ndarray, C: np.ndarray, p: int):
    n, p = len(E), min(p, len(C))
    E, C, slack = _prepare(E, C)
    if n == 0 or p == 0:
        return np.zeros((n, p), np.int64), np.zeros((n, p), E.dtype)
    rows, cols, _ = _filter(E, C, p, slack)
    return _refine(E, C, rows, cols, p)


def _coarse_index(C: np.ndarray, n_probe: int, iters: int = 5,
                  cell_frac: float = 1 / 3):
    """Two-level (coarse) quantizer over a centroid matrix, the standard
    IVF answer to assignment cost at scale (FAISS's IVF-on-IVF / IMI
    shape): cluster the k centroids into kc ≈ √k coarse cells with a numpy
    Lloyd (deterministic lowest-index seeds, so every batch builds the same
    index), and search a vector by ranking the kc coarse cells first, then
    scoring only the children of the ``wc`` nearest cells.  Work per vector
    drops from O(k·dim) to O((kc + wc·k/kc)·dim) — with k sized ∝ n (the
    probe-list memory bound), the total cost falls from the n² term the
    ×30→×50 rehearsal measured (α≈2.1 on ``dedup_cosine_pairs_sharded``)
    to n^1.5.

    Returns (Cc, children, wc): coarse matrix, per-cell child C-row-index
    arrays (every cell non-empty), and the number of cells to probe — the
    smallest w whose worst-case candidate union still holds ≥ n_probe
    children (so the per-row top-p merge never underflows), floored at 4
    and at ``cell_frac`` of the cells.  The default third is the
    recall/speed dial the COARSE_MIN_K crossover was measured at: slot
    recall against the flat scan is data-dependent (clustered corpora rank
    cells decisively; an unstructured cloud — the worst case, and what the
    synthetic embeddings table approximates — measured 0.69 @ wc=kc/5,
    0.99 @ wc=kc·0.6 on gaussian vectors at k=400).  Near-dup PAIR recall
    degrades far less than slot recall, because two near-duplicate vectors
    mis-rank the same boundary cells together.

    Returns None when k < COARSE_MIN_K (the measured flat-GEMM crossover;
    tests monkeypatch the constant to exercise the two-level search on
    small fixtures).  Build it once per centroid set, on the driver: the
    index rides in the task closures with the centroid matrix."""
    if len(C) < COARSE_MIN_K:
        return None
    C = C.astype(np.float64, copy=False)
    kc = max(1, int(math.isqrt(len(C))))
    Cc = C[:kc].copy()
    for _ in range(iters):
        a = _flat_top_p(C, Cc, 1)[0][:, 0]
        for j in range(kc):
            m = a == j
            if m.any():
                Cc[j] = C[m].mean(axis=0)
    a = _flat_top_p(C, Cc, 1)[0][:, 0]
    children = [np.nonzero(a == j)[0] for j in range(kc)]
    children = [ch for ch in children if len(ch)]
    Cc = np.array([C[ch].mean(axis=0) for ch in children], dtype=np.float64)
    sizes = np.sort(np.array([len(ch) for ch in children]))
    wc = int(np.searchsorted(np.cumsum(sizes), n_probe) + 1)
    wc = min(len(children), max(4, wc, math.ceil(len(children) * cell_frac)))
    return Cc, children, wc


def _coarse_top_p(E: np.ndarray, C: np.ndarray, p: int, coarse):
    """``top_p`` over the candidate union of each row's ``wc`` nearest
    coarse cells (see ``_coarse_index``)."""
    n, p = len(E), min(p, len(C))
    Cc, children, wc = coarse
    topc = _flat_top_p(E, Cc, wc)[0]
    E, C, slack = _prepare(E, C)
    # Filter cell by cell (one GEMM over the rows that probe it), keeping
    # each cell's LOCAL candidates: a cell's p-th smallest G is at least
    # the union's, so every candidate of the union survives, and the
    # merge handles ~n·wc·p entries instead of every scored pair (merging
    # everything measured 5-12× slower than flat).  wc sizing guarantees
    # ≥ p candidates per row: a cell clipped to p already contributes p,
    # and unclipped cells contribute everything the sizing counted.
    row_all, cid_all, g_all = [], [], []
    flat_rows = np.repeat(np.arange(n), topc.shape[1])
    flat_cells = topc.reshape(-1)
    for j in np.unique(flat_cells):
        rows_j = flat_rows[flat_cells == j]
        ch = children[j]
        r, c, g = _filter(E[rows_j], C[ch], min(p, len(ch)), slack[rows_j])
        row_all.append(rows_j[r])
        cid_all.append(ch[c])
        g_all.append(g)
    row_a = np.concatenate(row_all)
    cid_a = np.concatenate(cid_all)
    g_a = np.concatenate(g_all)
    if (np.bincount(row_a, minlength=n) < p).any():
        raise ValueError("vector components must be finite")
    # the union's own candidates, then one exact refine over them
    order = np.lexsort((g_a, row_a))
    row_a, cid_a, g_a = row_a[order], cid_a[order], g_a[order]
    thr = g_a[np.searchsorted(row_a, np.arange(n)) + p - 1] + slack
    keep = g_a <= thr[row_a]
    return _refine(E, C, row_a[keep], cid_a[keep], p)


def nearest(df: DataFrame, vec_col: str, cents: list, p: int = 1,
            key_col: str | None = None) -> DataFrame:
    """Map-only nearest-centroid assignment: ``df`` plus ``label int`` and
    ``dist`` (``long`` for integer vectors, else ``double``), one output
    row per (input row, rank) for the ``p`` nearest centroids.

    ``cents`` are (label, vector) rows, or (key, label, vector) rows with
    ``key_col`` — then each input row is ranked only against the
    centroids of its own key (PQ's per-subspace codebooks) and rows of a
    key without centroids drop out, as an inner join would drop them.
    Ties break on the lower label.  The centroids, with each set's
    coarse index built here on the driver, ride in the task closure; no
    join, window or exchange is planned."""
    integral = isinstance(
        df.schema[vec_col].dataType.elementType, T.IntegralType
    )
    dt = np.int64 if integral else np.float64
    schema = T.StructType([
        *df.schema.fields,
        T.StructField("label", T.IntegerType()),
        T.StructField("dist", T.LongType() if integral else T.DoubleType()),
    ])
    if not cents:
        return df.sparkSession.createDataFrame([], schema)
    books: dict = {}
    for r in sorted(cents, key=lambda r: tuple(r[:-1])):
        labels, vecs = books.setdefault(r[0] if key_col else 0, ([], []))
        labels.append(int(r[-2]))
        vecs.append(r[-1])
    for key, (labels, vecs) in books.items():
        C = np.asarray(vecs, dtype=dt)
        books[key] = (np.asarray(labels, dtype=np.int32), C,
                      _coarse_index(C, p))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf[vec_col].to_numpy()).astype(dt, copy=False)
            keys = pdf[key_col].to_numpy() if key_col else np.zeros(len(pdf))
            pos, label, dist = [], [], []
            for key in np.unique(keys):
                if key in books:
                    labels, C, coarse = books[key]
                    rows = np.nonzero(keys == key)[0]
                    idx, d = top_p(E[rows], C, p, coarse)
                    pos.append(np.repeat(rows, idx.shape[1]))
                    label.append(labels[idx.reshape(-1)])
                    dist.append(d.reshape(-1))
            if pos:
                sel = np.concatenate(pos)
                out = {c: pdf[c].to_numpy()[sel] for c in pdf.columns}
                yield pd.DataFrame({
                    **out, "label": np.concatenate(label),
                    "dist": np.concatenate(dist),
                })

    return df.mapInPandas(fn, schema)
