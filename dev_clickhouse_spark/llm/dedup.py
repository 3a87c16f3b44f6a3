"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant at 100 TB):

- **exact** — md5 fingerprint group-by: one shuffle on a 16-byte key.
- **n-gram Jaccard** — inverted shingle index (one groupBy per shingle);
  candidate generation drops shingles with document frequency > NGRAM_DF_CAP
  so boilerplate shared by k docs cannot cost k² candidate rows; candidates
  are then verified with the EXACT Jaccard over full shingle sets (a pair
  sharing only capped shingles is the accepted, documented miss).
- **MinHash+LSH** — per-doc signatures are MAP-ONLY (Arrow-batched pandas UDF,
  no shuffle); banding reduces the pair space to hash-bucket collisions; only
  candidates pay the exact-verify cost.  Tunables (k, bands) trade recall for
  cost; defaults k=12, b=6, r=2 target J ≥ 0.8.
- **SimHash** — constant-size 64-bit signature; near-dup = small Hamming
  distance; bucketing by signature prefix bounds the search.

Hashes are md5-based so the DuckDB oracle can replicate signatures
bit-for-bit; the map-only Arrow signature pass is the one path that runs,
gated by that oracle.
"""

from __future__ import annotations

import hashlib
import warnings
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ch_compat import round_half_up as rnd
from ..io import load_table
from ..queries.registry import register
from ..session import spread

MINHASH_K = 12
LSH_BANDS = 6
LSH_ROWS = MINHASH_K // LSH_BANDS
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.8
# A shingle appearing in more documents than this is boilerplate: it is
# excluded from candidate GENERATION (not from the exact verify), bounding
# the inverted-index pair expansion at df_cap² rows per shingle.
NGRAM_DF_CAP = 100


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


_SIG_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_shingles", T.IntegerType()),
    T.StructField("minhash", T.ArrayType(T.StringType())),
    T.StructField("bands", T.ArrayType(T.StringType())),
])


# ---------------------------------------------------------------------------
# MinHash signatures + LSH bands (map-only pandas UDF)
# ---------------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = MINHASH_K, bands: int = LSH_BANDS,
) -> DataFrame:
    """Per-document MinHash signature + LSH band hashes.  Map-only: no shuffle,
    Arrow-batched; signature i = min over shingles of md5(f"{i}:{shingle}"),
    band b = md5(concat of its row hashes).

    r13 inner-loop rewrite (guide §4.2/§4.5, measured ~4× on the signature
    pass; a JVM higher-order-function md5 variant was tried first and
    measured SLOWER — interpreted lambda evaluation per array element): the
    k salted-prefix md5 states are built ONCE per task and ``copy()``-ed per
    shingle, the shingle is encoded once, minima compare raw digest bytes
    (same order as the hex strings), and hex materializes only for the k
    winners.  Inputs to md5 are unchanged — signatures stay bit-identical to
    the oracle."""
    rows_per_band = k // bands

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        prefixes = [md5(f"{i}:".encode()) for i in range(k)]  # once per task
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").split(" ")
                if len(toks) < SHINGLE_N:
                    out.append((doc_id, 0, None, None))
                    continue
                sh = {
                    " ".join(toks[i : i + SHINGLE_N])
                    for i in range(len(toks) - SHINGLE_N + 1)
                }
                best: list[bytes | None] = [None] * k
                for s in sh:
                    sb = s.encode()
                    for i in range(k):
                        h = prefixes[i].copy()
                        h.update(sb)
                        d = h.digest()
                        if best[i] is None or d < best[i]:
                            best[i] = d
                sig = [d.hex() for d in best]
                band_hashes = [
                    _md5("".join(sig[b * rows_per_band : (b + 1) * rows_per_band]))
                    for b in range(bands)
                ]
                out.append((doc_id, len(sh), sig, band_hashes))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_shingles", "minhash", "bands"]
            )

    # single-file tables arrive as one partition — spread the CPU-bound
    # signature hashing across cores (at real scale input is already split)
    inp = spread(docs.select(F.col(id_col), F.col(text_col)))
    return inp.mapInPandas(compute, schema=_SIG_SCHEMA)


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Docs sharing any (band_index, band_hash) bucket — the LSH self-join.
    Shuffles on the band hash (uniform, 16 bytes); bucket sizes are the only
    quadratic term and shrink as bands get more selective."""
    bands = signatures.filter(F.col("bands").isNotNull()).select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    ).localCheckpoint(eager=False)
    # localCheckpoint (lazy): the self-join needs the band table twice, and
    # when AQE picks a broadcast build side the two subtrees stop being
    # reusable exchanges — without the checkpoint the whole signature pass
    # runs twice (r13 plan audit)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.  Each pair joins to
    the two docs' distinct-shingle ARRAYS and intersects with a JVM
    ``array_intersect`` — no Python workers and no per-pair re-shingling.
    The per-doc sets build inline as
    ``array_distinct(transform(...))`` in the projection below — the same
    3-token shingles ``ngram_shingles`` emits (split on single spaces,
    windows of 3, docs under 3 tokens drop out), so the value is
    bit-identical to the old Arrow-UDF path.  A doc under 3
    tokens has an empty set → Jaccard 0.0, matching the old behavior.

    Only docs that actually appear in ``pairs`` are shingled: the incoming
    docs are semi-joined to the candidate ids FIRST, so the shingle +
    collect_set shuffle is O(colliding docs), not O(corpus).  This is what
    keeps ``incremental_lsh_pairs`` / the streaming corpus builder honest
    about their 'O(batch + collisions), independent of corpus size'
    contract — without the semi-join, every micro-batch would re-shingle
    and re-shuffle the ENTIRE corpus text (ADVICE r6)."""
    # pairs feed both the candidate-id semi-join and the final pair join —
    # checkpoint (lazy) or the whole candidate generation (LSH band join /
    # posting expansion) runs twice per plan (r13 plan audit)
    pairs = pairs.localCheckpoint(eager=False)
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = docs.join(
        cand_ids, docs[id_col] == cand_ids["doc_id"], "left_semi"
    )
    # r13: the per-doc distinct-shingle SET builds as an array inside the
    # projection (split → transform → array_distinct) — the same set
    # ``ngram_shingles(...).groupBy(doc_id).collect_set`` produced, without
    # the explode row blowup and its two shuffles (row-level distinct +
    # collect_set).  Map-only over the (already semi-joined) candidate docs;
    # a doc under SHINGLE_N tokens (or NULL text) gets the empty array, as
    # before.  localCheckpoint: the array build feeds both join sides and
    # would otherwise run twice.
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    full = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).select(
        "doc_id",
        F.when(
            F.size("__toks") >= SHINGLE_N,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - SHINGLE_N),
                    _shingle_tokens("__toks"),
                )
            ),
        ).otherwise(F.array().cast("array<string>")).alias("ss"),
    ).localCheckpoint(eager=False)
    a = full.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    b = full.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    cb = F.size(F.array_intersect("ssa", "ssb"))
    union = F.size("ssa") + F.size("ssb") - F.col("cb")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("cb", cb)
        .select(
            "doc_a", "doc_b",
            F.when(union > 0, F.col("cb") / union)
            .otherwise(0.0).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs via iterative min-label
    propagation: every doc converges to the smallest doc_id reachable from it
    (the cluster's canonical representative).

    Each round is one groupBy shuffle; iterations needed = graph diameter
    (near-dup clusters are shallow — a handful of rounds).  Labels are
    localCheckpointed per round so the plan doesn't grow with iterations —
    the standard Spark pattern for iterative algorithms.  Returns
    (doc_id, cluster_id) for every doc appearing in ``pairs``.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .select(F.col("a").alias("doc_id"), F.least("label", "doc_id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_labels = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_labels, labels.doc_id == neighbor_labels.a, "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exhausted max_iterations with labels still moving: the graph has a
        # component of diameter > max_iterations and the labeling is split.
        # Silent truncation here would make deduped_keep_list keep documents
        # that belong to one cluster — surface it loudly instead.
        warnings.warn(
            f"dedup_clusters did not converge within {max_iterations} "
            f"iterations ({changed} labels still changing); clusters may be "
            "split — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def deduped_keep_list(pairs: DataFrame, docs: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """The dedup ACTION: drop every non-canonical member of each near-dup
    cluster, keep everything else — returns the surviving ids."""
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.select(F.col(id_col).alias("doc_id")).join(drop, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# SimHash (map-only pandas UDF, oracle-replicable)
# ---------------------------------------------------------------------------

def simhash_hex(text: str) -> str:
    """64-bit SimHash over the distinct-token set, emitted as 16 hex chars.
    Bit k lives in md5-hex nibble k//4, bit k%4; majority vote with ties → 1."""
    # NB: ''.split(' ') == [''] — the empty token hashes like any other,
    # matching DuckDB string_split semantics in the oracle.
    toks = set((text or "").split(" "))
    counts = [0] * 64
    for tok in toks:
        hx = _md5(tok)
        for p in range(16):
            d = int(hx[p], 16)
            for j in range(4):
                counts[p * 4 + j] += (d >> j) & 1
    n = len(toks)
    nibbles = []
    for p in range(16):
        v = 0
        for j in range(4):
            if counts[p * 4 + j] * 2 >= n:
                v |= 1 << j
        nibbles.append("0123456789abcdef"[v])
    return "".join(nibbles)


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    @F.pandas_udf("string")
    def sh(texts: pd.Series) -> pd.Series:
        return texts.map(simhash_hex)

    inp = spread(docs.select(F.col(id_col), F.col(text_col)))
    return inp.select(F.col(id_col), sh(F.col(text_col)).alias("simhash"))


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_stats",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)                 AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups
FROM documents
GROUP BY source
""",
    tags=["llm-dedup"],
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting per source: md5-fingerprint distinct counts —
    the hash-groupBy dedup at its cheapest."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )


_SHINGLE_SQL = """
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)
  WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

# the oracle SQL above spells the 3-token shingle out literally; keep the
# Spark side (which derives everything from SHINGLE_N) from silently
# diverging if the constant ever changes
assert SHINGLE_N == 3, "_SHINGLE_SQL hardcodes 3-token shingles"


def _shingle_tokens(toks_col: str = "toks"):
    """``SHINGLE_N`` consecutive tokens starting at array index ``i`` —
    the one place the shingle width is spelled out for the JVM builders."""
    return lambda i: F.concat_ws(
        " ", *[F.col(toks_col)[i + j] for j in range(SHINGLE_N)]
    )


def ngram_shingles(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Distinct 3-shingles per doc, JVM-side (split/sequence/transform/explode
    — no Python workers).  Returns (doc_id, s)."""
    toks = F.split(text_col, " ")
    t = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).filter(
        F.size("toks") >= SHINGLE_N
    )
    return t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - SHINGLE_N),
                _shingle_tokens("toks"),
            )
        ).alias("s"),
    ).distinct()


def _hashed_doc_shingles(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(doc_id, hs: array<long>) — each doc's DISTINCT 3-shingles as
    xxhash64 longs, entirely map-side: ``array_distinct`` inside the
    projection replaces ``ngram_shingles``'s row-level ``.distinct()``
    shuffle, and hashing inside the array means no shingle STRING ever
    enters an exchange.  Per-doc shingle count is ``size(hs)`` for free."""
    toks = F.split(text_col, " ")
    # single-file tables arrive as one partition — spread the CPU-bound
    # shingle build + hashing across cores (same note as minhash_signatures;
    # at real scale the input is already split)
    t = spread(docs).select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    ).filter(F.size("toks") >= SHINGLE_N)
    # hash BEFORE dedup: array_distinct then compares 8-byte longs, not
    # ~30-byte strings (measured ~2.5x on the per-doc stage at sf0.1)
    shingle = _shingle_tokens("toks")
    hashed = F.transform(
        F.sequence(F.lit(0), F.size("toks") - SHINGLE_N),
        lambda i: F.xxhash64(shingle(i)),
    )
    return t.select("doc_id", F.array_distinct(hashed).alias("hs"))


def ngram_candidate_pairs(sh: DataFrame, df_cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Candidate pairs from the inverted index with document-frequency
    capping: group by shingle (ONE shuffle), drop posting lists longer than
    ``df_cap`` (boilerplate), expand the survivors pairwise map-side.  Worst
    case is df_cap²/2 rows per shingle — bounded regardless of how many docs
    share a boilerplate shingle."""
    postings = sh.groupBy("s").agg(F.collect_list("doc_id").alias("ds"))
    bounded = postings.filter(F.size("ds") <= df_cap)
    return (
        bounded.select(F.explode("ds").alias("doc_a"), F.col("ds"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def ngram_verify_pairs(cand: DataFrame, sh: DataFrame,
                       sizes: DataFrame | None = None,
                       threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact Jaccard for candidate pairs over the FULL shingle sets (capped
    shingles count here — the cap only limited candidate generation).

    Shape: each candidate pair joins to the two docs' shingle ARRAYS
    (collect_set, shingles are distinct per doc by construction) and the
    intersection is a JVM ``array_intersect`` per pair — two equi-joins
    carrying one array payload each.  The previous shape exploded
    pair×shingle rows through two shuffle joins + a re-aggregation; the
    ×10 rehearsal measured this array form at ~2× less wall-time with an
    identical result set.  ``sizes`` is accepted for API compatibility and
    ignored (|A| = size of the collected set)."""
    sets = sh.groupBy("doc_id").agg(F.collect_set("s").alias("ss"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    cb = F.size(F.array_intersect("ssa", "ssb"))
    jac = F.col("cb") / (F.size("ssa") + F.size("ssb") - F.col("cb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("cb", cb)
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", rnd(jac, 4).alias("jaccard"))
    )


def ngram_jaccard_pairs_counted(
    docs: DataFrame, df_cap: int = NGRAM_DF_CAP,
    threshold: float = JACCARD_THRESHOLD,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """n-gram Jaccard pairs via COUNTED postings — the scale path that
    replaced the array-intersect verify (VERDICT r6 item #3: 84 s at ×30,
    3× the next-slowest query; the per-pair ``array_intersect`` over full
    string shingle arrays was the cost center).

    Two ideas:

    1. **64-bit packed shingles, hashed MAP-SIDE.** Every shingle string
       becomes ``xxhash64(s)`` inside the per-doc array, with per-doc
       distinctness via ``array_distinct`` in the same projection
       (``_hashed_doc_shingles``) — so the string path's row-level
       ``.distinct()`` (a full shuffle of ~30-byte shingle STRINGS, the
       ×30 profile's top cost) and the per-doc profile count (a second
       data-sized shuffle) vanish; ``n`` is just ``size(hs)``.  All
       remaining shuffles carry 8-byte longs.  A within-doc hash collision
       would merge two distinct shingles (birthday bound ≈ |sh|²/2⁶⁵ per
       doc — ~10⁻¹⁵ at 10³ shingles/doc); the property test pins the
       output bit-identical to the string path on the test corpora.

    2. **Count intersections from the inverted index, never materialize
       sets.**  |A∩B| splits by document frequency:
       - uncapped shingles (df ≤ cap): the candidate expansion ALREADY
         visits one row per (pair, shared uncapped shingle) — so
         ``groupBy(pair).count()`` yields the uncapped intersection size
         as a by-product of candidate generation (one shuffle, map-side
         combine), instead of re-joining full shingle arrays per pair.
       - capped shingles (df > cap, the boilerplate tail): few DISTINCT
         hashes by construction, so each doc's capped-shingle array is
         tiny; one per-doc array join + ``array_intersect`` covers them.
       Union sizes come from the per-doc distinct-shingle counts.

    Identical result contract to ``ngram_verify_pairs(ngram_candidate_
    pairs(sh), sh)``: same candidate set (docs sharing ≥1 uncapped
    shingle), same exact Jaccard over FULL shingle sets (capped shingles
    count in both |A∩B| and |A∪B|), same ≥ threshold filter and 4-digit
    rounding."""
    # localCheckpoints (lazy) truncate the re-derived subtrees: without them
    # the r13 plan audit counted the documents scan 10×, the shingle+hash
    # build 5× and the postings shuffle 3× in ONE query plan (base feeds the
    # index AND both profile sides; postings feeds candidates AND the capped
    # tail) — guide §3.3: materialize an intermediate to stop the optimizer
    # re-deriving it.  base is corpus-sized (the production trade: one
    # materialization vs five recomputes of the hash pass); postings is
    # vocabulary-sized.
    base = _hashed_doc_shingles(docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    sh = base.select("doc_id", F.explode("hs").alias("h"))
    postings = sh.groupBy("h").agg(
        F.collect_list("doc_id").alias("ds")
    ).localCheckpoint(eager=False)
    bounded = postings.filter(F.size("ds") <= df_cap)
    cand = (
        bounded.select(F.explode("ds").alias("doc_a"), F.col("ds"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("cb_uncapped"))
    )
    # per-doc profile: total distinct shingles (map-side size(hs), no
    # shuffle) + the (tiny) array of capped shingle hashes this doc contains
    capped_h = postings.filter(F.size("ds") > df_cap).select(
        F.explode("ds").alias("doc_id"), "h"
    )
    profile = (
        base.select("doc_id", F.size("hs").alias("n"))
        .join(
            capped_h.groupBy("doc_id").agg(F.collect_set("h").alias("ch")),
            "doc_id", "left",
        )
        .select(
            "doc_id", "n",
            F.coalesce("ch", F.array().cast("array<bigint>")).alias("ch"),
        )
    ).localCheckpoint(eager=False)  # feeds both join sides (a and b)
    a = profile.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("ch").alias("cha"),
    )
    b = profile.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("ch").alias("chb"),
    )
    cb = F.col("cb_uncapped") + F.size(F.array_intersect("cha", "chb"))
    jac = cb / (F.col("na") + F.col("nb") - cb)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", rnd(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLE_SQL},
df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a
  JOIN df ON df.s = a.s AND df.df <= {NGRAM_DF_CAP}
  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS cb
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       floor(cb::DOUBLE / (sa.n + sb.n - cb) * 10000 + 0.5) / 10000 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE cb::DOUBLE / (sa.n + sb.n - cb) >= 0.8
""",
    tags=["llm-dedup"],
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs via df-capped inverted shingle index:
    explode 3-shingles, build posting lists per shingle, DROP lists longer
    than NGRAM_DF_CAP (boilerplate guard — a shingle shared by k docs would
    otherwise cost k² candidates), expand survivors pairwise, then verify
    candidates with the exact Jaccard over full shingle sets, filter J ≥ 0.8.
    A pair sharing ONLY capped shingles is missed by design (boilerplate
    overlap is not near-duplication).

    Since round 7 the verify runs on the COUNTED-POSTINGS path
    (``ngram_jaccard_pairs_counted``): 64-bit packed shingle hashes and
    intersection counts read off the inverted index instead of per-pair
    array intersections — same pair set and values (property-tested), a
    fraction of the ×30 wall-time."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_counted(docs)


_MINHASH_PAIRS_SQL = f"""
mh AS (
  SELECT doc_id, i, min(md5(i::VARCHAR || ':' || s)) AS h
  FROM sh, LATERAL (SELECT unnest(generate_series(0, {MINHASH_K - 1})) AS i)
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {LSH_ROWS} AS band,
         md5(string_agg(h, '' ORDER BY i)) AS bh
  FROM mh GROUP BY doc_id, i // {LSH_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS cb
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
),
lsh_pairs AS (
  SELECT doc_a, doc_b, cb::DOUBLE / (sa.n + sb.n - cb) AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE cb::DOUBLE / (sa.n + sb.n - cb) >= {JACCARD_THRESHOLD}
)"""


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash → LSH banding → bucket join → exact verify: the scalable
    near-dup pipeline, on the md5 signatures the DuckDB oracle replicates
    bit-for-bit."""
    sigs = minhash_signatures(docs)
    cands = lsh_candidate_pairs(sigs)
    verified = verify_jaccard(cands, docs)
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", rnd("jaccard", 4).alias("jaccard")
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
WITH {_SHINGLE_SQL},
{_MINHASH_PAIRS_SQL}
SELECT doc_a, doc_b,
       floor(jac * 10000 + 0.5) / 10000 AS jaccard
FROM lsh_pairs
""",
    tags=["llm-dedup"],
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified LSH near-dup pairs on the md5 (oracle-parity) hash path —
    signatures are map-only; only band-bucket collisions pay the exact-verify
    cost.  Output = pairs with exact Jaccard ≥ 0.8."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_near_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_SHINGLE_SQL},
{_MINHASH_PAIRS_SQL},
edges2 AS (
  SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
  UNION SELECT doc_b, doc_a FROM lsh_pairs
),
reach AS (
  SELECT DISTINCT a AS src, a AS node FROM edges2
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges2 e ON e.a = r.node
)
SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
FROM reach GROUP BY src
""",
    tags=["llm-dedup", "iterative"],
)
def dedup_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified LSH near-dup graph — the pair
    generator is dedup_minhash_lsh_pairs (the SCALE path: banded candidates,
    not an all-pairs join), clustered by iterative min-label propagation and
    checked against a recursive-CTE transitive closure in DuckDB over the
    same LSH pairs."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_clusters(pairs)


@register(
    "dedup_keep_list",
    oracle=f"""
WITH RECURSIVE {_SHINGLE_SQL},
{_MINHASH_PAIRS_SQL},
edges2 AS (
  SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
  UNION SELECT doc_b, doc_a FROM lsh_pairs
),
reach AS (
  SELECT DISTINCT a AS src, a AS node FROM edges2
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges2 e ON e.a = r.node
),
clusters AS (
  SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
)
SELECT d.doc_id
FROM documents d
LEFT JOIN clusters c ON c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id
WHERE c.doc_id IS NULL
""",
    tags=["llm-dedup", "iterative"],
)
def dedup_keep_list_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION end-to-end on the scale path: LSH pairs → connected
    components → drop non-canonical cluster members → surviving doc_ids."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return deduped_keep_list(pairs, docs)


@register(
    "dedup_simhash_signatures",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
h AS (SELECT doc_id, md5(tok) AS hx FROM t),
bits AS (
  SELECT doc_id, p, j,
         CASE WHEN sum(((strpos('0123456789abcdef', substr(hx, p + 1, 1)) - 1) >> j) & 1) * 2
                   >= count(*) THEN 1 ELSE 0 END AS bit
  FROM h,
       LATERAL (SELECT unnest(generate_series(0, 15)) AS p),
       LATERAL (SELECT unnest(generate_series(0, 3)) AS j)
  GROUP BY doc_id, p, j
),
nibs AS (
  SELECT doc_id, p, CAST(sum(bit << j) AS INTEGER) AS v
  FROM bits GROUP BY doc_id, p
)
SELECT doc_id,
       string_agg(substr('0123456789abcdef', v + 1, 1), '' ORDER BY p) AS simhash
FROM nibs GROUP BY doc_id
""",
    tags=["llm-dedup"],
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (hex) — constant-size signature whose
    Hamming distance approximates cosine over the token set; prefix-bucketing
    gives the near-dup search its scale path."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs)


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW batch against the EXISTING corpus index
# ---------------------------------------------------------------------------

def incremental_lsh_pairs(
    new_docs: DataFrame, corpus_index: DataFrame, all_docs: DataFrame,
) -> DataFrame:
    """Near-dup pairs of a NEW micro-batch against an EXISTING corpus — the
    shape continuous ingest actually needs at 100 TB.  A full-corpus rerun
    per batch re-shuffles everything; here the corpus contributes only its
    PERSISTED band index (``corpus_index`` = the (doc_id, band, band_hash)
    rows ``minhash_signatures`` already computes — write it once, bucketed
    on band_hash via ``io.write_bucketed`` and the per-batch join needs no
    corpus-side shuffle at all).  Per batch: map-only signatures over the
    batch, band equi-join against the index, exact-verify the collisions.
    Cost is O(batch + collisions), independent of corpus size.

    Returns (doc_a = new doc, doc_b = corpus doc, jaccard ≥ threshold)."""
    sig_new = minhash_signatures(new_docs)
    bands_new = sig_new.filter(F.col("bands").isNotNull()).select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    )
    cand = (
        bands_new.alias("a")
        .join(
            corpus_index.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = verify_jaccard(cand, all_docs)
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", rnd("jaccard", 4).alias("jaccard")
    )


def corpus_band_index(corpus_docs: DataFrame) -> DataFrame:
    """The persisted side of :func:`incremental_lsh_pairs`: one row per
    (doc_id, band, band_hash).  In production this is written once and
    appended per accepted batch (bucketed on band_hash)."""
    sigs = minhash_signatures(corpus_docs)
    return sigs.filter(F.col("bands").isNotNull()).select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    )


@register(
    "dedup_incremental_new_vs_corpus",
    oracle=f"""
WITH {_SHINGLE_SQL},
{_MINHASH_PAIRS_SQL.replace(
    "ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id",
    "ON a.band = b.band AND a.bh = b.bh "
    "AND a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7"
)}
SELECT doc_a, doc_b,
       floor(jac * 10000 + 0.5) / 10000 AS jaccard
FROM lsh_pairs
""",
    tags=["llm-dedup"],
)
def dedup_incremental_new_vs_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental dedup demo split: documents with ``doc_id % 10 = 7`` play
    the arriving batch, the rest are the corpus; emit every (new, corpus)
    near-dup pair.  The corpus side goes through ``corpus_band_index`` — in
    production that index is PERSISTED and this query's corpus-side work
    disappears; the driver-gated run rebuilds it so the oracle can replay
    the identical math."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return incremental_lsh_pairs(new, corpus_band_index(corpus), docs)
