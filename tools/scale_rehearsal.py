#!/usr/bin/env python
"""×N scale rehearsal — measure, don't extrapolate.

Every 100 TB design claim in EXPLAIN.md rests on plan shape at sf0.1.  This
tool synthesizes an order-of-magnitude-larger dataset and MEASURES the bench
pack against it, so a quadratic term hidden behind a healthy-looking plan
(LSH bucket blowup, per-user sequence-string growth, df-cap leaks) shows up
as a super-linear wall-clock ratio instead of a production incident.

Inflation design (default ×10), chosen so the workload stays homogeneous and
the EXPECTED scaling of every query is known:

- every table gets N replicas; each replica is a self-consistent universe —
  all join keys are offset by ``replica * base`` per key FAMILY (custkey in
  customer AND orders, orderkey in orders AND lineitem, …), so referential
  integrity holds within a replica and no key collides across replicas.
- ``documents.text`` gets a per-replica Caesar shift (``translate`` over the
  ascii letters, JVM-side).  Spaces/punctuation/digits are untouched, so
  token boundaries, lengths, and shingle COUNTS are identical per replica —
  but every shingle's bytes differ across replicas, so cross-replica Jaccard
  is ~0 and the TRUE near-dup pair count scales exactly ×N.  A dedup path
  whose candidate set grows faster than ×N is therefore a real bug, not a
  property of the synthetic corpus.
- ``embeddings.embedding`` is multiplied by a per-replica deterministic ±1
  sign pattern (md5 parity of (replica, component)).  A shared sign flip is
  an isometry: within a replica every pairwise cosine is EXACTLY the sf0.1
  value (ANN ground truth scales ×N by construction), while cross-replica
  pairs behave like genuinely random pairs.  NOTE a component ROTATION is
  not enough — the base embeddings have cross-dimension structure that
  survives shifting, which round 6 measured as 86k spurious cross-replica
  pairs at ×10.  Even with sign flips, the ≥0.4 threshold at dim 64 sits at
  ~3.2σ of the random-pair cosine distribution, so the cosine-pair OUTPUT
  grows ~quadratically with corpus size (N² random-tail pairs) exactly as
  a real 10× corpus's would — that query's rows_ratio is expected ≈N²/10,
  and the artifact marks it ``expected_quadratic`` instead of gating it on
  linear growth.
- ``events`` offsets event_id/user_id only: per-user sequence lengths are
  unchanged, so sequence/sessionize state per key stays constant and only
  the KEY COUNT grows — the shape a 1000-executor shuffle actually sees.

Output: ONE JSON artifact (default SCALE_X10.json) with per-query
{sf_sec, xN_sec, ratio}, invariant COUNTS (dedup pairs, ANN rows) proving
near-linear growth, and a ``verdict`` listing any query whose wall-clock
ratio exceeds N (super-linear ⇒ would not survive the next ×10).

Usage: python tools/scale_rehearsal.py [--factor 10] [--out SCALE_X10.json]
       [--base-sf /root/testdata/sf0.1] [--workdir /tmp/scale_x10]
       [--reps 3] [--keep-data]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: join-key FAMILIES: every column in a family gets the same per-replica
#: offset so foreign keys keep matching inside a replica.
KEY_FAMILIES: dict[str, list[tuple[str, str]]] = {
    "regionkey": [("region", "r_regionkey"), ("nation", "n_regionkey")],
    "nationkey": [("nation", "n_nationkey"), ("customer", "c_nationkey"),
                  ("supplier", "s_nationkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}

LETTERS = string.ascii_lowercase + string.ascii_uppercase


def _caesar(shift: int) -> str:
    """Rotate the COMBINED 52-letter cycle (not per case): period 52, so
    replica texts only alias at factor > 52.  The first ×30 run rotated
    lower/upper separately (period 26) and replicas 0/26, 1/27, … got
    IDENTICAL text — cross-replica 'near-dups' that inflated the pair
    invariants 116× instead of 30×."""
    s = shift % len(LETTERS)
    return LETTERS[s:] + LETTERS[:s]


def synthesize(spark, base_sf: str, out_dir: str, factor: int,
               tables: list[str] | None = None) -> dict:
    """Write ×factor inflated copies of every test table to ``out_dir``.

    One distributed job per table: scan → explode(replica 0..N-1) → per-key
    offset / per-replica text+vector perturbation → parquet.  No driver-side
    rows; at a real 100 TB base this is the same map-only plan."""
    from pyspark.sql import functions as F

    from dev_clickhouse_spark.io import TEST_TABLES, load_table

    if factor > len(LETTERS) * len(LETTERS):
        raise ValueError(
            f"factor {factor} exceeds the text-perturbation period "
            f"({len(LETTERS) ** 2}): replica texts would alias and corrupt "
            "the dedup invariants"
        )
    os.makedirs(out_dir, exist_ok=True)
    # per-family offset base: one power of 10 above the family's max key so
    # replica keyspaces never overlap (computed once, tiny agg per table)
    fam_base: dict[str, int] = {}
    for fam, cols in KEY_FAMILIES.items():
        mx = 0
        for table, col in cols:
            v = (
                load_table(spark, base_sf, table)
                .agg(F.max(F.col(col)).alias("m")).first().m
            )
            mx = max(mx, int(v or 0))
        b = 10
        while b <= mx:
            b *= 10
        fam_base[fam] = b

    col_offset = {
        (t, c): fam_base[fam]
        for fam, cols in KEY_FAMILIES.items()
        for (t, c) in cols
    }
    counts: dict[str, int] = {}
    for table in (tables if tables is not None else TEST_TABLES):
        df = load_table(spark, base_sf, table)
        out = df.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        for c in df.columns:
            base = col_offset.get((table, c))
            if base is not None:
                out = out.withColumn(c, F.col(c) + F.col("_r") * F.lit(base))
        if table == "documents":
            # replica < 52: the original Caesar rotation (byte-identical to
            # the data behind the committed ×10/×30/×50 artifacts); replica
            # >= 52: the SAME rotation plus a per-52-block word suffix —
            # every token differs across blocks, so replica texts share no
            # shingles and the period becomes 52² without touching the
            # existing curve's generator
            shifted = F.col("text")
            for r in range(1, factor):
                e = F.translate("text", LETTERS, _caesar(r % len(LETTERS)))
                if r >= len(LETTERS):
                    tag = "z" + LETTERS[r // len(LETTERS)]
                    e = F.regexp_replace(e, r"(\S+)", "$1" + tag)
                shifted = F.when(F.col("_r") == r, e).otherwise(shifted)
            out = out.withColumn("text", shifted)
        if table == "embeddings":
            # per-replica ±1 sign pattern (replica 0 = identity): exact
            # isometry within a replica, random-pair behavior across
            out = out.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: x * F.when(
                        (F.col("_r") == 0)
                        | (F.pmod(
                            F.xxhash64(F.concat_ws(":", F.col("_r"), i)), 2
                        ) == 0),
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0)).cast("float"),
                ),
            )
        path = os.path.join(out_dir, f"{table}.parquet")
        nparts = max(4, min(32, factor * 2))
        out.drop("_r").repartition(nparts).write.mode("overwrite").parquet(path)
        counts[table] = spark.read.parquet(path).count()
    return counts


#: scale-sensitive result-set sizes recorded at both scales: the pair/row
#: counts must grow ~linearly for the banding/df-cap claims to hold.
INVARIANT_QUERIES = [
    "dedup_minhash_lsh_pairs",
    "dedup_keep_list",
    "dedup_exact_stats",
    "dedup_ngram_jaccard_pairs",
    "dedup_embedding_cosine_pairs",
    "dedup_near_dup_clusters",
    "sequence_match_users",
    # round 8 (VERDICT r7 #7): the two heaviest relational entries join the
    # measured curve — both read only `events`, so the invariants synth
    # covers them.  asof emits exactly one row per event (rows_ratio must
    # equal the factor); scd2 emits the version count, which grows
    # linearly for the synthetic event stream (per-event change
    # probability is scale-free).
    "asof_join_last_purchase",
    "scd2_user_type_versions",
]

#: round 10 (VERDICT r9 #2): the storage-overlay and substring families —
#: exactly the queries whose read path is an overlay join (DV anti-join
#: over original and updated members, projection-state merge) that must stay
#: broadcast/linear-shaped as data grows.  Each row RAISES internally when
#: its overlay invariant breaks (manifest version moved, projection not
#: served, no files pruned), so a scale point is also an invariant check.
OVERLAY_QUERIES = [
    "lightweight_delete_mask_read",
    "lightweight_update_patch_read",
    "projection_auto_rewrite_rollup",
    "projection_incremental_fold",
    "sort_projection_pruned_scan",
    "dedup_substring_spans",
    "dedup_substring_cut_stats",
]


#: default ceiling on the consecutive-point local exponent
#: α = log(tN/tM)/log(N/M); linear scaling is 1.0, and quiet-run
#: measurement noise on >2 s entries stays well inside ±0.3.
ALPHA_MAX = 1.3

#: below this wall-clock, an isolated-worker reading is overhead-dominated
#: (fresh-session plan setup + codegen + first scan), so a consecutive-point
#: exponent computed FROM it measures the overhead→compute transition, not
#: the plan.  Round-8 evidence: q1_pricing_summary reads 0.49 s at ×10 and
#: 7.25 s at ×30 in isolated workers (α=2.46, flagged), but warm in-session
#: it is FLAT — 0.80/0.62/0.78 s at base/×10/×30; daily_order_stats likewise
#: 0.37/0.39/0.49 s.  Both points are therefore clamped to this floor in
#: local_alpha(): a genuine bend on compute-dominated entries still flags
#: (both points past the floor are untouched), while α across the overhead
#: regime is measured against the floor instead of a sub-floor reading.
OVERHEAD_FLOOR_SEC = 2.0


def local_alpha(t_n: float, t_m: float, factor_n: int, factor_m: int) -> float:
    """Consecutive-point local exponent with both points clamped to
    OVERHEAD_FLOOR_SEC (see its docstring for the round-8 evidence)."""
    import math

    return round(
        math.log(max(t_n, OVERHEAD_FLOOR_SEC) / max(t_m, OVERHEAD_FLOOR_SEC))
        / math.log(factor_n / factor_m), 2,
    )

#: queries with a DOCUMENTED superlinear tail carry their own envelope so
#: the known cause doesn't flip every future verdict, while a regression
#: BEYOND the documented behavior still does.
KNOWN_SUPERLINEAR_TAIL: dict[str, dict] = {
    # dedup_ngram_jaccard_pairs carried an entry here (alpha_max 2.5,
    # "fixed NGRAM_DF_CAP tail") until round 8.  The quiet process-isolated
    # fixed-partition re-measure REFUTED it: the census shows zero capped
    # posting lists and exactly-linear candidate expansion at x10/x30/x50,
    # and the settled medians are linear (7.7 -> 14.7 -> 25.0 s, local
    # alpha 0.59 / 1.04).  The r7 "alpha ~2.3 bend" was long-session GC
    # pollution plus scaled-partition wave overhead, not the plan.
    "dedup_embedding_cosine_pairs": {
        "alpha_max": 2.5,
        "cause": (
            "quadratic OUTPUT at the 0.4/dim-64 operating point — the "
            "random-pair cosine tail grows ~N^2 (expected_quadratic "
            "invariant); the sharded path is the production recipe"
        ),
    },
    "dedup_cosine_pairs_sharded": {
        "alpha_max": 2.3,
        "cause": (
            "cross-shard IVF assignment is an n×k GEMM with k ∝ n "
            "(n_probe·n/1024) — locally n² BELOW the two-level "
            "coarse-quantizer crossover COARSE_MIN_K=1024, where dense "
            "BLAS beats the gather-bound coarse search (measured A/B in "
            "centroids.COARSE_MIN_K's comment: flat wins at k≤781, "
            "coarse 2.2× faster at k=1950); past the crossover the "
            "assignment caps at n·√k ~ n^1.5, so the n² regime is "
            "bounded to k<1024 ≈ 131k vectors per probe job"
        ),
    },
}


def _time_pack(spark, registry, names, sf_dir, reps) -> tuple[dict, dict]:
    timings, rowcounts = {}, {}
    for i, name in enumerate(names):
        fn = registry[name].fn
        runs = []
        n = 0
        for _ in range(reps):
            t0 = time.time()
            n = len(fn(spark, sf_dir).collect())
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        rowcounts[name] = n
        print(f"  [{sf_dir}] {name}: {timings[name]}s ({n} rows)", flush=True)
        # ~200 query executions in one session pin every auto-broadcast in
        # driver storage until the ContextCleaner's weak refs GC; at x30
        # that exhausted an 8g driver mid-pack in r6 and a 16g one in r7
        # once the pack grew to 36 queries.  Nudge BOTH collectors after
        # every query (outside the timed region) so stale broadcasts drop.
        import gc as _gc

        _gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    return timings, rowcounts


def _time_pack_isolated(
    names, sf_dir, reps, shuffle_partitions: int | None = None
) -> tuple[dict, dict]:
    """Process-per-query measurement: each query runs in a FRESH driver JVM
    (one untimed warm-up, then ``reps`` timed runs, median).

    Why: even with the GC nudges, a long measuring session inflates late
    heavy entries 2-6× — round 8 caught `dedup_embedding_cosine_pairs` at
    46.6 s mid-pack vs 8.2 s standalone on the SAME quiet box and the SAME
    ×30 data (the pack had collected ~3M rows across prior entries;
    r7's scd2 21/50/9 s spread was the same effect).  The ×30→×50
    'superlinear bend' in VERDICT r7 #1 was this measurement artifact, not
    a plan property — the candidate-volume census (`--ngram-census`) shows
    the synthetic corpus's posting-list depth is constant across replicas,
    so candidate work grows EXACTLY linearly by construction.  Isolation
    makes each entry's number independent of pack composition and order,
    at ~10 s JVM startup per query (outside the timed region)."""
    import subprocess

    timings, rowcounts = {}, {}
    for name in names:
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--worker-query", name, "--worker-sf", sf_dir,
            "--reps", str(reps),
        ]
        if shuffle_partitions:
            cmd += ["--worker-shuffle-partitions", str(shuffle_partitions)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(
                f"worker for {name} failed:\n{proc.stderr[-2000:]}"
            )
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        timings[name] = res["median_sec"]
        rowcounts[name] = res["rows"]
        print(f"  [{sf_dir}] {name}: {res['median_sec']}s "
              f"({res['rows']} rows, isolated)", flush=True)
    return timings, rowcounts


def _worker(
    name: str, sf_dir: str, reps: int, shuffle_partitions: int | None = None
) -> None:
    """Single-query measurement child: fresh session, ADAPTIVE warm-up
    (re-run untimed until the runtime stops dropping by >20%, max 4 — heavy
    multi-stage plans keep JIT-settling for several executions: ngram at
    ×50 measured 75.6 s cold → 29.7 s settled in one session), then median
    of ``reps``.  Prints ONE JSON line.

    Timing action = a ``noop``-format write with the rowcount captured by
    ``df.observe`` in the SAME job: every output column is fully computed
    and materialized executor-side, nothing crosses into the Python
    driver.  The previous ``collect()`` action conflated the engine with
    CPython driver materialization — scd2 at ×50 measures 3.2 s of
    compute (``count()`` split) and 20-65 s (bimodal, allocator-state-
    dependent) of building 4M Row objects, which is what flagged scd2
    α 1.81 / keep_list α 1.34 as "tail bends".  A real cluster's driver
    never sees result rows at this volume (sinks are distributed writes),
    and the correctness gate still collects — only the PERF protocol
    changes."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "28g")
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dev_clickhouse_spark.queries import REGISTRY
    from dev_clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name=f"rehearsal_{name}", shuffle_partitions=shuffle_partitions
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = REGISTRY[name].fn

    def run_once() -> tuple[float, int]:
        # t0 BEFORE fn(): iterative queries (label propagation, Lloyd
        # steps) run real actions inside the builder — timing only the
        # final write would credit them a cached-scan 0.04 s
        obs = Observation()
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0, int(obs.get["n"])

    prev = None
    n = 0
    for _ in range(4):
        dt, n = run_once()
        if prev is not None and dt >= prev * 0.8:
            break  # settled: no longer dropping >20% per run
        prev = dt
    runs = []
    for _ in range(reps):
        dt, n = run_once()
        runs.append(dt)
    print(json.dumps({
        "median_sec": round(sorted(runs)[len(runs) // 2], 3), "rows": n,
    }))
    spark.stop()


def _ngram_census(spark, sf_dir: str) -> dict:
    """Volume census of the df-capped inverted-index candidate generator
    (the evidence side of the ×30→×50 tail attribution, VERDICT r7 #1):
    with a FIXED absolute NGRAM_DF_CAP, corpus growth pushes ever more
    posting lists toward the cap, so the pair-expansion volume
    Σ_{df≤cap} df·(df−1)/2 — the exact row count the candidate shuffle
    carries — grows faster than the doc count until the surviving lists
    saturate at cap.  If wall-time growth tracks ``expansion_rows`` growth,
    the bend is the documented cap property, not a plan regression."""
    from pyspark.sql import functions as F

    from dev_clickhouse_spark.io import load_table
    from dev_clickhouse_spark.llm.dedup import (
        NGRAM_DF_CAP, _hashed_doc_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = _hashed_doc_shingles(docs).select(
        "doc_id", F.explode("hs").alias("h")
    )
    dfc = sh.groupBy("h").agg(F.count(F.lit(1)).alias("d"))
    row = dfc.agg(
        F.count(F.lit(1)).alias("n_distinct_shingles"),
        F.sum((F.col("d") > NGRAM_DF_CAP).cast("long")).alias("n_lists_capped"),
        F.sum(
            F.when(F.col("d") <= NGRAM_DF_CAP,
                   F.col("d") * (F.col("d") - 1) / 2).otherwise(0)
        ).cast("long").alias("expansion_rows"),
    ).first()
    return {
        "n_docs": docs.count(),
        "df_cap": NGRAM_DF_CAP,
        "n_distinct_shingles": row.n_distinct_shingles,
        "n_lists_capped": row.n_lists_capped,
        "expansion_rows": row.expansion_rows,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--base-sf", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default="/tmp/scale_x10")
    ap.add_argument("--out", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--keep-data", action="store_true")
    ap.add_argument("--skip-synth", action="store_true",
                    help="reuse an existing --workdir")
    ap.add_argument("--in-session", action="store_true",
                    help="measure all queries inside one driver session "
                    "(the pre-r8 protocol; late heavy entries read 2-6x "
                    "high from session GC state — see _time_pack_isolated)")
    ap.add_argument("--worker-query", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--worker-sf", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--worker-shuffle-partitions", type=int, default=None,
                    help=argparse.SUPPRESS)
    ap.add_argument("--ngram-census", action="store_true",
                    help="record the df-capped candidate-expansion volume "
                    "at base and xN (evidence that expansion stays LINEAR "
                    "— n_lists_capped and expansion_rows_ratio)")
    ap.add_argument("--pack", choices=["full", "invariants", "overlay"],
                    default="full",
                    help="'invariants' times only the dedup/ANN/sequence "
                    "invariant family (the ×50 synthesis-cap point, VERDICT "
                    "r6 item #6 — the full pack's curve is already measured "
                    "at ×10/×30); 'overlay' times the storage-overlay + "
                    "substring families (VERDICT r9 #2) into "
                    "SCALE_OVERLAY_X{N}.json")
    args = ap.parse_args()
    if args.worker_query:
        _worker(args.worker_query, args.worker_sf, args.reps,
                args.worker_shuffle_partitions)
        return
    out_path = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"SCALE_OVERLAY_X{args.factor}.json" if args.pack == "overlay"
        else f"SCALE_X{args.factor}.json",
    )

    # ×N data + ~4·|pack| query executions in one session need driver
    # headroom beyond the sf0.1 default (spark-submit territory on a real
    # cluster; an env override still wins)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "28g")

    from bench import BENCH_QUERIES

    from dev_clickhouse_spark.queries import REGISTRY
    from dev_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="scale_rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    if not args.skip_synth:
        # the invariant family reads only the LLM-side tables — skip the
        # TPC-H inflation (lineitem alone is 30M rows at x50)
        synth_tables = (
            ["documents", "embeddings", "events"]
            if args.pack == "invariants"
            else ["documents", "events"] if args.pack == "overlay"
            else None
        )
        counts = synthesize(spark, args.base_sf, args.workdir, args.factor,
                            tables=synth_tables)
    else:
        # reusing an existing workdir: recover the row counts so the
        # artifact stays self-describing (footer-metadata counts, cheap)
        counts = {
            t[: -len(".parquet")]: spark.read.parquet(
                os.path.join(args.workdir, t)
            ).count()
            for t in sorted(os.listdir(args.workdir))
            if t.endswith(".parquet")
        }
    synth_sec = round(time.time() - t0, 1)

    if args.pack == "invariants":
        wanted = INVARIANT_QUERIES + ["dedup_cosine_pairs_sharded"]
    elif args.pack == "overlay":
        wanted = list(OVERLAY_QUERIES)
    else:
        wanted = BENCH_QUERIES + INVARIANT_QUERIES
    pack = list(dict.fromkeys(q for q in wanted if q in REGISTRY))
    # stamp quiet-ness at measurement start (AFTER synthesis — synthesis
    # itself loads the box but is not timed against the envelope): the
    # artifact records whether the quiet-run protocol was actually honored
    from tools.quietcheck import quiet_stamp, settle

    settle()  # let our own synthesis load decay before stamping
    quiet = quiet_stamp()
    if not quiet["quiet"]:
        print(f"WARNING: non-quiet run ({quiet}) — timings are advisory",
              flush=True)
    if args.in_session:
        # warm first (JIT/codegen caches), then measure base before inflated
        # so any residual warm-up bias penalizes the ×N side, not the base
        base_t, base_n = _time_pack(
            spark, REGISTRY, pack, args.base_sf, args.reps
        )
        big_t, big_n = _time_pack(spark, REGISTRY, pack, args.workdir, args.reps)
    else:
        # Partition protocol: each side sizes shuffle partitions for ITS
        # data volume via session.partitions_for_factor — the base side
        # runs the core-count floor (the ×1 operating point's
        # measured-best constant: a blanket 256 ceiling cost bench e2e
        # 42.6 → 58.5 s), the ×N side runs cpus·N/4 capped at 1024, the
        # line through SPILL_PROBE.json's A/B point (256 partitions beat
        # 32 on the heaviest dedup workers at ×30/×50, ngram 19.9 s vs
        # 71.3 s at ×30; zero spill and GC < 7% in every cell, so the
        # old "spill-borderline" hypothesis is refuted — the cost is
        # per-task sort/agg state growth, which volume-proportional
        # partitioning holds constant, exactly as a real cluster does).
        from dev_clickhouse_spark.session import partitions_for_factor

        base_t, base_n = _time_pack_isolated(pack, args.base_sf, args.reps)
        big_t, big_n = _time_pack_isolated(
            pack, args.workdir, args.reps,
            shuffle_partitions=partitions_for_factor(args.factor),
        )

    queries = {
        q: {
            "base_sec": base_t[q],
            "xn_sec": big_t[q],
            "ratio": round(big_t[q] / base_t[q], 2) if base_t[q] > 0 else None,
        }
        for q in pack
    }
    # dedup_embedding_cosine_pairs' output includes the random-pair tail at
    # its 0.4/dim-64 operating point, which grows ~N² in any real corpus —
    # its rows_ratio is reported but not gated on linear growth
    quadratic_output = {"dedup_embedding_cosine_pairs"}
    # overlay pack: every query records its row invariant too (the
    # mutation/projection rows emit a CONSTANT-cardinality aggregate —
    # rows_ratio 1.0 is itself the invariant; the substring rows grow with
    # the duplicated-span population, ~linear for the replica synth)
    inv_names = pack if args.pack == "overlay" else INVARIANT_QUERIES
    invariants = {
        q: {
            "base_rows": base_n[q],
            "xn_rows": big_n[q],
            "rows_ratio": round(big_n[q] / base_n[q], 2) if base_n[q] else None,
            **({"expected_quadratic": True} if q in quadratic_output else {}),
        }
        for q in inv_names
        if q in REGISTRY
    }
    # Queries whose OUTPUT is declared quadratic get a LOOSER bound, not a
    # free pass (ADVICE r7): their time cannot scale linearly when their
    # result set doesn't (at ×50 the exact cosine-pair query emits 2.5M
    # rows, 2694× base — the documented reason the sharded path exists),
    # but a plan regression making them worse than their own output growth
    # must still flip the verdict.  Bound: ratio ≤ max(factor,
    # 1.5 × rows_ratio) — pure-quadratic compute tracks rows_ratio, so 1.5×
    # is headroom for constant factors, not for a complexity change.
    def _envelope(q: str) -> float:
        if q in quadratic_output and base_n.get(q):
            rr = big_n[q] / base_n[q]
            return max(float(args.factor), 1.5 * rr)
        return float(args.factor)

    def _flagged() -> list[str]:
        return sorted(
            q for q, v in queries.items()
            if v["ratio"] is not None and v["ratio"] > _envelope(q)
        )

    superlinear = _flagged()
    # Flag-then-REMEASURE (round 8): the ×10 run flagged three ~1 s-base
    # queries at ratio 11-14 that re-measured linear — run-to-run spread on
    # sub-second bases is ±30% even under the quiet protocol, and timing
    # noise is ONE-SIDED (contention only ever adds wall time).  So before
    # an entry reaches the artifact as superlinear, both its sides get one
    # independent re-measure batch and the MIN of the two medians stands:
    # the minimum estimates the uncontaminated cost, while a genuinely
    # superlinear query stays flagged because every xN batch is slow.
    remeasured: list[str] = []
    if superlinear and not args.in_session:
        print(f"re-measuring flagged entries before verdict: {superlinear}",
              flush=True)
        rb_t, _rb_n = _time_pack_isolated(superlinear, args.base_sf, args.reps)
        rx_t, _rx_n = _time_pack_isolated(superlinear, args.workdir, args.reps)
        for q in superlinear:
            base_t[q] = min(base_t[q], rb_t[q])
            big_t[q] = min(big_t[q], rx_t[q])
            queries[q] = {
                "base_sec": base_t[q],
                "xn_sec": big_t[q],
                "ratio": round(big_t[q] / base_t[q], 2)
                if base_t[q] > 0 else None,
                "remeasured": True,
            }
        remeasured = superlinear
        superlinear = _flagged()
    quadratic_over = sorted(
        q for q, v in queries.items()
        if v["ratio"] is not None and v["ratio"] > args.factor
        and q in quadratic_output and q not in superlinear
    )
    # Consecutive-point LOCAL exponents (VERDICT r7 #1): the base-relative
    # ratio gate cannot see a tail that BENDS between the last two factors —
    # r7's ×50 artifact read `superlinear: []` while the n-gram query's
    # 30→50 local exponent was ≈2.3.  Compare against the committed
    # artifact at the largest smaller factor: α = log(tN/tM) / log(N/M).
    # A query with a DOCUMENTED superlinear tail carries its own envelope
    # (cause cited); anything else flags above ALPHA_MAX.  Sub-2-second
    # entries are skipped — at that magnitude a JIT hiccup moves α by >1.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # PER-QUERY prev/earliest lookup across ALL committed scale artifacts
    # (round 10): the overlay pack writes its own SCALE_OVERLAY_X*.json
    # series, and a query's curve must chain through whichever artifacts
    # actually contain it — one global prev artifact would silently skip
    # α for any query absent from the largest-smaller-factor file.
    candidates: list[dict] = []
    for f in sorted(os.listdir(repo_root)):
        if f.startswith("SCALE") and f.endswith(".json"):
            try:
                with open(os.path.join(repo_root, f)) as fh:
                    cand = json.load(fh)
            except (OSError, ValueError):
                continue
            m = cand.get("factor")
            if (
                cand.get("metric") == "scale_rehearsal"
                and isinstance(m, int) and m < args.factor
            ):
                candidates.append(cand)

    def _points_for(q: str):
        """(prev, earliest) artifacts among candidates that carry q."""
        have = [
            c for c in candidates
            if c.get("queries", {}).get(q, {}).get("xn_sec")
        ]
        if not have:
            return None, None
        return (
            max(have, key=lambda c: c["factor"]),
            min(have, key=lambda c: c["factor"]),
        )

    local_exponents: dict[str, dict] = {}
    tail_superlinear: list[str] = []
    if candidates:
        for q, v in queries.items():
            prev, earliest = _points_for(q)
            pv = prev.get("queries", {}).get(q) if prev else None
            if not pv or not pv.get("xn_sec") or not v["xn_sec"]:
                continue
            alpha = local_alpha(
                v["xn_sec"], pv["xn_sec"], args.factor, prev["factor"]
            )
            env = KNOWN_SUPERLINEAR_TAIL.get(q)
            entry = {
                "from_factor": prev["factor"],
                "alpha_local": alpha,
                "alpha_max": env["alpha_max"] if env else ALPHA_MAX,
                **({"documented_cause": env["cause"]} if env else {}),
            }
            # Corroboration requirement (round 8): a consecutive-point α
            # alone is one-noisy-read fragile — a lucky-LOW intermediate
            # point makes the next segment read superlinear (measured:
            # ngram ×30 18.2 s between a 7.6 s ×10 and a 39.8 s ×50 reads
            # α(30→50)=1.53 while the full-decade α(10→50)=1.03 is
            # linear).  A REAL tail bend inflates the full-range exponent
            # too (a last-segment α2.3 after a linear decade still lifts
            # the 10→50 endpoint α to ≈1.4), so flag only when BOTH the
            # consecutive and the full-range exponents exceed the
            # envelope; both are recorded either way.
            ev = earliest.get("queries", {}).get(q) if earliest else None
            if ev and ev.get("xn_sec") and earliest["factor"] < prev["factor"]:
                entry["alpha_full"] = local_alpha(
                    v["xn_sec"], ev["xn_sec"],
                    args.factor, earliest["factor"],
                )
                entry["full_from_factor"] = earliest["factor"]
            local_exponents[q] = entry
            corroborated = entry.get("alpha_full") is None or (
                entry["alpha_full"] > entry["alpha_max"]
            )
            if alpha > entry["alpha_max"] and corroborated:
                tail_superlinear.append(q)
        tail_superlinear.sort()
    ngram_census = None
    if args.ngram_census:
        cb = _ngram_census(spark, args.base_sf)
        cn = _ngram_census(spark, args.workdir)
        ngram_census = {
            "base": cb,
            "xn": cn,
            "docs_ratio": round(cn["n_docs"] / cb["n_docs"], 2),
            "expansion_rows_ratio": round(
                cn["expansion_rows"] / max(cb["expansion_rows"], 1), 2
            ),
        }
    artifact = {
        "metric": "scale_rehearsal",
        "factor": args.factor,
        "pack": args.pack,
        "isolation": "in-session" if args.in_session else "process-per-query",
        # base side = core-count partitions, ×N side =
        # partitions_for_factor(N) — the volume-proportional sizing rule
        # (session.py); timing action = noop write + observed rowcount
        "protocol": {
            "xn_shuffle_partitions": None if args.in_session else
            __import__(
                "dev_clickhouse_spark.session", fromlist=["x"]
            ).partitions_for_factor(args.factor),
            "timing_action": "collect" if args.in_session else
            "noop_write_observe",
        },
        "base_sf": args.base_sf,
        "synth_sec": synth_sec,
        "row_counts": counts,
        "queries": queries,
        "invariants": invariants,
        "superlinear": superlinear,
        "remeasured": remeasured,
        "expected_quadratic_over_envelope": quadratic_over,
        "local_exponents": local_exponents,
        "tail_superlinear": tail_superlinear,
        **({"ngram_census": ngram_census} if ngram_census else {}),
        "quiet": quiet,
        "verdict": (
            "PASS: no query exceeds the x%d wall-clock envelope" % args.factor
            + (
                " (quadratic-output exact path over it as designed: %s)"
                % ", ".join(quadratic_over) if quadratic_over else ""
            )
            if not (superlinear or tail_superlinear)
            else "ATTENTION: "
            + "; ".join(
                s for s in (
                    "super-linear queries need a plan diff: %s"
                    % ", ".join(superlinear) if superlinear else "",
                    "tail bend (consecutive-point exponent over envelope): %s"
                    % ", ".join(tail_superlinear) if tail_superlinear else "",
                ) if s
            )
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: artifact[k] for k in
                      ("factor", "synth_sec", "superlinear", "verdict")}))
    print(f"wrote {out_path}")
    if not args.keep_data:
        shutil.rmtree(args.workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
