"""Correctness checks, run after the timed loop and outside every span.

Each checker returns a list of failure strings; an empty list is a pass.
"""

from __future__ import annotations

import math
import os


def oracle_answers(data_dir: str, names) -> dict:
    """name -> (columns, rows) of each query's DuckDB oracle over the same
    parquet tables (every ``<table>.parquet`` in ``data_dir``); None for a
    query without an oracle."""
    import duckdb

    from dev_clickhouse_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        out = {}
        for name in names:
            sql = REGISTRY[name].oracle
            if sql is None:
                out[name] = None
                continue
            res = con.execute(sql)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def check_query_results(results, oracle: dict) -> list[str]:
    """Compare every collected query result with its oracle as an
    order-insensitive row multiset, normalised as the repo's correctness
    mirror does.  A query without an oracle must return rows."""
    from tools.check_correctness import to_multiset

    fails = []
    for name, cols, rows in results:
        want = oracle[name]
        if want is None:
            if not rows:
                fails.append(f"{name}: no rows and no oracle")
            continue
        wcols, wrows = want
        if sorted(cols) != sorted(wcols):
            fails.append(f"{name}: columns {sorted(cols)} != {sorted(wcols)}")
        elif to_multiset(cols, rows) != to_multiset(wcols, wrows):
            fails.append(f"{name}: {len(rows)} rows differ from the oracle's "
                         f"{len(wrows)}")
    return fails


def check_group_answers(answers, rel_tol: float = 1e-9) -> list[str]:
    """``answers`` is a list of (got, want) dicts key -> (count, sum): counts
    must match exactly, float sums to ``rel_tol`` (summation order differs
    between Spark and pandas)."""
    fails = []
    for i, (got, want) in enumerate(answers):
        if set(got) != set(want):
            fails.append(f"answer {i}: keys {sorted(got)} != {sorted(want)}")
            continue
        for k, (n, s) in want.items():
            gn, gs = got[k]
            if gn != n or not math.isclose(gs, s, rel_tol=rel_tol, abs_tol=1e-9):
                fails.append(f"answer {i}: {k} = ({gn}, {gs}), want ({n}, {s})")
    return fails


def check_counts(got: dict, want: dict, what: str) -> list[str]:
    """Exact key -> count agreement (SIEM truth)."""
    got = {str(k): v for k, v in got.items()}
    want = {str(k): v for k, v in want.items()}
    if got == want:
        return []
    diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"{what}: {k} = {got.get(k)}, want {want.get(k)}" for k in diff[:5]]
