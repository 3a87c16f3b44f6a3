from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from dev_clickhouse_spark.functions import (
    day_of_week_mon1,
    iso_week,
    json_array_string,
    json_has,
    json_string,
    parse_ts_best_effort,
    surrogate_key,
    time_key,
    to_start_of_five_minute,
    to_yyyymmdd,
)


def test_date_time_keys(spark):
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 3, 31, 23, 59, 58))]
    ).select(
        to_yyyymmdd("ts").alias("dk"),
        time_key("ts").alias("tk"),
        day_of_week_mon1("ts").alias("dow"),
        iso_week("ts").alias("wk"),
    )
    r = df.first()
    assert r.dk == 20240331
    assert r.tk == 235958
    assert r.dow == 7  # 2024-03-31 is a Sunday → 7 in Mon=1 numbering
    assert r.wk == 13


def test_dow_full_week(spark):
    # 2024-01-01 is a Monday.
    rows = [Row(ts=dt.datetime(2024, 1, 1 + i)) for i in range(7)]
    vals = [
        r.dow
        for r in spark.createDataFrame(rows)
        .select(day_of_week_mon1("ts").alias("dow"))
        .collect()
    ]
    assert vals == [1, 2, 3, 4, 5, 6, 7]


def test_iso_week_year_boundaries(spark):
    # SURVEY §2.8 caveat: toISOWeek ↔ weekofyear must agree at year bounds.
    cases = [
        (dt.datetime(2021, 1, 1), 53),   # belongs to ISO week 53 of 2020
        (dt.datetime(2020, 12, 31), 53),
        (dt.datetime(2024, 12, 30), 1),  # Monday of ISO week 1 of 2025
        (dt.datetime(2024, 1, 1), 1),
        (dt.datetime(2023, 1, 1), 52),   # Sunday of ISO week 52 of 2022
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "ts timestamp").select(
        "ts", iso_week("ts").alias("wk")
    )
    got = {r.ts: r.wk for r in df.collect()}
    import duckdb

    for d, want in cases:
        assert got[d] == want
        assert duckdb.sql(f"SELECT weekofyear(TIMESTAMP '{d}')").fetchone()[0] == want


def test_five_minute_bucket(spark):
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 10, 7, 31))]
    ).select(to_start_of_five_minute("ts").alias("b"))
    assert df.first().b == dt.datetime(2024, 1, 1, 10, 5, 0)


def test_parse_ts_best_effort(spark):
    samples = [
        ("2024-05-01T10:00:00.123Z", dt.datetime(2024, 5, 1, 10, 0, 0, 123000)),
        ("2024-05-01T10:00:00Z", dt.datetime(2024, 5, 1, 10, 0)),
        ("2024-05-01 10:00:00", dt.datetime(2024, 5, 1, 10, 0)),
        ("2024-05-01T10:00:00.123456Z", dt.datetime(2024, 5, 1, 10, 0, 0, 123456)),
        ("2024-05-01", dt.datetime(2024, 5, 1)),
        ("not a date", None),
        (None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in samples], "s string").select(
        "s", parse_ts_best_effort("s").alias("ts")
    )
    got = {r.s: r.ts for r in df.collect()}
    for s, want in samples:
        assert got[s] == want, (s, got[s], want)


def test_json_helpers(spark):
    raw = '{"a": {"b": "x"}, "tags": ["t1", "t2"], "arr": [{"v": 1}]}'
    df = spark.createDataFrame([Row(raw=raw), Row(raw="{}")]).select(
        json_string("raw", "$.a.b").alias("s"),
        json_has("raw", "$.a").alias("h"),
        json_array_string("raw", "$.tags").alias("t"),
        json_string("raw", "$.arr[0].v").alias("idx"),
    )
    rows = df.collect()
    assert rows[0].s == "x" and rows[0].h and rows[0].t == ["t1", "t2"]
    assert rows[0].idx == "1"
    assert rows[1].s is None and not rows[1].h and rows[1].t == []


def test_surrogate_key_canonicalization(spark):
    # Null string and empty string canonicalize identically (reference
    # ifNull(x,'') idiom) — dim build and fact lookup must agree.
    df = spark.createDataFrame(
        [("a", None, 1), ("a", "", 1)], "x string, y string, z int"
    ).select(surrogate_key("x", "y", "z").alias("k"))
    ks = [r.k for r in df.collect()]
    assert ks[0] == ks[1]
    assert isinstance(ks[0], int)


# ---------------------------------------------------------------------------
# IP canonicalization (reference toIPv6OrNull, 02_kafka_ingest.sql.tmpl:42-43)
# ---------------------------------------------------------------------------

def _ipaddress_oracle(s):
    """Python-ipaddress ground truth, adjusted to ClickHouse/RFC 5952 display:
    v4-mapped renders dotted; zone-indexed addresses are invalid."""
    import ipaddress

    if s is None or "%" in s:
        return None
    try:
        a = ipaddress.ip_address(s.strip().lower())
    except ValueError:
        return None
    if isinstance(a, ipaddress.IPv4Address):
        return f"::ffff:{a}"
    if a.ipv4_mapped is not None:
        return f"::ffff:{a.ipv4_mapped}"
    return str(a)


def test_to_ipv6_or_null_vs_ipaddress(spark):
    from dev_clickhouse_spark.functions.ip import to_ipv6_or_null

    cases = [
        "1.2.3.4", "::ffff:1.2.3.4", "0:0:0:0:0:FFFF:0102:0304",
        "::FFFF:1.2.3.4", "2001:0DB8::0001", "2001:db8:0:0:1:0:0:1",
        "1:0:0:2:0:0:0:3", "1:0:0:2:0:0:3:4", "::1", "::", "1::", "00ff::",
        "0:0:0:0:0:0:0:0", "1:2:3:4:5:6:7:8", "2001:db8::192.168.1.1",
        " 10.0.0.1 ", "255.255.255.255", "0.0.0.0",
        # invalid
        "256.1.1.1", "1.2.3", "1.2.3.4.5", "01.2.3.4", "abcd::12345",
        "1:::2", "1:2", "", "garbage", "1:2:3:4:5:6:7:8:9", "::ffff:999.1.2.3",
        "fe80::1%eth0", None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    got = {r.ip: r.v6 for r in df.select("ip", to_ipv6_or_null("ip").alias("v6")).collect()}
    for c in cases:
        assert got[c] == _ipaddress_oracle(c), f"{c!r}: {got[c]!r} != {_ipaddress_oracle(c)!r}"


def test_to_ipv6_or_null_property(spark):
    import random

    from dev_clickhouse_spark.functions.ip import to_ipv6_or_null

    rng = random.Random(42)
    cases = []
    for _ in range(150):
        kind = rng.randrange(5)
        if kind == 0:      # random ipv4
            cases.append(".".join(str(rng.randrange(256)) for _ in range(4)))
        elif kind == 1:    # random full ipv6, mixed case / leading zeros
            cases.append(":".join(f"{rng.randrange(1 << 16):04X}" for _ in range(8)))
        elif kind == 2:    # compressed ipv6: zero run somewhere
            n = rng.randrange(2, 7)
            left = [f"{rng.randrange(1 << 16):x}" for _ in range(rng.randrange(0, 8 - n))]
            right = [f"{rng.randrange(1 << 16):x}" for _ in range(8 - n - len(left))]
            cases.append(":".join(left) + "::" + ":".join(right))
        elif kind == 3:    # v4-mapped spellings
            q = ".".join(str(rng.randrange(256)) for _ in range(4))
            cases.append(rng.choice([f"::ffff:{q}", f"0:0:0:0:0:ffff:{q}"]))
        else:              # junk
            cases.append("".join(rng.choice("0123456789abcdefg.:") for _ in range(rng.randrange(1, 24))))
    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    got = {r.ip: r.v6 for r in df.select("ip", to_ipv6_or_null("ip").alias("v6")).collect()}
    for c in set(cases):
        assert got[c] == _ipaddress_oracle(c), f"{c!r}: {got[c]!r} != {_ipaddress_oracle(c)!r}"


def test_ip_canonical_spellings_equijoin(spark):
    from pyspark.sql import functions as F

    from dev_clickhouse_spark.functions.ip import ip_canonical

    left = spark.createDataFrame(
        [(1, "::ffff:1.2.3.4"), (2, "2001:0DB8::0001"), (3, "10.0.0.1")],
        "id long, ip string",
    )
    right = spark.createDataFrame(
        [(1, "1.2.3.4"), (2, "2001:db8:0:0:0:0:0:1"), (3, "0:0:0:0:0:ffff:10.0.0.1")],
        "id long, ip string",
    )
    j = (
        left.select("id", ip_canonical("ip").alias("ip"))
        .join(right.select(ip_canonical("ip").alias("ip"), F.col("id").alias("rid")), "ip")
    )
    assert sorted((r.id, r.rid) for r in j.collect()) == [(1, 1), (2, 2), (3, 3)]


def test_scd2_not_fired_by_ip_formatting(spark):
    import json

    from dev_clickhouse_spark.gold.dims import build_dim_agent
    from dev_clickhouse_spark.sources.json_events import extract_wazuh

    def payload(ts, ip):
        return json.dumps({
            "@timestamp": ts,
            "event": {"hash": f"h-{ts}", "provider": "wazuh",
                      "dataset": "alerts", "kind": "alert", "module": "wazuh"},
            "agent": {"name": "agent-1", "ip": ip},
            "host": {"name": "host-1", "ip": ip},
            "rule": {"id": "r1", "level": 3, "name": "rule", "ruleset": "rs"},
            "message": "m",
        })

    win1 = [
        (payload("2024-01-01T00:00:00Z", "1.2.3.4"),),
    ]
    win2 = [
        (payload("2024-01-02T00:00:00Z", "::ffff:1.2.3.4"),),        # format noise
        (payload("2024-01-03T00:00:00Z", "0:0:0:0:0:FFFF:0102:0304"),),  # more noise
    ]
    win3 = [
        (payload("2024-01-04T00:00:00Z", "5.6.7.8"),),               # real change
    ]
    w1 = extract_wazuh(spark.createDataFrame(win1, "raw string"))
    w2 = extract_wazuh(spark.createDataFrame(win2, "raw string"))
    w3 = extract_wazuh(spark.createDataFrame(win3, "raw string"))
    assert {r.agent_ip for r in w2.select("agent_ip").collect()} == {"1.2.3.4"}

    cur = build_dim_agent(w1)
    # window of formatting-only spellings: change predicate must NOT fire
    cur2 = build_dim_agent(w2, cur)
    assert len(cur2.collect()) == 1
    # genuine change still opens a version
    cur3 = build_dim_agent(w3, cur2).collect()
    assert len(cur3) == 2
    live = [r for r in cur3 if r.is_current == 1]
    assert len(live) == 1 and live[0].agent_ip == "5.6.7.8"


def test_colcache_eviction_is_thread_safe():
    """Stale-app entries are evicted by whichever pool thread misses
    first; concurrent lookups must neither see the dict change size
    mid-iteration nor fail on a key another thread already evicted.
    A tiny switch interval makes the threads interleave inside the
    eviction scan."""
    import sys
    import threading

    from dev_clickhouse_spark.functions import colcache

    saved = dict(colcache._CACHE)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for round_no in range(5):
            for i in range(5000):
                colcache._CACHE[(("stale", round_no, i), "dead-app")] = i
            barrier = threading.Barrier(8)
            errors = []

            def lookup(n, round_no=round_no, barrier=barrier, errors=errors):
                try:
                    barrier.wait(timeout=30)
                    for j in range(100):
                        colcache.cached_cols(
                            ("fresh", round_no, n, j), lambda: object()
                        )
                except Exception as exc:  # noqa: BLE001 — the race under test
                    errors.append(exc)

            threads = [
                threading.Thread(target=lookup, args=(n,)) for n in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
            assert errors == []
            assert not any(k[1] == "dead-app" for k in colcache._CACHE)
    finally:
        sys.setswitchinterval(interval)
        colcache._CACHE.clear()
        colcache._CACHE.update(saved)
