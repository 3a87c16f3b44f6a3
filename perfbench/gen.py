"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
bytes, and nothing here depends on the core count (file layout included), so
runs on different machines parse identical inputs.

- :func:`siem_ticks` — raw Suricata/Wazuh/Zeek JSON batches, one per 5-minute
  tick, with the ground truth the gold star schema must reproduce.
- :func:`fixture_events` — the fixture's ``events`` rows in a seeded order,
  which seed and feed the ``mutation_mix`` warehouse table.

``analyst_pack`` reads the fixture tables as they are.
"""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

#: event-time origin of tick 0 (UTC); tick k covers [T0 + 5k min, T0 + 5(k+1) min)
T0 = dt.datetime(2026, 1, 8, 9, 0, 0)
TICK = dt.timedelta(minutes=5)

SIGNATURES = [
    (2100000 + i, f"ET {cat.upper()} signature {i}", cat)
    for i, cat in enumerate(
        ["scan", "scan", "policy", "trojan", "exploit", "dos", "policy",
         "scan", "malware", "recon", "exploit", "trojan"]
    )
]
#: (rule_id, level, name, ruleset) — attributes never change, so dim_rule
#: holds exactly one version per rule id
RULES = [
    (str(200100 + i), lvl, f"wazuh rule {i}", ["audit", "syscall"])
    for i, lvl in enumerate([3, 5, 7, 7, 10, 12, 12, 15])
]
SURICATA_APPS = ["http", "dns", "tls", "ssh", "smtp"]
ZEEK_PROTOS = ["tcp", "udp", "icmp"]
TAGS = ["ids", "external", "internal", "hids", "audit", "netflow", "dmz",
        "critical", "vpn", "cloud"]


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _millis(ts: dt.datetime) -> int:
    return int((ts - dt.datetime(1970, 1, 1)).total_seconds() * 1000)


@dataclass
class Tick:
    """One landed batch: its 5-minute event-time slot, the raw JSON lines
    (duplicates and late events included) and the truth so far."""

    index: int
    start: dt.datetime
    end: dt.datetime
    lines: list[str]
    landed: dict[str, int]
    truth: dict = field(default_factory=dict)


class _SiemState:
    """Cumulative ground truth of the distinct events landed so far."""

    def __init__(self, n_agents: int):
        self.events: dict[str, dict] = {}  # event_id -> summary
        # agent -> list of (version_start, ip); a version starts at the
        # agent's heartbeat, which is its earliest event in a slot
        self.agent_versions: dict[str, list[tuple[dt.datetime, str]]] = {
            f"agent-{a:02d}": [] for a in range(n_agents)
        }

    def truth(self) -> dict:
        ev = self.events.values()
        per_stream = Counter(e["stream"] for e in ev)
        # 5-minute alert buckets keyed by epoch second of the bucket start
        buckets = Counter(
            _millis(e["ts"]) // 300_000 * 300
            for e in ev if e["stream"] == "suricata"
        )
        sigs = Counter(e["signature"] for e in ev if e["stream"] == "suricata")
        zeek_bytes = Counter()
        for e in ev:
            if e["stream"] == "zeek":
                zeek_bytes[e["protocol"]] += e["bytes"]
        tags = Counter()
        for e in ev:
            for t in e["tags"]:
                tags[t] += 1
        # current SCD2 agent version: events at or after its start join
        # is_current = 1
        current_from = {
            a: vs[-1][0] for a, vs in self.agent_versions.items() if vs
        }
        by_level: dict[int, set] = {}
        for e in ev:
            if e["stream"] == "wazuh" and e["ts"] >= current_from[e["agent"]]:
                by_level.setdefault(e["rule_level"], set()).add(e["agent"])
        return {
            "distinct_events": dict(per_stream),
            "agent_versions": sum(len(v) for v in self.agent_versions.values()),
            "agents_current": len(current_from),
            "dashboard": {
                "alerts_per_bucket": dict(buckets),
                "top_signatures": dict(sigs),
                "agents_by_rule_level": {
                    lvl: len(a) for lvl, a in by_level.items()
                },
                "zeek_bytes_by_protocol": dict(zeek_bytes),
                "tag_counts": dict(tags),
            },
        }


def siem_ticks(seed: int, n_ticks: int, events_per_tick: int,
               n_agents: int = 12) -> list[Tick]:
    """``n_ticks`` raw batches of ``events_per_tick`` distinct on-time-or-late
    events each, plus redelivered duplicates.

    Per tick the seed varies the stream mix, the duplicate share (2-8 %), the
    late share (5-15 % of events stamped in the previous slot), the number of
    agents whose IP changes (SCD2 churn, 0-3) and the share of Wazuh events
    sent by the hot agent (20-40 %).  Every agent sends one heartbeat at the
    very start of each slot, so each new IP opens its SCD2 version at a known
    instant, and the heartbeats of slot 0 carry every rule, so each rule's
    single version starts at ``T0``: the truth does not depend on refresh
    timing.  Late events carry the attributes of the slot they are stamped
    in."""
    rng = np.random.default_rng(seed)
    state = _SiemState(n_agents)
    agents = list(state.agent_versions)
    hot = agents[int(rng.integers(n_agents))]
    ip_gen = {a: 0 for a in agents}
    slot_ip: dict[tuple[str, int], str] = {}
    seq = 0
    out = []
    prev: list = []

    for k in range(n_ticks):
        start = T0 + k * TICK
        # SCD2 churn for slot k (slot 0 opens every agent's first version)
        churn = set(rng.choice(agents, size=int(rng.integers(0, 4)),
                               replace=False)) if k else set(agents)
        for ai, a in enumerate(agents):
            if a in churn:
                ip_gen[a] += 1
            slot_ip[(a, k)] = f"10.{ai}.{ip_gen[a] // 250}.{ip_gen[a] % 250 + 1}"
            if a in churn:
                state.agent_versions[a].append((start, slot_ip[(a, k)]))

        mix = rng.dirichlet([12.0, 12.0, 12.0])
        dup_share = rng.uniform(0.02, 0.08)
        late_share = rng.uniform(0.05, 0.15) if k else 0.0
        hot_share = rng.uniform(0.2, 0.4)
        events = []  # (payload dict, summary)

        # heartbeats: one wazuh event per agent at the slot start
        for i, a in enumerate(agents):
            events.append(_wazuh(rng, f"w{seed}-{seq}", a, slot_ip[(a, k)],
                                 start, rule=RULES[i % len(RULES)]))
            seq += 1
        n_rest = events_per_tick - len(agents)
        streams = rng.choice(3, size=n_rest, p=mix)
        for s in streams:
            late = rng.random() < late_share
            slot = k - 1 if late else k
            ts = (T0 + slot * TICK
                  + dt.timedelta(milliseconds=int(rng.integers(1000, 300_000))))
            eid = f"{'swz'[s]}{seed}-{seq}"
            seq += 1
            if s == 0:
                events.append(_suricata(rng, eid, ts))
            elif s == 1:
                a = hot if rng.random() < hot_share else agents[
                    int(rng.integers(n_agents))]
                events.append(_wazuh(rng, eid, a, slot_ip[(a, slot)], ts))
            else:
                events.append(_zeek(rng, eid, ts))
        # redeliveries: exact re-sends of the previous batch's Suricata and
        # Zeek events; the refresh window still covers the on-time ones, so
        # the gold anti-joins must drop them (in-window Wazuh duplicates
        # make fact_wazuh_events fail; see the README)
        resend = [e for e in prev if e[1]["stream"] != "wazuh"]
        n_dup = min(len(resend), int(round(dup_share * len(events))))
        dups = [resend[int(i)] for i in rng.choice(len(resend), n_dup,
                                                   replace=False)] if n_dup else []
        allp = events + dups
        lines = [json.dumps(allp[i][0], separators=(",", ":"))
                 for i in rng.permutation(len(allp))]
        prev = events
        for p, summ in events:
            state.events[summ["id"]] = summ
        landed = Counter(summ["stream"] for _, summ in allp)
        out.append(Tick(k, start, start + TICK, lines, dict(landed),
                        state.truth()))
    return out


def _suricata(rng, eid: str, ts: dt.datetime):
    sid, sig, cat = SIGNATURES[int(rng.integers(len(SIGNATURES)))]
    app = SURICATA_APPS[int(rng.integers(len(SURICATA_APPS)))]
    tags = sorted(set(rng.choice(TAGS[:4], size=int(rng.integers(1, 3)))))
    nbytes = int(rng.integers(60, 20_000))
    p = {
        "event": {"hash": eid, "provider": "suricata", "module": "suricata",
                  "dataset": "alert", "kind": "alert", "severity": 3},
        "@timestamp": _iso(ts),
        "suricata": {"alert": {"severity": int(rng.integers(1, 4)),
                               "signature": sig, "action": "allowed"},
                     "flow_id": int(rng.integers(1, 2**40)),
                     "http": {"url": f"/p/{int(rng.integers(100))}"}},
        "agent": {"name": f"sensor-{int(rng.integers(3))}"},
        "source": {"ip": f"192.168.{int(rng.integers(4))}.{int(rng.integers(1, 255))}",
                   "port": int(rng.integers(1024, 65535))},
        "destination": {"ip": f"10.9.0.{int(rng.integers(1, 255))}", "port": 443},
        "network": {"application": app, "bytes": nbytes,
                    "packets": int(rng.integers(1, 50))},
        "rule": {"name": sig, "id": sid, "category": [cat]},
        "tags": tags,
        "message": "alert fired",
    }
    return p, {"id": eid, "stream": "suricata", "ts": ts, "signature": sig,
               "tags": tags}


def _wazuh(rng, eid: str, agent: str, ip: str, ts: dt.datetime,
           rule: tuple | None = None):
    """A Wazuh alert; ``rule`` given marks a heartbeat."""
    rid, lvl, name, ruleset = rule or RULES[int(rng.integers(len(RULES)))]
    tags = ["hids"] if rule else ["hids", "audit"]
    ms = _millis(ts)
    p = {
        "event": {"hash": eid, "provider": "wazuh", "module": "audit.log",
                  "dataset": "alert", "kind": "alert",
                  "start": ms, "end": ms + int(rng.integers(0, 5000)),
                  "ingested": _iso(ts + dt.timedelta(seconds=2))},
        "@timestamp": _iso(ts),
        "agent": {"name": agent, "ip": ip},
        "host": {"name": f"host-{agent[-2:]}", "ip": f"172.16.0.{agent[-2:]}"},
        "rule": {"id": rid, "level": lvl, "name": name,
                 "ruleset": ruleset},
        "tags": tags,
        "message": None,
    }
    return p, {"id": eid, "stream": "wazuh", "ts": ts, "agent": agent,
               "rule_level": lvl, "tags": tags}


def _zeek(rng, eid: str, ts: dt.datetime):
    proto = ZEEK_PROTOS[int(rng.integers(len(ZEEK_PROTOS)))]
    nbytes = int(rng.integers(40, 50_000))
    tags = sorted(set(rng.choice(TAGS[5:], size=int(rng.integers(0, 3)))))
    ms = _millis(ts)
    p = {
        "event": {"hash": eid, "provider": "zeek", "module": "conn",
                  "dataset": "conn", "kind": "event", "start": ms,
                  "end": ms + 1000, "ingested": _iso(ts + dt.timedelta(seconds=1))},
        "@timestamp": _iso(ts),
        "zeek": {"uid": f"C{eid}", "conn": {
            "orig_bytes": str(nbytes // 3), "resp_bytes": nbytes - nbytes // 3,
            "orig_pkts": "2", "resp_pkts": 3, "conn_state": "SF",
            "duration": "0.42", "conn_state_description": "normal termination"}},
        "node": "zeek-node-1",
        "source": {"ip": f"192.168.7.{int(rng.integers(1, 255))}",
                   "port": int(rng.integers(1024, 65535))},
        "destination": {"ip": "2001:db8::1", "port": 443},
        "network": {"transport": [proto], "bytes": nbytes,
                    "packets": int(rng.integers(1, 80)), "type": "ipv4",
                    "direction": "outbound"},
        "tags": tags,
    }
    return p, {"id": eid, "stream": "zeek", "ts": ts, "protocol": proto,
               "bytes": nbytes, "tags": tags}


# ---------------------------------------------------------------------------
# mutation_mix rows
# ---------------------------------------------------------------------------


def fixture_events(seed: int, path: str):
    """The ``events`` rows of the fixture at ``path`` (a pandas frame) in a
    seeded order: the seed decides which rows seed the table and which
    arrive as appends, never what a row holds."""
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()
    order = np.random.default_rng(seed).permutation(len(df))
    return df.iloc[order].reset_index(drop=True)
