"""Self-tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, coverage, self_times, union_length  # noqa: E402


def _digest(seed: int) -> str:
    """Hash of every seeded input for ``seed``, computed in a child process
    so the environment (core count) can differ."""
    code = (
        "import hashlib, json, os, sys; sys.path.insert(0, %r); import gen\n"
        "from common import FIXTURE\n"
        "h = hashlib.sha256()\n"
        "for t in gen.siem_ticks(%d, 4, 120):\n"
        "    h.update('\\n'.join(t.lines).encode())\n"
        "    h.update(json.dumps(t.truth, sort_keys=True, default=str).encode())\n"
        "ev = gen.fixture_events(%d, os.path.join(FIXTURE, 'events.parquet'))\n"
        "h.update(ev.head(500).to_csv().encode())\n"
        "print(h.hexdigest())\n"
    ) % (HERE, seed, seed)
    return code


@pytest.mark.parametrize("cpus", ["1", "32"])
def test_generator_deterministic_and_core_count_free(cpus):
    digests = []
    for env_cpus in ("4", cpus):
        env = dict(os.environ, SPARK_GRAFT_CPUS=env_cpus,
                   OMP_NUM_THREADS=env_cpus)
        digests.append(subprocess.run(
            [sys.executable, "-c", _digest(5)], env=env, check=True,
            capture_output=True, text=True, timeout=120).stdout.strip())
    assert digests[0] == digests[1]
    other = subprocess.run(
        [sys.executable, "-c", _digest(6)], check=True,
        capture_output=True, text=True, timeout=120).stdout.strip()
    assert other != digests[0]


def test_siem_truth_counts_distinct_events():
    ticks = gen.siem_ticks(3, 5, 150)
    lines = [json.loads(x) for t in ticks for x in t.lines]
    ids = {p["event"]["hash"] for p in lines}
    truth = ticks[-1].truth
    assert sum(truth["distinct_events"].values()) == len(ids)
    assert len(lines) > len(ids)  # redeliveries landed
    assert truth["agents_current"] == 12
    assert truth["agent_versions"] >= 12


def test_oracle_checker_rejects_planted_wrong_answers():
    cols = ["k", "s"]
    want = {"q": (cols, [("a", 1.5), ("b", 2.0), ("c", 3.25)])}
    good = [("q", cols, [("c", 3.25), ("a", 1.5), ("b", 2.0)])]
    dropped = [("q", cols, [("a", 1.5), ("b", 2.0)])]
    wrong_sum = [("q", cols, [("a", 1.5), ("b", 2.5), ("c", 3.25)])]
    assert checks.check_query_results(good, want) == []
    assert checks.check_query_results(dropped, want)
    assert checks.check_query_results(wrong_sum, want)
    assert checks.check_query_results([("q", cols, [])], {"q": None})


def test_group_checker_rejects_planted_wrong_answers():
    want = {"click": (10, 100.25), "view": (4, 8.0)}
    assert checks.check_group_answers([(dict(want), want)]) == []
    assert checks.check_group_answers([({"click": (10, 100.25)}, want)])
    assert checks.check_group_answers([({"click": (10, 100.5), "view": (4, 8.0)}, want)])
    assert checks.check_group_answers([({"click": (9, 100.25), "view": (4, 8.0)}, want)])


def test_count_checker_rejects_planted_wrong_answers():
    want = {"tcp": 300, "udp": 120}
    assert checks.check_counts({"tcp": 300, "udp": 120}, want, "x") == []
    assert checks.check_counts({"tcp": 300}, want, "x")
    assert checks.check_counts({"tcp": 301, "udp": 120}, want, "x")


def test_printed_metric_names_equal_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_NAMES)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for m in spec["per_layer"]:
        assert m["unit"] == run._unit(m["name"])
    assert len(spec["per_layer"]) <= 128


def test_self_time_arithmetic_on_synthetic_tree():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping) and [8, 9];
    # the first child has one grandchild [1, 2]
    spans = [Span("root", 0, None, 0, "r", 10), Span("a", 1, 0, 1, "r", 4),
             Span("b", 3, 0, 2, "r", 6), Span("c", 8, 0, 3, "r", 9),
             Span("g", 1, 1, 4, "r", 2)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3) and st[4] == pytest.approx(1)
    assert coverage(spans[0], spans) == pytest.approx(0.6)
    assert union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
