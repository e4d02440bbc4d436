"""Smoke test of the benchmark itself at tiny input.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json declares is printed by name with
its unit on every workload, that the checks pass, that a failed set-up is
counted and ends the run with exit code 1, and that the traced span tree is
consistent: self_s is wall_s minus the part of the span's interval
its child spans cover, and every job of the traced iteration is charged to
exactly one span.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run, workloads
from perfbench.ledger import Span, attribute_jobs, self_seconds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _covered_by_sweep(parent: dict, children: list[dict]) -> float:
    """Independent of ledger._covered: sweep over sorted interval ends."""
    events = []
    for c in children:
        s, e = max(c["start"], parent["start"]), min(c["end"], parent["end"])
        if e > s:
            events += [(s, 1), (e, -1)]
    covered, depth, last = 0.0, 0, None
    for t, d in sorted(events):
        if depth > 0:
            covered += t - last
        depth += d
        last = t
    return covered


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", None, "main", start=0.0, end=10.0)
    kids = [
        Span(2, "a", 1, "t1", start=1.0, end=4.0),
        Span(3, "b", 1, "t2", start=3.0, end=6.0),  # overlaps a
        Span(4, "c", 1, "t3", start=9.0, end=12.0),  # runs past the parent
    ]
    assert self_seconds(parent, kids) == pytest.approx(10.0 - 5.0 - 1.0)


def test_jobs_go_to_deepest_tagged_span_else_by_submission_time():
    outer = Span(1, "outer", None, "main", start=0.0, end=10.0, tag="t-1")
    inner = Span(2, "inner", 1, "pool", start=2.0, end=5.0, tag="t-2")
    jobs = [
        {"jobId": 0, "jobTags": ["t-1", "t-2"], "submissionTime": 3000},
        {"jobId": 1, "jobTags": ["t-1"], "submissionTime": 3000},  # other thread
        {"jobId": 2, "jobTags": [], "submissionTime": 4000},
        {"jobId": 3, "jobTags": [], "submissionTime": 60000},  # after every span
    ]
    out = attribute_jobs([outer, inner], jobs)
    assert [j["jobId"] for j in out[2]] == [0, 2]
    assert [j["jobId"] for j in out[1]] == [1]


class _BrokenWorkload:
    def __init__(self, work: str, seed: int):
        pass

    def prepare(self, phases: dict):
        raise RuntimeError("no inputs")


def test_a_failed_setup_is_counted_and_exits_nonzero(monkeypatch, capsys):
    monkeypatch.setitem(workloads.WORKLOADS, "broken", _BrokenWorkload)
    assert run.main(["--workload", "broken", "--seed", "1", "--seconds", "1"]) == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Shrink both workloads' inputs for the duration of the module."""
    saved = workloads.KgIncremental.n_docs, workloads.GraphQueries.sizes
    workloads.KgIncremental.n_docs = 120
    workloads.GraphQueries.sizes = {
        "n_lineitem": 2000, "n_parts": 200, "n_suppliers": 10, "n_docs": 40, "n_vecs": 100,
    }
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        yield
    finally:
        os.chdir(cwd)
        workloads.KgIncremental.n_docs, workloads.GraphQueries.sizes = saved


def _run(capsys, workload: str, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_metric_is_printed_with_its_unit(tiny, capsys, workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert workload in {w["name"] for w in bench["workloads"]}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(capsys, workload, trace)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert {n: m["unit"] for n, m in out["metrics"].items()} == declared
        if trace == 0:
            assert all(m["value"] > 0 for m in out["metrics"].values())

    with open(os.path.join(ROOT, ".perfbench_runs", f"{workload}-seed5-trace.json")) as f:
        spans = json.load(f)["spans"]
    by_sid = {s["sid"]: s for s in spans}
    for s in spans:
        kids = [c for c in spans if c["parent"] == s["sid"]]
        assert s["self_s"] == pytest.approx(s["wall_s"] - _covered_by_sweep(s, kids), abs=1e-6)
        assert 0 <= s["self_s"] <= s["wall_s"] + 1e-9
        if s["parent"] is not None:
            parent = by_sid[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    roots = [s for s in spans if s["parent"] is None]
    assert [r["name"] for r in roots] == ["iteration"]
    # spark counts are inclusive: the root holds every job of the iteration
    assert roots[0]["jobs"] >= sum(c["jobs"] for c in spans if c["parent"] == roots[0]["sid"])
