"""Benchmark self-test: small smoke runs of every workload, traced and not.

    python3 -m pytest perfbench -q

Each run must emit exactly the metrics BENCHMARK.json names, with the oracle
gate passing; a perturbed wave counter must count as a failed operation.
"""

from __future__ import annotations

import json
import os

import pytest

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(autouse=True)
def small(monkeypatch):
    monkeypatch.setattr(workloads, "CRAWL_SCALE", 1)
    monkeypatch.setattr(workloads, "CRAWL_SHARDS", 4)
    monkeypatch.setattr(workloads, "FINALIZE_ROWS", 3000)
    monkeypatch.setattr(workloads, "WARM_UP_ROWS", 500)


def _result(capsys, workload: str, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                     "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted(capsys, workload, trace):
    res = _result(capsys, workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        n: v["unit"] for n, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_perturbed_counter_is_a_failure(capsys, monkeypatch):
    from crawlingathome_worker_spark.plans import job

    real = job.run_job
    calls = []

    def off_by_one(*a, **k):
        manifests = real(*a, **k)
        calls.append(1)
        if len(calls) == 2:  # the first timed wave
            manifests[0]["counters"]["scheduled"] += 1
        return manifests

    monkeypatch.setattr(job, "run_job", off_by_one)
    res = _result(capsys, "crawl_polite", 0)
    assert not res["correct"] and res["failed"] == 1
