"""Tiny-size end-to-end run of every workload (starts a JVM each)."""

import os

import pytest

from perfbench import run as bench_run
from perfbench import workloads
from perfbench.workloads import E2E_UNITS, LAYER_UNITS


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "WARM_RECORDS", 500)
    monkeypatch.setattr(workloads, "TAIL_RATE", 200)
    monkeypatch.setattr(workloads, "QUERY_SF", 0.002)
    env = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(env)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_smoke(tiny, workload, capsys):
    result = bench_run.run(workload, seed=5, seconds=2, trace=True)
    assert result["correct"], capsys.readouterr().out
    assert result["attempted"] > 0 and result["failed"] == 0
    assert set(result["metrics"]) == set(LAYER_UNITS)
    report = capsys.readouterr().out
    for name in E2E_UNITS:
        assert f"  {name} " in report
    assert "failed_ratio" in report
    if workload == "query_mix":
        assert result["metrics"][
            "operators.heavy_hitters.stages"]["value"] > 0
    else:
        assert result["metrics"]["sink.records_sent"]["value"] > 0
        assert result["metrics"]["pipeline.batches"]["value"] > 0
        assert result["metrics"]["tailer.spool_files"]["value"] > 0
