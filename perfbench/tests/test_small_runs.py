"""Small-input runs of each workload shape through the benchmark command.

Each run starts its own Spark JVM (about a minute each, ~7 minutes in all).
"""

import json
import os
import subprocess
import sys

import pytest

from .conftest import ROOT

RUN = os.path.join(ROOT, "perfbench", "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, RUN, "--seed", "3", "--seconds", str(_spec()["run_seconds"]), "--small",
         *args],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stdout


def _check_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


WORKLOADS = [w["name"] for w in _spec()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_run_passes_oracle(workload):
    rc, res, out = _run("--workload", workload, "--trace", "0")
    assert rc == 0, out
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert "failed_frac 0.0 fraction" in out
    _check_metrics(res, _spec()["end_to_end"])
    for name in ("setup_s", "wall_s", "urls_per_s", "round_p50_s", "peak_rss_mb", "state_mb"):
        assert res["metrics"][name]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    rc, res, out = _run("--workload", workload, "--trace", "1")
    assert rc == 0, out
    assert res["correct"] is True
    _check_metrics(res, _spec()["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["engine.round_s"] > m["engine.self_s"] > 0
    assert m["spark.jobs"] > 0 and m["fetch.task_s"] > 0 and m["tables.commits"] > 0
    if workload == "recrawl_churn":
        assert m["seen_set.expire_s"] > 0 and m["seen_set.expired_rows"] > 0
        assert m["delta_frontier.compactions"] >= 1


def test_tampered_fetch_log_is_reported_failed():
    rc, res, out = _run("--workload", "recrawl_churn", "--trace", "0", "--tamper-fetch-log")
    assert rc == 1
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1
    assert "failed_frac 1.0 fraction" in out
