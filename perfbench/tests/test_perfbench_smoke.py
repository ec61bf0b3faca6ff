"""Tiny-size runs of every workload through the real launcher, the
wrong-output self-test, and the refusal to run without the package."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
E2E = ("setup_s", "cold_run_s", "run_s", "op_p50_s", "op_p90_s")


def _bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3", "--seconds", "1",
         "--size", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload", ["hpv_etl", "relational_mix", "corpus_dedup", "event_stream"])
def test_tiny_run_is_correct(workload):
    proc = _bench("--workload", workload)
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(E2E)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    table = {line.split()[1] for line in proc.stdout.splitlines()[:-1]}
    assert {"rows_per_s", "peak_rss_mb", "failed_ops_ratio"} <= table


def test_injected_wrong_result_is_a_failed_op():
    proc = _bench("--workload", "relational_mix", "--inject-wrong")
    assert proc.returncode == 1
    res = _result(proc)
    assert res["correct"] is False and res["failed"] == 1


def test_traced_run_reports_every_layer_metric():
    import layers

    proc = _bench("--workload", "hpv_etl", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = _result(proc)
    assert set(res["metrics"]) == set(layers.METRICS)
    assert "unavailable" not in proc.stdout


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hpv_etl", "--seed", "1",
         "--seconds", "1"], cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
