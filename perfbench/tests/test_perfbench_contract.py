"""BENCHMARK.json names exactly what the launcher reports."""

import json
import os

import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match_the_tracer():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.METRICS


def test_end_to_end_metrics_match_the_result_line():
    res = {"ops": [["q", 0.5, None, 0], ["q", 0.4, None, 1], ["q", 0.6, "wrong", 1]],
           "passes": [1.0, 1.2], "setup_s": 7.1, "cold_run_s": 2.0, "input_rows": 100,
           "peak_rss_mb": 900.0}
    metrics, table = run.end_to_end(res)
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == {
        k: v["unit"] for k, v in metrics.items()}
    assert metrics["setup_s"]["value"] == 7.1
    rows = {r[0]: r[1] for r in table}
    assert rows["rows_per_s"] == 100 / 1.1
    assert rows["failed_ops_ratio"] == 1 / 3


def test_every_listed_workload_exists():
    assert {w["name"] for w in _bench()["workloads"]} <= set(run.SIZES["full"])
