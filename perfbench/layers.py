"""Per-layer metrics of a traced run.

Each metric comes from the spans, job-group counts and streaming
progress the traced workload recorded. A layer the workload does not
reach is measured on a one-pass tiny *probe* of the workload that does
(the table's note says which); its value then shows the layer's cost,
not this workload's.
"""

from __future__ import annotations

import statistics

import stats
from workloads import CORPUS_ENTRIES

LAYERS = ("session", "catalog", "sources", "plans", "artifacts", "operators", "streaming")
PROFILE_COUNTS = ("shuffle_bytes", "shuffle_records", "spill_bytes", "scan_bytes",
                  "n_exchanges")
STREAM_TIMINGS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
}

#: every per-layer metric name with its unit, in report order
METRICS: dict[str, str] = {
    "session.get_spark_s": "s",
    "catalog.entries_s": "s",
    "sources.load_table_s": "s",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_op": "count",
    "plans.stages_per_op": "count",
    "plans.tasks_per_op": "count",
    **{f"plans.{c}": "bytes" if c.endswith("bytes") else "count" for c in PROFILE_COUNTS},
    "sources.read_sheets_s": "s",
    "sources.sheet_cells_per_s": "cells/s",
    "plans.hpv_transform_s": "s",
    "sources.sink_write_s": "s",
    "sources.sink_bytes_per_row": "bytes",
    "sources.sink_files": "count",
    "artifacts.stage_s": "s",
    "artifacts.reuse_s": "s",
    "artifacts.stage_jobs": "count",
    **{f"operators.exec_s.{e}": "s" for e in CORPUS_ENTRIES},
    **{f"operators.output_rows.{e}": "count" for e in CORPUS_ENTRIES},
    **{k: "ms" for k in STREAM_TIMINGS},
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.batches": "count",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _from_trace(t: dict) -> dict[str, tuple[float, int]]:
    """``{metric: (value, samples)}`` for what one traced worker
    recorded (absent metrics are simply missing)."""
    spans, out = t["spans"], {}

    def named(pred):
        return [s for s in spans if pred(s["name"])]

    def med(name: str, pred) -> None:
        got = named(pred)
        if got:
            out[name] = (statistics.median([_dur(s) for s in got]), len(got))

    med("session.get_spark_s", lambda n: n == "session.get_spark")
    med("catalog.entries_s", lambda n: n == "catalog.entries")
    med("sources.load_table_s", lambda n: n == "sources.load_table")
    med("plans.build_s", lambda n: n == "plans.build")
    med("plans.plan_s", lambda n: n == "plans.plan")
    med("plans.exec_s", lambda n: n == "plans.exec" or n.startswith("operators.exec."))
    med("plans.hpv_transform_s", lambda n: n == "plans.hpv_transform")
    med("artifacts.stage_s", lambda n: n == "artifacts.stage")
    med("artifacts.reuse_s", lambda n: n == "artifacts.reuse")
    for e in CORPUS_ENTRIES:
        med(f"operators.exec_s.{e}", lambda n, e=e: n == f"operators.exec.{e}")
        rows = [s["counts"]["rows"] for s in named(lambda n, e=e: n == f"operators.exec.{e}")]
        if rows:
            out[f"operators.output_rows.{e}"] = (statistics.median(rows), len(rows))
    if t["jobs"]:
        n = len(t["jobs"])
        for i, k in enumerate(("jobs", "stages", "tasks")):
            out[f"plans.{k}_per_op"] = (sum(j[i] for j in t["jobs"]) / n, n)
    prof = named(lambda n: n == "plans.profile")
    if prof:
        for c in PROFILE_COUNTS:
            out[f"plans.{c}"] = (sum(s["counts"][c] for s in prof), len(prof))
    sheets = named(lambda n: n == "sources.read_sheets")
    if sheets:
        d = sum(_dur(s) for s in sheets)
        out["sources.read_sheets_s"] = (statistics.median([_dur(s) for s in sheets]), len(sheets))
        out["sources.sheet_cells_per_s"] = (sum(s["counts"]["cells"] for s in sheets) / d,
                                            len(sheets))
    sinks = named(lambda n: n == "sources.sink_write")
    if sinks:
        rows = sum(s["counts"]["rows"] for s in sinks)
        out["sources.sink_write_s"] = (sum(_dur(s) for s in sinks), len(sinks))
        out["sources.sink_bytes_per_row"] = (
            sum(s["counts"]["bytes"] for s in sinks) / max(rows, 1), len(sinks))
        out["sources.sink_files"] = (sum(s["counts"]["files"] for s in sinks), len(sinks))
    stage = named(lambda n: n == "artifacts.stage")
    if stage:
        out["artifacts.stage_jobs"] = (statistics.median([s["counts"]["jobs"] for s in stage]),
                                       len(stage))
    prog = t.get("progress") or []
    if prog:
        for name, key in STREAM_TIMINGS.items():
            vals = [p["durationMs"].get(key, 0) for p in prog]
            out[name] = (statistics.median(vals), len(vals))
        last = prog[-1].get("stateOperators", [])
        out["streaming.state_rows"] = (sum(o.get("numRowsTotal", 0) for o in last), 1)
        out["streaming.state_memory_bytes"] = (
            sum(o.get("memoryUsedBytes", 0) for o in last), 1)
        out["streaming.rows_dropped_by_watermark"] = (
            sum(o.get("numRowsDroppedByWatermark", 0)
                for p in prog for o in p.get("stateOperators", [])), len(prog))
        out["streaming.batches"] = (len(prog), len(prog))
    for layer, v in stats.self_times(spans).items():
        if layer in LAYERS:
            out[f"self_s.{layer}"] = (v, sum(1 for s in spans if s["layer"] == layer))
    return out


def per_layer(res: dict, probes: dict[str, dict]) -> tuple[dict, list[tuple]]:
    """Per-layer metrics of a traced run: from the workload's own trace,
    else from the probe that reaches the layer."""
    own = _from_trace(res)
    traced = [p for p, t in zip(res["passes"], res["traced_passes"]) if t]
    untraced = [p for p, t in zip(res["passes"], res["traced_passes"]) if not t]
    if traced and untraced:
        own["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced),
                                   len(res["passes"]))
    found = {name: (v, n, "workload") for name, (v, n) in own.items()}
    for probe, t in sorted(probes.items()):
        for name, (v, n) in _from_trace(t).items():
            found.setdefault(name, (v, n, f"probe:{probe}"))
    metrics, table = {}, []
    for name, unit in METRICS.items():
        v, n, src = found.get(name, (0.0, 0, "unavailable"))
        metrics[name] = {"value": v, "unit": unit}
        table.append((name, v, unit, n, src))
    return metrics, table
