"""One benchmark process: set up Spark, run one workload, write results.

Started by ``run.py`` in a fresh process with the run's environment
(``PERFBENCH_T0`` holds the wall-clock time just before the spawn, so
``setup_s`` covers interpreter start, imports, the SparkSession and the
catalog). Usage: ``python3 worker.py <spec.json>``; the spec names the
workload, its generated inputs and the result path.
"""

from __future__ import annotations

import json
import os
import sys
import time

import stats
import workloads

PASS_FLOOR = 2  # warm passes measured even when the window is shorter


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def main(spec_path: str) -> int:
    t0 = float(os.environ["PERFBENCH_T0"])
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = stats.Tracer(bool(spec["trace"]))

    with tracer.span("session.get_spark"):
        from hpv_etl_code_spark.session import get_spark

        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    with tracer.span("catalog.entries"):
        from hpv_etl_code_spark import catalog

        catalog.entries()
    setup_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    w = workloads.WORKLOADS[spec["workload"]](
        spark, spec, tracer, inject_wrong=spec.get("inject_wrong", False))
    result = {"setup_s": setup_s, **_run(w, spec, tracer)}
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    result["peak_rss_mb"] = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
    if tracer.enabled:
        result.update(_trace_record(w, tracer))
        result["probes"] = {}
        for other, inputs in spec.get("probes", {}).items():
            # one traced pass of another workload at tiny size, for the
            # layers this workload does not reach
            pt = stats.Tracer(True)
            pw = workloads.WORKLOADS[other](
                spark, {**spec, "workload": other, "inputs": inputs}, pt)
            pw.run_pass(0)
            pw.trace_probes()
            result["probes"][other] = _trace_record(pw, pt)
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(result, f)
    return 0


def _trace_record(w: workloads.Workload, tracer: stats.Tracer) -> dict:
    return {
        "spans": tracer.spans,
        "jobs": w.jobs,
        "progress": getattr(w, "progress", []),
        "ops": w.ops,
    }


def _run(w: workloads.Workload, spec: dict, tracer: stats.Tracer) -> dict:
    """The cold pass, then warm passes until ``seconds`` have passed and
    at least ``PASS_FLOOR`` ran."""
    traced = bool(spec["trace"])
    cold_s = w.run_pass(0)
    passes: list[float] = []
    traced_flags: list[bool] = []
    window0 = time.perf_counter()
    while len(passes) < PASS_FLOOR or time.perf_counter() - window0 < spec["seconds"]:
        # a traced run alternates untraced and traced passes; the
        # difference of their medians is the tracing overhead
        tracer.enabled = traced and len(passes) % 2 == 1
        passes.append(w.run_pass(1 + len(passes)))
        traced_flags.append(tracer.enabled)
    tracer.enabled = traced
    if traced:
        w.trace_probes()
    return {
        "cold_run_s": cold_s,
        "passes": passes,
        "traced_passes": traced_flags,
        "input_rows": w.input_rows(),
        "ops": w.ops,
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
