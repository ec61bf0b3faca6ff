"""Benchmark of record for hpv_etl_code_spark.

    python3 perfbench/run.py --workload hpv_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. For one workload it: writes seeded inputs
into a fresh per-run directory under ``.perfbench/``; computes the
expected outputs independently of the package; runs the workload in a
fresh worker process (``worker.py``) with a hermetic environment;
prints one line per metric (name, value, unit, samples) and, as the
last line, a JSON object ``{"correct", "attempted", "failed",
"metrics"}``. The per-run
directory is removed afterwards. ``--trace 1`` reports the per-layer
metrics instead and writes the spans to ``.perfbench/traces/``.

Exit status: 0 when every op's output was correct, 1 when any op failed
or returned a wrong output, 2 when the package or a worker is missing
or broken (nothing is printed on stdout then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

#: a run must end within this many seconds of its start
RUN_DEADLINE_S = 170

#: input sizes per workload; "tiny" is the smoke-test size
SIZES = {
    "full": {
        "hpv_etl": {"years": 6, "files_per_year": 6, "boroughs_per_file": 100},
        "relational_mix": {"sf": 0.01},
        "corpus_dedup": {"n_docs": 2000},
        "event_stream": {"n_events": 40_000, "drops": 32},
    },
    "tiny": {
        "hpv_etl": {"years": 2, "files_per_year": 2, "boroughs_per_file": 8},
        "relational_mix": {"sf": 0.002},
        "corpus_dedup": {"n_docs": 150},
        "event_stream": {"n_events": 2_000, "drops": 4},
    },
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def hermetic_env(work: str) -> dict[str, str]:
    """The workers' environment: everything Spark, the artifact stager
    and Python workers write lands in ``work``; artifact reuse across
    runs stays off; parallelism is the machine's cores."""
    env = dict(os.environ)
    for sub in ("spark-local", "artifacts", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env.pop("SPARK_GRAFT_ARTIFACT_REUSE", None)
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
        SPARK_GRAFT_CPUS=str(_nproc()),
        # Python workers (mapInPandas) import the package from here
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        TZ="UTC",
        # a capped heap keeps the JVM's resident set (peak_rss_mb) from
        # following run-to-run differences in heap growth
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONHASHSEED="0",
    )
    return env


def prepare(workload: str, seed: int, size: str, work: str) -> dict:
    """Generate the workload's inputs under ``work`` and compute the
    expected outputs; returns the spec's ``inputs``."""
    import expected as exp
    import gen
    import workloads as wl

    p = SIZES[size][workload]
    data = os.path.join(work, "data")
    if workload == "hpv_etl":
        files = gen.write_workbooks(data, seed, **p)
        years = sorted({f["year"] for f in files})
        rows = exp.hpv_rows(files, wl.EXTRACT_DATE)
        want = {"all": exp.hpv_digest(rows)}
        for y in years:
            want[str(y)] = exp.hpv_digest([r for r in rows if r[5] == y])
        cells = sum(len(r) - 1 for f in files for r in f["grid"][3:])
        return {"workbook_dir": data, "years": years, "expected": want,
                "cells_total": cells, "cells_per_year": cells // len(years)}
    if workload == "relational_mix":
        from hpv_etl_code_spark import catalog

        counts = gen.write_star_schema(data, seed, p["sf"])
        sqls = {n: catalog.oracle_sql()[n] for n in wl.RELATIONAL_QUERIES}
        return {"sf_dir": data, "queries": list(wl.RELATIONAL_QUERIES),
                "table_rows": counts, "expected": exp.oracle_digests(data, sqls)}
    if workload == "corpus_dedup":
        docs = gen.write_documents(data, seed, p["n_docs"])
        return {"sf_dir": data, "n_docs": len(docs),
                "expected_pairs": sorted(exp.near_dup_pairs(docs, wl.LSH_THRESHOLD))}
    if workload == "event_stream":
        import pyarrow.parquet as pq

        events = gen.write_event_drops(data, seed, p["n_events"], p["drops"])
        delivered = sum(pq.read_metadata(os.path.join(data, f)).num_rows
                        for f in os.listdir(data))
        return {"drop_dir": data, "n_delivered": delivered,
                "expected": exp.tumbling_digest(events)}
    raise KeyError(workload)


#: printed but not in the result line. rows_per_s is input rows / run_s,
#: so gating it beside run_s would gate one measurement twice;
#: failed_ops_ratio is 0 on a correct run (the line carries
#: failed/attempted); the JVM's VmHWM on identical work splits between
#: ~1.05 and ~1.4 GB from run to run (heap growth steps), a spread wider
#: than any bound a regression gate allows
TABLE_ONLY = ("rows_per_s", "peak_rss_mb", "failed_ops_ratio")

START = time.monotonic()


def spawn(spec: dict, work: str, env: dict, tag: str) -> dict:
    """Run one worker to completion in its own process group; returns
    its result or raises with the tail of its log."""
    spec_path = os.path.join(work, f"spec-{tag}.json")
    spec = {**spec, "result": os.path.join(work, f"result-{tag}.json")}
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(work, f"worker-{tag}.log")
    with open(log_path, "w") as log:
        env = {**env, "PERFBENCH_T0": repr(time.time())}
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(RUN_DEADLINE_S - (time.monotonic() - START), 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and Python workers share the worker's group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if rc != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker {tag} exited with {rc}:\n{tail}")
    with open(spec["result"]) as f:
        return json.load(f)


def end_to_end(res: dict) -> tuple[dict, list[tuple]]:
    """The end-to-end metrics and the rows of the printed table."""
    warm = [o[1] for o in res["ops"] if o[3] > 0]
    run_s = statistics.median(res["passes"])
    label, tail = stats.tail_percentile(warm, 90)
    ops = res["ops"]
    failed = sum(1 for o in ops if o[2])
    m = {
        "setup_s": (res["setup_s"], "s", 1, "spawn to session + catalog"),
        "cold_run_s": (res["cold_run_s"], "s", 1, "first pass"),
        "run_s": (run_s, "s", len(res["passes"]), "median warm pass"),
        "rows_per_s": (res["input_rows"] / run_s, "rows/s", len(res["passes"]),
                       f"{res['input_rows']} input rows per pass; table only"),
        "op_p50_s": (statistics.median(warm), "s", len(warm), "median warm op"),
        "op_p90_s": (tail, "s", len(warm), f"reports {label}" + (
            " (fewer than 11 ops)" if label == "max" else " (>= 10 samples beyond)")),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1,
                        "driver JVM + Python VmHWM; table only"),
        "failed_ops_ratio": (failed / len(ops), "ratio", len(ops),
                             "table only: see failed/attempted"),
    }
    metrics = {k: {"value": v[0], "unit": v[1]} for k, v in m.items()
               if k not in TABLE_ONLY}
    return metrics, [(k, *v) for k, v in m.items()]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt the first op's output (self-test of the checks)")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hpv_etl_code_spark", "__init__.py")):
        return _fail(f"package hpv_etl_code_spark not found under {ROOT}")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        sys.path.insert(0, ROOT)
        try:
            inputs = prepare(a.workload, a.seed, a.size, work)
        except ImportError as e:
            return _fail(f"cannot prepare inputs: {e}")
        env = hermetic_env(work)
        spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "inputs": inputs, "work_dir": work,
                "inject_wrong": a.inject_wrong}
        try:
            if a.trace:
                spec["probes"] = {
                    other: prepare(other, a.seed, "tiny", os.path.join(work, other))
                    for other in sorted(SIZES["tiny"]) if other != a.workload}
            res = spawn(spec, work, env, "run")
        except RuntimeError as e:
            return _fail(str(e))
        probes = res.get("probes", {})
        ops = res["ops"] + [o for p in probes.values() for o in p["ops"]]
        failed = [o for o in ops if o[2]]
        for o in failed[:5]:
            print(f"perfbench: failed op {o[0]} (pass {o[3]}): {o[2]}", file=sys.stderr)
        if a.trace:
            metrics, table = layers.per_layer(res, probes)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            out = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json")
            with open(out, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                           "spans": res["spans"],
                           "probe_spans": {k: p["spans"] for k, p in probes.items()}}, f)
        else:
            metrics, table = end_to_end(res)
        for name, value, unit, n, note in table:
            print(f"{a.workload:15s} {name:40s} {value:14.6g} {unit:7s} n={n:<5d} {note}")
        print(json.dumps({"correct": not failed, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}))
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
