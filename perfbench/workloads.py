"""The benchmark's workloads, run inside one worker process.

A workload runs *passes*; a pass is a sequence of *ops* (closed loop,
one client: each op starts when the previous one returned). Every op's
output is checked; a wrong output or an exception is a failed op. Time
spent checking is excluded from op latencies and pass times.

Spans are recorded around the benchmark's own calls into the package's
public functions; the span name's first component is the layer.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import expected as exp

EXTRACT_DATE = dt.date(2026, 1, 15)

#: relational_mix: the TPC-H-style and window headline entries, with
#: the fact tables whose rows each one scans (the rows_per_s base)
RELATIONAL_QUERIES = {
    "pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier_volume": ("customer", "orders", "lineitem"),
    "q6_forecast_revenue": ("lineitem",),
    "q10_returned_items": ("customer", "orders", "lineitem"),
    "join_fact_fact": ("orders", "lineitem"),
    "join_broadcast_dims": ("customer",),
    "cube_pricing_rollup": ("lineitem",),
    "window_topk_per_group": ("orders",),
    "range_join_events": ("events",),
    "asof_join_signup": ("events",),
    "global_index_orders": ("orders",),
    "stream_tumbling_counts": ("events",),
    "stream_session_windows": ("events",),
}

CORPUS_ENTRIES = ("dedup_minhash_lsh", "llm_corpus_pipeline", "dedup_incremental_fast")
LSH_THRESHOLD = 0.8
PIPELINE_THRESHOLD = 0.9


class Workload:
    """Shared op/pass machinery; subclasses implement ``ops_for_pass``.

    ``inject_wrong`` corrupts the first op's output before its check —
    the self-test that a wrong result is caught as a failed op."""

    name = ""

    def __init__(self, spark, spec: dict, tracer, inject_wrong: bool = False):
        self.spark = spark
        self.spec = spec
        self.inputs = spec["inputs"]
        self.tracer = tracer
        self.inject_wrong = inject_wrong
        #: one ``[kind, latency_s, fault or None, pass index]`` per op
        self.ops: list[list] = []
        self.check_s = 0.0
        self._n_ops = 0
        self.jobs: list[tuple[int, int, int]] = []

    # ---- hooks
    def ops_for_pass(self, idx: int):
        """Yield ``(kind, body, check)``: ``body()`` runs the op and
        returns its output, ``check(output)`` returns None or a fault."""
        raise NotImplementedError

    def before_pass(self, idx: int) -> None:
        """Per-pass work that is part of the pass (e.g. cache clears)."""

    def input_rows(self) -> int:
        raise NotImplementedError

    def trace_probes(self) -> None:
        """Traced-run-only calls that isolate single layers."""

    # ---- machinery
    def run_pass(self, idx: int) -> float:
        t0 = time.perf_counter()
        check0 = self.check_s
        self.before_pass(idx)
        for kind, body, check in self.ops_for_pass(idx):
            self._run_op(kind, body, check, idx)
        return time.perf_counter() - t0 - (self.check_s - check0)

    def _run_op(self, kind, body, check, idx: int) -> None:
        self._n_ops += 1
        op_id = self._n_ops
        self.tracer.op_id = op_id
        group = f"perfbench-op-{op_id}"
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            out = body()
            latency = time.perf_counter() - t0
            c0 = time.perf_counter()
            if self.inject_wrong and op_id == 1:
                out = _corrupt(out)
            error = check(out)
            self.check_s += time.perf_counter() - c0
        except Exception as e:  # noqa: BLE001 — any failure is a failed op
            latency = time.perf_counter() - t0
            error = f"{type(e).__name__}: {str(e)[:300]}"
        self.tracer.op_id = None
        if self.tracer.enabled:
            self.jobs.append(job_group_counts(self.spark, group))
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append([kind, latency, error, idx])

    def span(self, name: str, **counts):
        return self.tracer.span(name, **counts)


def _corrupt(out):
    if isinstance(out, dict):
        return {**out, "hash": "corrupted", "rows": out.get("rows", 0) + 1}
    if isinstance(out, int):
        return out + 1
    if isinstance(out, list):
        return out[:-1] if out else [-1]
    return None


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            stages += 1
            tasks += si.numTasks if si else 0
    return len(jobs), stages, tasks


def _arrow_rows(path: str, year: int | None = None) -> tuple[list[str], list[tuple]]:
    """Read a parquet sink output with pyarrow (hive partitions
    included), optionally one academic-year partition only."""
    import pyarrow.dataset as ds

    data = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("ACADEMIC_YEAR_END_DATE") == year if year is not None else None
    t = data.to_table(filter=flt)
    cols = t.column_names
    rows = list(zip(*(t.column(c).to_pylist() for c in cols)))
    return cols, rows


# ------------------------------------------------------------- hpv_etl


class HpvEtl(Workload):
    """The paper's pipeline: a full truncate-load of every workbook, then
    a dynamic-partition reload of one academic year's workbooks."""

    name = "hpv_etl"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from hpv_etl_code_spark.plans.job import JobConfig, run_hpv_job

        self._cfg, self._run = JobConfig, run_hpv_job
        self.dir = self.inputs["workbook_dir"]
        self.year_order = list(self.inputs["years"])
        random.Random(self.spec["seed"]).shuffle(self.year_order)
        self.full_out = os.path.join(self.spec["work_dir"], "hpv_full")
        self.part_out = os.path.join(self.spec["work_dir"], "hpv_by_year")
        self.loaded: set[int] = set()

    def input_rows(self) -> int:
        i = self.inputs
        return i["cells_total"] + i["cells_per_year"]

    def ops_for_pass(self, idx: int):
        want = self.inputs["expected"]
        year = self.year_order[idx % len(self.year_order)]

        def load(glob: str, out: str, incremental: bool) -> int:
            with self.span("plans.run_hpv_job"):
                return self._run(self.spark, self._cfg(
                    os.path.join(self.dir, glob), out, EXTRACT_DATE,
                    incremental_by_year=incremental))

        def check_full(n) -> str | None:
            if n != want["all"]["rows"]:
                return f"{n} rows written, expected {want['all']['rows']}"
            return _digest_fault(exp.result_digest(*_arrow_rows(self.full_out)), want["all"])

        def check_incremental(n) -> str | None:
            # the reloaded year is replaced, every earlier year untouched
            self.loaded.add(year)
            total = sum(want[str(y)]["rows"] for y in self.loaded)
            if n != total:
                return f"{n} rows in the partitioned sink, expected {total}"
            for y in sorted(self.loaded):
                fault = _digest_fault(
                    exp.result_digest(*_arrow_rows(self.part_out, y)), want[str(y)])
                if fault:
                    return f"year {y}: {fault}"
            return None

        yield "full_load", lambda: load("hpv_*.xlsx", self.full_out, False), check_full
        yield ("incremental_load",
               lambda: load(f"hpv_{year}_*.xlsx", self.part_out, True), check_incremental)

    def trace_probes(self) -> None:
        from hpv_etl_code_spark.plans.job import melted_to_final
        from hpv_etl_code_spark.plans.profile import materialize
        from hpv_etl_code_spark.sources.sheets import read_sheets_excel
        from hpv_etl_code_spark.sources.sinks import overwrite_parquet

        glob = os.path.join(self.dir, "hpv_*.xlsx")
        with self.span("sources.read_sheets", cells=0) as c:
            melted = read_sheets_excel(self.spark, glob)
            c["cells"] = materialize(melted)
        staged = melted.localCheckpoint(eager=True)
        with self.span("plans.hpv_transform"):
            materialize(melted_to_final(staged, EXTRACT_DATE))
        with self.span("plans.build"):
            final = melted_to_final(read_sheets_excel(self.spark, glob), EXTRACT_DATE)
        with self.span("plans.plan"):
            final._jdf.queryExecution().executedPlan()
        with self.span("plans.exec"):
            materialize(final)
        profile_span(self, "plans.profile",
                     melted_to_final(read_sheets_excel(self.spark, glob), EXTRACT_DATE))
        final_staged = melted_to_final(staged, EXTRACT_DATE).localCheckpoint(eager=True)
        for mode in ("full", "dynamic"):
            path = os.path.join(self.spec["work_dir"], f"sink_probe_{mode}")
            with self.span("sources.sink_write", rows=0, mode=mode) as c:
                c["rows"] = overwrite_parquet(
                    final_staged, path,
                    partition_by=("ACADEMIC_YEAR_END_DATE",) if mode == "dynamic" else None,
                    dynamic=mode == "dynamic")
            files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                     for f in fs if f.endswith(".parquet")]
            c["files"] = len(files)
            c["bytes"] = sum(os.path.getsize(f) for f in files)


def _digest_fault(got, want: dict) -> str | None:
    if not isinstance(got, dict):
        return "no result"
    if got.get("columns") != want["columns"]:
        return f"columns {got.get('columns')} != {want['columns']}"
    if got.get("rows") != want["rows"]:
        return f"{got.get('rows')} rows, expected {want['rows']}"
    if got.get("hash") != want["hash"]:
        return "values differ from the expected output"
    return None


def profile_span(w: Workload, name: str, df) -> None:
    """Run ``execute_and_profile`` on ``df`` inside a span carrying the
    plan's runtime counters."""
    from hpv_etl_code_spark.plans.profile import execute_and_profile

    with w.span(name) as c:
        p = execute_and_profile(df)
        c.update(shuffle_bytes=p.shuffle_bytes, shuffle_records=p.shuffle_records,
                 spill_bytes=p.spill_bytes, scan_bytes=p.scan_bytes,
                 n_exchanges=p.n_exchanges)


# ------------------------------------------------------ relational_mix


class RelationalMix(Workload):
    """Catalog headline queries in a seeded shuffled order; each op is
    build (``fn(spark, sf)``), plan (``executedPlan``), materialize."""

    name = "relational_mix"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from hpv_etl_code_spark import catalog
        from hpv_etl_code_spark.plans.profile import materialize

        self.fns = {n: catalog.entries()[n].fn for n in self.inputs["queries"]}
        self.materialize = materialize
        self.sf = self.inputs["sf_dir"]
        self.rng = random.Random(self.spec["seed"])
        self.verified: set[str] = set()

    def input_rows(self) -> int:
        rows = self.inputs["table_rows"]
        return sum(rows[t] for q in self.fns for t in RELATIONAL_QUERIES[q])

    def ops_for_pass(self, idx: int):
        order = sorted(self.fns)
        self.rng.shuffle(order)
        for name in order:
            yield name, (lambda n=name: self._op(n)), (lambda got, n=name: self._check(n, got))

    def _op(self, name: str):
        with self.span("plans.build"):
            df = self.fns[name](self.spark, self.sf)
        with self.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.span("plans.exec"):
            n = self.materialize(df)
        return df, n

    def _check(self, name: str, got) -> str | None:
        want = self.inputs["expected"][name]
        df, n = got if isinstance(got, tuple) else (None, got)
        if n != want["rows"]:
            return f"{n} rows, expected {want['rows']}"
        if name not in self.verified:
            # first execution in the run: full order-insensitive value
            # hash against the DuckDB twin; later ones check row counts
            fault = _digest_fault(
                exp.result_digest(df.columns, [tuple(r) for r in df.collect()]), want)
            if fault:
                return fault
            self.verified.add(name)
        return None

    def trace_probes(self) -> None:
        from hpv_etl_code_spark.sources.registry import load_table

        tables = sorted({t for q in self.fns for t in RELATIONAL_QUERIES[q]})
        for t in tables:
            with self.span("sources.load_table", table=t):
                load_table(self.spark, self.sf, t).schema
        for name in sorted(self.fns):
            profile_span(self, "plans.profile", self.fns[name](self.spark, self.sf))


# -------------------------------------------------------- corpus_dedup


class CorpusDedup(Workload):
    """The LLM-data corpus entries from empty caches: each pass clears
    the shared and artifact caches, so its first entry pays staging and
    the later ones reuse it."""

    name = "corpus_dedup"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from hpv_etl_code_spark import catalog
        from hpv_etl_code_spark.plans import artifacts, shared_cache
        from hpv_etl_code_spark.plans.profile import materialize

        self.fns = {n: catalog.entries()[n].fn for n in CORPUS_ENTRIES}
        self.artifacts, self.shared_cache = artifacts, shared_cache
        self.materialize = materialize
        self.sf = self.inputs["sf_dir"]
        self.first: dict[str, int] = {}
        self._docs = None

    def input_rows(self) -> int:
        return self.inputs["n_docs"] * len(CORPUS_ENTRIES)

    def docs(self) -> list[dict]:
        if self._docs is None:
            import pyarrow.parquet as pq

            self._docs = pq.read_table(
                os.path.join(self.sf, "documents.parquet"), columns=["doc_id", "text"]
            ).to_pylist()
        return self._docs

    def before_pass(self, idx: int) -> None:
        self.shared_cache.clear_cache()
        self.artifacts.clear_cache()
        if self.tracer.enabled:
            # attribute staging and reuse to the artifacts layer; the
            # entries below then read the staged frames
            for label in ("artifacts.stage", "artifacts.reuse"):
                group = f"perfbench-{label}-{idx}"
                self.spark.sparkContext.setJobGroup(group, label)
                with self.span(label) as c:
                    self.shared_cache.enriched_documents(self.spark, self.sf)
                    self.shared_cache.pipeline_exact_deduped(self.spark, self.sf)
                    self.shared_cache.pipeline_grouped(self.spark, self.sf)
                c["jobs"] = job_group_counts(self.spark, group)[0]
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def ops_for_pass(self, idx: int):
        for name in CORPUS_ENTRIES:
            yield name, (lambda n=name: self._op(n)), (lambda got, n=name: self._check(n, got))

    def _op(self, name: str):
        with self.span("plans.build"):
            df = self.fns[name](self.spark, self.sf)
        with self.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.span(f"operators.exec.{name}") as c:
            n = self.materialize(df)
            c["rows"] = n
        return df, n

    def _check(self, name: str, got) -> str | None:
        df, n = got if isinstance(got, tuple) else (None, got)
        if name in self.first:
            # later passes: same input, same caches cleared → same count
            return None if n == self.first[name] else (
                f"{n} rows, first pass gave {self.first[name]}")
        if df is None:
            return "no result"
        fault = self._verify(name, df)
        if fault is None:
            self.first[name] = n
        return fault

    def _verify(self, name: str, df) -> str | None:
        if name == "dedup_minhash_lsh":
            a, b = df.columns[0], df.columns[1]
            got = {(min(r[0], r[1]), max(r[0], r[1])) for r in df.select(a, b).collect()}
            want = {tuple(p) for p in self.inputs["expected_pairs"]}
            if got != want:
                return (f"{len(got)} pairs, {len(want)} pairs at Jaccard ≥ "
                        f"{LSH_THRESHOLD} by brute force")
            return None
        ids = [r[0] for r in df.select("doc_id" if "doc_id" in df.columns
                                       else df.columns[0]).collect()]
        if name == "llm_corpus_pipeline":
            return exp.check_survivors_nondup(self.docs(), ids, PIPELINE_THRESHOLD)
        return exp.check_incremental(self.docs(), ids)

    def trace_probes(self) -> None:
        from hpv_etl_code_spark.sources.registry import load_table

        with self.span("sources.load_table", table="documents"):
            load_table(self.spark, self.sf, "documents").schema
        for name in CORPUS_ENTRIES:
            profile_span(self, "plans.profile", self.fns[name](self.spark, self.sf))


# -------------------------------------------------------- event_stream


class EventStream(Workload):
    """Parquet drops streamed through read_events_stream →
    dedup_within_watermark → tumbling_counts into a memory sink
    (availableNow, fresh checkpoint). Each micro-batch is one op."""

    name = "event_stream"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.drops = self.inputs["drop_dir"]
        self.schema = self.spark.read.parquet(self.drops).schema
        self.progress: list[dict] = []

    def input_rows(self) -> int:
        return self.inputs["n_delivered"]

    def run_pass(self, idx: int) -> float:
        # ops are the micro-batches, timed by Spark's own progress
        # reports; the pass is start → last batch committed
        from hpv_etl_code_spark.streaming.stream import (
            dedup_within_watermark,
            read_events_stream,
        )
        from hpv_etl_code_spark.streaming.windows import tumbling_counts

        name = f"perfbench_stream_{idx}"
        ckpt = os.path.join(self.spec["work_dir"], f"ckpt_{idx}")
        t0 = time.perf_counter()
        error = None
        progress: list[dict] = []
        try:
            with self.span("streaming.build"):
                stream = read_events_stream(self.spark, self.drops, self.schema)
                counts = tumbling_counts(
                    dedup_within_watermark(stream, ["event_id"]), duration="1 hour")
            with self.span("streaming.run"):
                q = (counts.writeStream.format("memory").queryName(name)
                     .outputMode("complete").option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
            progress = [_plain(p) for p in q.recentProgress]
        except Exception as e:  # noqa: BLE001
            error = f"{type(e).__name__}: {str(e)[:300]}"
        pass_s = time.perf_counter() - t0
        c0 = time.perf_counter()
        if error is None:
            table = self.spark.table(name)
            got = exp.result_digest(table.columns, [tuple(r) for r in table.collect()])
            if self.inject_wrong and idx == 0:
                got = _corrupt(got)
            error = _digest_fault(got, self.inputs["expected"])
            self.spark.sql(f"DROP VIEW IF EXISTS {name}")
        self.check_s += time.perf_counter() - c0
        batches = progress or [{"durationMs": {"triggerExecution": pass_s * 1000}}]
        for i, p in enumerate(batches):
            lat = p["durationMs"].get("triggerExecution", 0) / 1000.0
            # the last batch completes the result: a wrong result fails it
            self.ops.append(["micro_batch", lat, error if i == len(batches) - 1 else None,
                             idx])
        self.progress.extend(progress)
        return pass_s

    def trace_probes(self) -> None:
        from hpv_etl_code_spark.streaming.windows import tumbling_counts

        profile_span(self, "plans.profile",
                     tumbling_counts(self.spark.read.parquet(self.drops), duration="1 hour"))


def _plain(progress) -> dict:
    """A streaming progress report as plain JSON data."""
    import json

    raw = progress.json if hasattr(progress, "json") else json.dumps(progress, default=str)
    return json.loads(raw)


WORKLOADS = {w.name: w for w in (HpvEtl, RelationalMix, CorpusDedup, EventStream)}
