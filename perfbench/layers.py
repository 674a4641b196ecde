"""Per-layer metrics of a traced run.

Times come from the spans the tracer recorded around each call into the
engine; executor, GC, shuffle and task figures come from the Spark stages
the status store attributes to each span's label. Counts come from the
operators' outputs and filesystem listings (``Workload.trace_counts``).
Figures are per traced pass unless the name says otherwise. A layer the
workload does not run reads 0.
"""

from __future__ import annotations

import statistics
import time

from openllm_ocr_annotator_spark.kernel.merge import extract_document
from tracing import covered_s, read_status_store, self_times

EXTRACT = "operators.extract.extract_pipeline"
INCREMENT = "streaming.incremental.process_increment"

# every per-layer metric with its unit, in the order BENCHMARK.json lists them
UNITS = {
    "setup.session_s": "s",
    "setup.input_s": "s",
    "setup.warmup_s": "s",
    "setup.warmup_passes": "count",
    "kernel.docs_per_core_s": "docs/s",
    "kernel.spans_per_doc": "count",
    "extract.wall_s": "s",
    "extract.executor_run_s": "s",
    "extract.executor_cpu_s": "s",
    "extract.gc_s": "s",
    "extract.tasks": "count",
    "extract.task_max_over_median": "ratio",
    "extract.kernel_share": "ratio",
    "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_read_mb": "MB",
    "exchange.spill_mb": "MB",
    "exchange.stages": "count",
    "exchange.task_max_over_median": "ratio",
    "driver.jobs": "count",
    "driver.jobs_per_pass": "count",
    "driver.idle_s": "s",
    "tables.commit_s": "s",
    "tables.resume_filter_s": "s",
    "tables.latest_s": "s",
    "tables.snapshots": "count",
    "tables.files_written": "count",
    "tables.mb_written": "MB",
    "tables.commit_s_growth": "ratio",
    "tables.resend_dropped_ratio": "ratio",
    "incremental.increment_s": "s",
    "incremental.self_s": "s",
    "incremental.rows_committed": "count",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.pass_self_s": "s",
}


def kernel_probe(docs: list[list[dict]], min_s: float = 1.0) -> tuple[float, float]:
    """The pure-Python kernel alone, single-threaded in the driver, over the
    documents a workload extracts: (docs/s, output spans per doc)."""
    done = spans = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < min_s:
        for s in docs:
            spans += len(extract_document(s))
        done += len(docs)
    return done / (time.perf_counter() - t0), spans / done


def layer_metrics(wl, tracer, passes, session_s, input_s) -> dict[str, tuple[float, str]]:
    """Every metric in ``UNITS`` as (value, unit), from a finished traced run:
    its tracer's spans, the run's pass records and the status store."""
    roots = [s for s in tracer.spans if s.name == "pass"]
    n = len(roots)
    windows = [(s.start, s.end) for s in roots]

    def in_traced(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs, stages = read_status_store(wl.spark)
    jobs = [j for j in jobs if in_traced(j.start)]
    stages = [s for s in stages if in_traced(s.job_start)]
    dur: dict[str, float] = {}
    for s in tracer.spans:
        dur[s.name] = dur.get(s.name, 0.0) + s.dur
    selfs = self_times(tracer.spans)

    def per_pass(x: float) -> float:
        return x / n

    def span_s(name: str) -> float:
        return per_pass(dur.get(name, 0.0))

    ext = [s for s in stages if s.label == EXTRACT]
    ext_run = per_pass(sum(s.run_s for s in ext))
    exch = [s for s in stages if s.shuffle_read_b or s.shuffle_write_b]
    kernel_dps, spans_per_doc = kernel_probe(wl.kernel_docs())
    commits = [s for s in tracer.spans if s.name == "sources.tables.commit"]
    growth = []
    for a, b in windows:
        c = [s.dur for s in commits if a <= s.start <= b]
        if len(c) > 1:
            growth.append(c[-1] / c[0])
    increments = sum(1 for s in tracer.spans if s.name == INCREMENT)
    traced = [p for p in passes if p["kind"] == "traced" and not p["errors"]]
    untraced = [p["wall"] for p in passes if p["kind"] == "untraced" and not p["errors"]]
    counts: dict[str, float] = {}
    for p in traced:
        for k, v in p.get("counts", {}).items():
            counts[k] = counts.get(k, 0.0) + v / len(traced)
    warm = [p["wall"] for p in passes if p["kind"] == "warmup"]
    traced_p50 = statistics.median(p["wall"] for p in traced) if traced else 0.0
    untraced_p50 = statistics.median(untraced) if untraced else 0.0
    mb = 2.0**20

    m = {
        "setup.session_s": session_s,
        "setup.input_s": input_s,
        "setup.warmup_s": sum(warm),
        "setup.warmup_passes": len(warm),
        "kernel.docs_per_core_s": kernel_dps,
        "kernel.spans_per_doc": spans_per_doc,
        "extract.wall_s": span_s(EXTRACT),
        "extract.executor_run_s": ext_run,
        "extract.executor_cpu_s": per_pass(sum(s.cpu_s for s in ext)),
        "extract.gc_s": per_pass(sum(s.gc_s for s in ext)),
        "extract.tasks": per_pass(sum(s.tasks for s in ext)),
        "extract.task_max_over_median": max((s.task_max_over_median for s in ext), default=0.0),
        "extract.kernel_share": (
            wl.docs_per_pass / kernel_dps / ext_run if ext_run else 0.0
        ),
        "exchange.shuffle_write_mb": per_pass(sum(s.shuffle_write_b for s in stages)) / mb,
        "exchange.shuffle_read_mb": per_pass(sum(s.shuffle_read_b for s in stages)) / mb,
        "exchange.spill_mb": per_pass(sum(s.spill_b for s in stages)) / mb,
        "exchange.stages": per_pass(len(exch)),
        "exchange.task_max_over_median": max(
            (s.task_max_over_median for s in exch if s.shuffle_read_b), default=0.0
        ),
        "driver.jobs": len(jobs),
        "driver.jobs_per_pass": per_pass(len(jobs)),
        "driver.idle_s": per_pass(
            sum(b - a - covered_s([(j.start, j.end) for j in jobs], a, b) for a, b in windows)
        ),
        "tables.commit_s": span_s("sources.tables.commit"),
        "tables.resume_filter_s": span_s("sources.tables.resume_filter"),
        "tables.latest_s": span_s("sources.tables.latest"),
        "tables.snapshots": counts.get("tables.snapshots", 0.0),
        "tables.files_written": counts.get("tables.files_written", 0.0),
        "tables.mb_written": counts.get("tables.mb_written", 0.0),
        "tables.commit_s_growth": statistics.mean(growth) if growth else 0.0,
        "tables.resend_dropped_ratio": counts.get("tables.resend_dropped_ratio", 0.0),
        "incremental.increment_s": dur.get(INCREMENT, 0.0) / increments if increments else 0.0,
        "incremental.self_s": per_pass(selfs.get(INCREMENT, 0.0)),
        "incremental.rows_committed": counts.get("incremental.rows_committed", 0.0),
        "trace.pass_s": traced_p50,
        "trace.untraced_pass_s": untraced_p50,
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.pass_self_s": per_pass(selfs.get("pass", 0.0)),
    }
    return {k: (float(m[k]), UNITS[k]) for k in UNITS}
