"""Spans around the calls into the engine, and Spark stage metrics per span.

``NullTracer`` serves untraced passes: its ``call`` is a plain call.
``Tracer`` records a span (name, start, end, parent, run id) for every
wrapped call, labels the Spark jobs the call triggers with the span name
(``setJobDescription``), and, for calls that only build a lazy DataFrame,
materializes the result with a ``noop`` write so that the layer's jobs run
inside its own span. The materialized result is persisted so a downstream
layer reads it instead of recomputing it under its own label.

Stage metrics come from the JVM status store (it is populated with
``spark.ui.enabled=false``): every job carries the description of the span
that triggered it, and each stage is attributed to the first job that lists
it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark import StorageLevel


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    def call(self, name, fn, *args, materialize=False, **kwargs):
        return fn(*args, **kwargs)

    @contextmanager
    def span(self, name):
        yield

    def release(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent.name if parent else None)

    def call(self, name, fn, *args, materialize=False, **kwargs):
        with self.span(name):
            out = fn(*args, **kwargs)
            if materialize:
                out = out.persist(StorageLevel.MEMORY_AND_DISK)
                out.write.format("noop").mode("overwrite").save()
                self._persisted.append(out)
        return out

    def release(self) -> None:
        """Unpersist what ``call`` materialized (end of a pass)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: Σ (duration − time covered by its child spans).

    Children of one span run one after another on the driver thread, so
    their covered time is the sum of their durations."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.dur - child[s.id]
    return out


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class StageRow:
    label: str
    job_start: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    tasks: int
    task_max_over_median: float


@dataclass
class JobRow:
    start: float
    end: float


def read_status_store(spark) -> tuple[list[JobRow], list[StageRow]]:
    """Every finished job and completed stage the status store retains."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs, stages, seen = [], [], set()
    for j in sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId()):
        d = j.description()
        label = d.get() if d.isDefined() else ""
        start, end = _ms(j.submissionTime()), _ms(j.completionTime())
        if start is not None and end is not None:
            jobs.append(JobRow(start, end))
        for sid in _seq(j.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle and ran nothing
            ratio = 1.0
            summ = store.taskSummary(sid, st.attemptId(), quantiles)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                ratio = mx / med if med > 0 else 1.0
            stages.append(
                StageRow(
                    label,
                    start or 0.0,
                    st.executorRunTime() / 1000.0,
                    st.executorCpuTime() / 1e9,
                    st.jvmGcTime() / 1000.0,
                    st.shuffleWriteBytes(),
                    st.shuffleReadBytes(),
                    st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    st.numCompleteTasks(),
                    ratio,
                )
            )
    return jobs, stages


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
