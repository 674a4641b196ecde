"""The workloads. Each drives the engine's public functions through one
stage of the pipeline: batch extraction, and resumable increments.

A workload generates its inputs from the seed (``generate``), runs one pass
(``run_pass``: the timed part) and checks a pass's output against an
independent restatement (``check``: never timed). Calls into the engine go
through the tracer, which is a plain call in untraced runs.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from openllm_ocr_annotator_spark import synth
from openllm_ocr_annotator_spark.kernel.merge import extract_document
from openllm_ocr_annotator_spark.operators.extract import extract_pipeline, lineage_global
from openllm_ocr_annotator_spark.sources.tables import SnapshotTable
from openllm_ocr_annotator_spark.streaming import incremental


@dataclass
class PassOut:
    result: object = None
    batches: list[float] = field(default_factory=list)  # per-increment wall times


SPAN_TABLE = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32())]))),
    ]
)


def _write_parquet(df, path: str, schema=None, files: int = 1) -> None:
    """Write ``df`` as ``files`` parquet files of consecutive rows."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-len(table) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, skipping Spark's checksum side files."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def _spans_of(flat, replicate: int = 1) -> list[tuple[str, list[dict]]]:
    """The pure-Python synthesis rule, row for row what synth's Spark
    expansion produces."""
    return [
        (f"doc_{int(d) * replicate + r:010d}", synth.make_spans(int(d) * replicate + r, t))
        for d, t in zip(flat["doc_id"], flat["text"])
        for r in range(replicate)
    ]


def span_sizes(docs: list[tuple[str, list[dict]]]) -> dict:
    spans = [s for _, ss in docs for s in ss]
    return {
        "docs": len(docs),
        "spans": len(spans),
        "bytes": sum(len(s["text"].encode()) + len(s["media_ref"].encode()) for s in spans),
    }


class Workload:
    name = ""
    docs_per_pass = 0

    def __init__(self, spark, slots: int) -> None:
        self.spark = spark
        self.slots = slots

    def generate(self, root: str, seed: int) -> None:
        raise NotImplementedError

    def run_pass(self, tr, out_dir: str) -> PassOut:
        raise NotImplementedError

    def check(self, out: PassOut, out_dir: str) -> list[str]:
        raise NotImplementedError

    def sizes(self) -> dict:
        raise NotImplementedError

    def trace_counts(self, out: PassOut, out_dir: str) -> dict:
        """Per-layer counts of one traced pass, from its outputs."""
        return {}

    def kernel_docs(self) -> list[list[dict]]:
        """The span lists this workload extracts, for the kernel probe."""
        raise NotImplementedError


# -- extract_batch ------------------------------------------------------------


class ExtractBatch(Workload):
    """Span table (with ~1% mega-docs) → extract_pipeline → lineage_global."""

    name = "extract_batch"
    BASE_DOCS = 2000
    REPLICATE = 4
    SAMPLE = 40  # documents extracted and compared row for row once per run
    docs_per_pass = BASE_DOCS * REPLICATE

    def generate(self, root: str, seed: int) -> None:
        self.seed = seed
        self.flat = inputs.flat_documents(seed, self.BASE_DOCS)
        spans = synth.make_documents_pdf(self.flat, replicate=self.REPLICATE)
        self.path = f"{root}/spans"
        _write_parquet(spans, self.path, SPAN_TABLE, files=4 * self.slots)
        self._expected = None
        self._checksum = None  # of the first pass; every later pass must match
        self._sample_checked = False

    def run_pass(self, tr, out_dir: str) -> PassOut:
        docs = self.spark.read.parquet(self.path)
        ex = tr.call(
            "operators.extract.extract_pipeline", extract_pipeline, docs, materialize=True
        )
        row = tr.call(
            "operators.extract.lineage_global", lambda: lineage_global(ex).collect()[0]
        )
        return PassOut((row.doc_count, row.span_count, row.checksum))

    def expected(self):
        """Pure-Python chain (synth.make_spans → kernel extract_document):
        doc and span counts, and a seeded sample extracted row for row."""
        if self._expected is None:
            docs = _spans_of(self.flat, self.REPLICATE)
            outs = [(did, extract_document(spans)) for did, spans in docs]
            rng = np.random.default_rng(self.seed + 7)
            pick = sorted(rng.choice(len(docs), self.SAMPLE, replace=False).tolist())
            # always include the first mega-doc
            mega = next(i for i, (did, _) in enumerate(docs) if int(did[4:]) % synth.MEGA_MOD == 13)
            pick = sorted(set(pick) | {mega})
            sample = {
                outs[i][0]: [(o["kind"], o["text"], o["media_ref"], o["offset"]) for o in outs[i][1]]
                for i in pick
            }
            self._expected = (
                sum(1 for _, o in outs if o),
                sum(len(o) for _, o in outs),
                sample,
                span_sizes(docs),
            )
        return self._expected

    def check(self, out: PassOut, out_dir: str) -> list[str]:
        n_docs, n_spans, sample, _ = self.expected()
        errs = []
        doc_count, span_count, checksum = out.result
        if (doc_count, span_count) != (n_docs, n_spans):
            errs.append(f"lineage {(doc_count, span_count)} != pure-Python {(n_docs, n_spans)}")
        if self._checksum is None:
            self._checksum = checksum
        elif checksum != self._checksum:
            errs.append("lineage checksum differs between passes")
        if not self._sample_checked:
            docs = self.spark.read.parquet(self.path).where(F.col("doc_id").isin(list(sample)))
            got: dict[str, list] = {d: [] for d in sample}
            for r in extract_pipeline(docs).collect():
                got[r.doc_id].append((r.kind, r.text, r.media_ref, r.offset))
            bad = [d for d in sample if sorted(got[d], key=lambda x: x[3]) != sample[d]]
            if bad:
                errs.append(f"sample docs differ from the pure-Python chain: {bad[:3]}")
            self._sample_checked = True
        return errs

    def sizes(self) -> dict:
        return self.expected()[3]

    def kernel_docs(self) -> list[list[dict]]:
        return [s for _, s in _spans_of(self.flat, self.REPLICATE)]


# -- resume_increments --------------------------------------------------------


class ResumeIncrements(Workload):
    """Fresh SnapshotTable per pass, then a seeded sequence of increments,
    each re-sending a fixed share of already-committed doc_ids, through
    process_increment; the pass ends with read_committed."""

    name = "resume_increments"
    INCREMENTS = 3
    NEW_PER_INCREMENT = 250
    RESEND_PER_INCREMENT = 60  # from the second increment on
    docs_per_pass = INCREMENTS * NEW_PER_INCREMENT

    def generate(self, root: str, seed: int) -> None:
        rng = np.random.default_rng(seed + 3)
        flat = inputs.flat_documents(seed, self.docs_per_pass)
        pdf = synth.make_documents_pdf(flat)
        order = rng.permutation(len(pdf))
        self.increments = []  # (path, new ids, resent ids)
        for j in range(self.INCREMENTS):
            new = order[j * self.NEW_PER_INCREMENT : (j + 1) * self.NEW_PER_INCREMENT]
            resent = (
                rng.choice(order[: j * self.NEW_PER_INCREMENT], self.RESEND_PER_INCREMENT, replace=False)
                if j
                else np.array([], dtype=int)
            )
            rows = pdf.iloc[np.concatenate([new, resent])]
            path = f"{root}/increments/{j:03d}"
            _write_parquet(rows, path, SPAN_TABLE)
            self.increments.append(
                (path, set(pdf["doc_id"].iloc[new]), set(pdf["doc_id"].iloc[resent]))
            )
        self.pdf = pdf
        self._expected = None

    def run_pass(self, tr, out_dir: str) -> PassOut:
        table = SnapshotTable(self.spark, f"{out_dir}/table")
        if tr.enabled:
            # route the calls process_increment makes through the tracer: the
            # table's methods on this instance, extract_pipeline through the
            # module global it is looked up in (restored below)
            for m in ("commit", "resume_filter", "latest"):
                setattr(table, m, _traced(tr, f"sources.tables.{m}", getattr(table, m)))
            incremental.extract_pipeline = _traced(
                tr, "operators.extract.extract_pipeline", extract_pipeline, materialize=True
            )
        out = PassOut()
        rows = []
        try:
            for path, _, _ in self.increments:
                t0 = time.perf_counter()
                rows.append(
                    tr.call(
                        "streaming.incremental.process_increment",
                        incremental.process_increment,
                        self.spark.read.parquet(path),
                        table,
                        self.slots,
                    )
                )
                out.batches.append(time.perf_counter() - t0)
        finally:
            incremental.extract_pipeline = extract_pipeline
        total = tr.call("sources.tables.read_committed", lambda: table.read_committed().count())
        out.result = (rows, total, table)
        return out

    def expected(self):
        if self._expected is None:
            n = {d: len(extract_document(s)) for d, s in zip(self.pdf["doc_id"], self.pdf["spans"])}
            self._expected = (
                [sum(n[d] for d in new) for _, new, _ in self.increments],
                sum(n.values()),
            )
        return self._expected

    def trace_counts(self, out: PassOut, out_dir: str) -> dict:
        rows, _, table = out.result
        files, size = dir_size(f"{out_dir}/table")
        return {
            "tables.snapshots": len(table.snapshots()),
            "tables.files_written": files,
            "tables.mb_written": size / 2**20,
            "tables.resend_dropped_ratio": self.resend_dropped_ratio(table),
            "incremental.rows_committed": sum(rows),
        }

    def kernel_docs(self) -> list[list[dict]]:
        return list(self.pdf["spans"])

    def resend_dropped_ratio(self, table) -> float:
        """Share of re-sent docs the resume filter dropped, from the keys each
        snapshot committed (filesystem listing + parquet footers)."""
        resent = dropped = 0
        for snap, (_, new, again) in zip(table.snapshots(), self.increments):
            keys = pq.ParquetDataset(snap["keys_dir"].removeprefix("file:")).read().num_rows
            resent += len(again)
            dropped += len(again) - (keys - len(new))
        return dropped / resent if resent else 1.0

    def check(self, out: PassOut, out_dir: str) -> list[str]:
        per_inc, total = self.expected()
        rows, committed, table = out.result
        errs = []
        if rows != per_inc:
            errs.append(f"rows per increment {rows} != new docs' spans {per_inc}")
        if committed != total or sum(rows) != total:
            errs.append(f"committed {committed} / Σn_rows {sum(rows)} != one-shot extraction {total}")
        keys = {r.doc_id for r in table.committed_keys("doc_id").collect()}
        sent = set().union(*(new | again for _, new, again in self.increments))
        if keys != sent:
            errs.append(f"committed keys ({len(keys)}) != unique doc_ids sent ({len(sent)})")
        if self.resend_dropped_ratio(table) != 1.0:
            errs.append("re-sent docs were committed again")
        return errs

    def sizes(self) -> dict:
        return span_sizes(list(zip(self.pdf["doc_id"], self.pdf["spans"])))


def _traced(tr, name, fn, materialize=False):
    def wrapper(*args, **kwargs):
        return tr.call(name, fn, *args, materialize=materialize, **kwargs)

    return wrapper


WORKLOADS = {w.name: w for w in (ExtractBatch, ResumeIncrements)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)

